package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Preprocessing, Tables}
import graft.enrich.Geocode
import graft.ingest.{LinkState, ScrapeParse, Sitemap}
import graft.io.ExportCsv
import graft.ml.Models
import graft.ops.Snapshot

/** The four DAG tasks of the reference's Airflow pipeline
  * (/root/reference/docker-airflow/dags/airflow_auto_model.py:23-47), each as
  * a spark-submit-able main — the DAG stays four BashOperators calling
  * `spark-submit --class graft.jobs.<Job>` (SURVEY §3.4; see
  * airflow/immo_pipeline_dag.py in this repo).
  *
  * Every job is idempotent (safe under Airflow catchup replays): reads are
  * snapshots, writes are overwrite-by-path or a deduplicated staged append.
  */
object JobSession {
  /** The one session factory (mains, Bench, Verify, dev tools, the test
    * session): master `SPARK_MASTER` else `local[cpus]`, shuffle partitions
    * = `cpus` (`SPARK_GRAFT_CPUS`, else every core), UTC, ns parquet
    * timestamps as longs. AQE is a Spark default; the UI is off by launcher
    * option (build.sbt's javaOptions, spark-submit). */
  def build(appName: String,
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()

  /** A main's whole life: build the session, run `body`, and stop the
    * session whether `body` succeeds or fails.
    */
  def run(appName: String)(body: SparkSession => Unit): Unit = {
    val spark = build(appName)
    try body(spark) finally spark.stop()
  }
}

/** Task 1 — scrape: sitemap snapshot → link diff → scrape pending → parse →
  * properties append + link status update.
  * Args: linksDir propertiesDir sitemapIndexUrl
  */
object ScrapeJob {
  /** spark-submit entrypoint (the DAG's run_scraper task and the scheduled
    * workflow): live HTTP fetcher, wall-clock snapshot time. Everything
    * else in the repo injects a canned fetcher + fixed timestamp — this is
    * the one production wiring. */
  def main(args: Array[String]): Unit = {
    val Array(linksDir, propertiesDir, indexXml) = args.take(3)
    JobSession.run("graft-scrape")(run(_, linksDir, propertiesDir, indexXml,
      new Sitemap.HttpFetcher(),
      new java.sql.Timestamp(System.currentTimeMillis())))
  }

  def run(spark: SparkSession, linksDir: String, propertiesDir: String,
      indexXml: String, fetcher: Sitemap.Fetcher,
      now: java.sql.Timestamp): Unit = {
    // A crash inside a previous run's overwriteAtomic swap window leaves the
    // target missing with the data parked at __tmp/__old; without this
    // roll-forward/back the fallback below would silently rebuild the links
    // store from this run's snapshot alone.
    recoverAtomic(spark, linksDir)
    val links0 =
      if (pathExists(spark, linksDir)) spark.read.parquet(linksDir)
      else LinkState.emptyLinks(spark)
    // Both sinks read the link diff (pending URLs, then the status
    // update): snapshot the sitemap URL set and the diff so each
    // sub-sitemap is fetched, and the diff computed, once per run.
    val snapshot = Snapshot.eager(Sitemap.listingUrls(spark, indexXml, fetcher))
    val links1 = Snapshot.eager(LinkState.applySnapshot(links0, snapshot, now))

    val pending = LinkState.pending(links1)
      .repartition(20) // the reference's max_workers=20 (scraper.py:327)
    val pages = fetchPages(pending, fetcher)
    // The fetch feeds TWO sinks (properties append + link status update);
    // persist so each pending URL is fetched exactly once per run — the
    // first action materializes the fetched pages, the second reads the
    // cached partitions.
    val parsed = ScrapeParse.parseScrapedPages(pages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val okRows = parsed.filter(col("ok")).drop("ok", "url")
        .withColumn("scraped_at", lit(now))
      appendDedup(spark, okRows, propertiesDir, "link_id")
      val links2 = LinkState.applyScrapeResults(
        links1, parsed.select("url", "ok"), now)
      overwriteAtomic(spark, links2, linksDir)
    } finally {
      parsed.unpersist(blocking = false)
      Snapshot.release(links1)
      Snapshot.release(snapshot)
    }
  }

  /** Side-effecting I/O belongs in mapPartitions, not a per-row UDF
    * (SURVEY §2.10): the fetcher deserializes ONCE PER PARTITION, so an
    * implementation holding a keep-alive HTTP client gets connection reuse
    * across the partition's URLs, and the partition is a natural rate-limit
    * scope — each of the 20 partitions fetches sequentially with an optional
    * minimum interval, mirroring the reference's 20-worker pool
    * (scraper.py:327) with one in-flight request per worker.
    */
  private[jobs] def fetchPages(pending: DataFrame, fetcher: Sitemap.Fetcher,
      minIntervalMs: Long = 0L): DataFrame = {
    val spark = pending.sparkSession
    import spark.implicits._
    pending.select("url").as[String].mapPartitions { urls =>
      var lastAt = 0L
      urls.map { u =>
        if (minIntervalMs > 0) {
          val wait = lastAt + minIntervalMs - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          lastAt = System.currentTimeMillis()
        }
        (u, fetcher.fetch(u))
      }
    }.toDF("url", "html")
  }

  private def hadoopFs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hadoop FileSystem, not java.io.File — works on HDFS/S3A/local alike. */
  private[graft] def pathExists(spark: SparkSession, p: String): Boolean =
    hadoopFs(spark, p).exists(new Path(p))

  /** INSERT OR IGNORE (SURVEY §2.1 S12): append the batch's rows whose
    * `key` the store lacks, and leave every stored file untouched, so a
    * week costs the week, not the store. Only the stored key column is
    * read (the anti-join's build side).
    *
    * Staged append — the rows are committed in three steps:
    *
    *   1. write them complete to `dir__append` in overwrite mode (complete
    *      iff its `_SUCCESS` marker exists);
    *   2. rename each data file into `dir` (or, when no store exists yet,
    *      the whole staging dir to `dir`: the first commit is one rename);
    *   3. delete `dir__append`.
    *
    * A crash in any step, then a replay of the same batch, converges on the
    * uncrashed table: files already renamed into `dir` are seen by the
    * replay's anti-join, and the rest are rewritten in staging. Staging
    * outside `dir` matters: an append job writing straight into `dir`
    * stages under `dir/_temporary`, whose committed task output a later
    * append's job commit can merge, duplicating keys. A replay that finds
    * no new rows changes no data file.
    *
    * The batch must carry the store's column names and types (nullability
    * aside): one parquet dir holds one schema, since readers take it from
    * one file's footer. A mismatch throws before any file is written.
    */
  private[graft] def appendDedup(spark: SparkSession, rows: DataFrame,
      dir: String, key: String): Unit = {
    // a store written by the former overwrite may be mid-swap: restore it
    // before the exists check
    recoverAtomic(spark, dir)
    val fs = hadoopFs(spark, dir)
    val target = new Path(dir)
    val stage = new Path(dir + "__append")
    val stored = fs.exists(target)
    val fresh =
      if (stored) {
        val existing = spark.read.parquet(dir)
        requireSameSchema(rows, existing, dir)
        rows.join(existing.select(key), Seq(key), "left_anti")
          .select(existing.columns.map(col): _*)
      } else rows
    val written = Observation()
    // rebalance, not coalesce: coalesce would pull the fetch stage upstream
    // into one task; AQE sizes the rebalanced output, one file for a week
    fresh.hint("rebalance").observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(stage.toString)
    val newRows = written.get("rows").asInstanceOf[Long]
    if (!stored) rename(fs, stage, target)
    else {
      if (newRows > 0) fs.listStatus(stage).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .foreach(p => rename(fs, p, new Path(target, p.getName)))
      fs.delete(stage, true)
    }
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")

  /** Throw, naming every difference, unless `batch` has `store`'s column
    * names and types (nullability aside). */
  private def requireSameSchema(batch: DataFrame, store: DataFrame, dir: String): Unit = {
    def types(df: DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val (b, s) = (types(batch), types(store))
    val diffs = (b.keySet -- s.keySet).toSeq.sorted.map(c => s"$c only in the batch") ++
      (s.keySet -- b.keySet).toSeq.sorted.map(c => s"$c only in the store") ++
      (b.keySet & s.keySet).toSeq.sorted.filter(c => b(c) != s(c))
        .map(c => s"$c is ${b(c)} in the batch, ${s(c)} in the store")
    if (diffs.nonEmpty)
      throw new IllegalArgumentException(
        s"batch schema differs from the store at $dir: ${diffs.mkString("; ")}")
  }

  /** Overwrite via temp-dir swap (parquet overwrite of a dir being read),
    * through the Hadoop FileSystem API so the swap works on HDFS/S3A too
    * (java.io.File rename silently no-ops on non-local storage).
    *
    * Crash-safe commit protocol — at no instant is the committed state
    * unrecoverable (the old delete-then-rename left a window where a crash
    * lost the target entirely, and a replayed batch would then silently
    * rebuild the store from the batch alone):
    *
    *   1. write `dir__tmp` (complete iff its `_SUCCESS` marker exists);
    *   2. rename `dir` -> `dir__old` (previous state set aside, not deleted);
    *   3. rename `dir__tmp` -> `dir` (the commit point);
    *   4. delete `dir__old`.
    *
    * [[recoverAtomic]] rolls any crash window forward/backward: a missing
    * target with a _SUCCESS-complete tmp rolls FORWARD (the write finished,
    * only the swap was interrupted); otherwise `dir__old` rolls BACK.
    */
  private[graft] def overwriteAtomic(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    val fs = hadoopFs(spark, dir)
    val target = new Path(dir)
    val tmp = new Path(dir + "__tmp")
    val old = new Path(dir + "__old")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true) // stale set-aside from a crash after step 3
    if (fs.exists(target)) rename(fs, target, old)
    rename(fs, tmp, target)
    fs.delete(old, true)
  }

  /** Recover `dir` after a crash mid-[[overwriteAtomic]]. Idempotent and a
    * no-op when the target exists; call before READING a dir that an
    * atomic-overwrite writer owns (UpsertSink does, each batch).
    */
  private[graft] def recoverAtomic(spark: SparkSession, dir: String): Unit = {
    val fs = hadoopFs(spark, dir)
    val target = new Path(dir)
    if (fs.exists(target)) return
    val tmp = new Path(dir + "__tmp")
    val old = new Path(dir + "__old")
    val tmpComplete = fs.exists(new Path(tmp, "_SUCCESS"))
    if (tmpComplete) { // crash between steps 2 and 3: roll the commit forward
      rename(fs, tmp, target)
      fs.delete(old, true)
    } else if (fs.exists(old)) { // crash mid-step-1 write after a prior set-aside
      rename(fs, old, target)
      fs.delete(tmp, true)
    }
    // neither: the dir never existed — nothing to recover
  }
}

/** Scheduled-smoke pre-flight — the analog of the reference's cron workflow
  * asserts (/root/reference/.github/workflows/run-scraper.yml:21-43 verifies
  * the assets dir and the SQLite file before running the scraper): verify
  * both stores exist and parse, and that the links store carries the declared
  * schema, exiting non-zero otherwise so the scheduler skips the scrape run.
  */
object PreflightJob {
  def main(args: Array[String]): Unit = {
    val Array(linksDir, propertiesDir) = args.take(2)
    JobSession.run("graft-preflight")(run(_, linksDir, propertiesDir))
  }

  def run(spark: SparkSession, linksDir: String, propertiesDir: String): Unit = {
    // An ABSENT store is a valid bootstrap state — ScrapeJob creates it on
    // first run (Jobs.scala links0 fallback), so failing here would deadlock
    // the DAG forever on a fresh deployment. What preflight guards against is
    // a PRESENT-but-corrupt/misshapen store, which would make the scrape
    // write garbage on top of garbage. (The reference could hard-require its
    // store because the SQLite file ships committed in the repo.)
    if (ScrapeJob.pathExists(spark, linksDir)) {
      val links = spark.read.parquet(linksDir)
      val expected = graft.schema.Schemas.links.fieldNames.toSet
      val missing = expected -- links.columns.toSet
      require(missing.isEmpty, s"links store lacks columns: $missing")
      val nLinks = links.count()
      val propsPresent = ScrapeJob.pathExists(spark, propertiesDir)
      val nProps = if (propsPresent) spark.read.parquet(propertiesDir).count() else 0L
      println(s"preflight ok: links=$nLinks properties=$nProps (store present=$propsPresent)")
    } else {
      println(s"preflight ok: links store absent (bootstrap run) at $linksDir")
    }
  }
}

/** Task 2 — export: properties table → 26-column interchange CSV. */
object ExportJob {
  def main(args: Array[String]): Unit = {
    val Array(propertiesDir, csvOut) = args.take(2)
    JobSession.run("graft-export")(run(_, propertiesDir, csvOut))
  }

  def run(spark: SparkSession, propertiesDir: String, csvOut: String): Unit =
    ExportCsv.write(spark.read.parquet(propertiesDir), csvOut)
}

/** Task 3 — preprocess: export CSV → cleaned/enriched/encoded parquet+csv.
  * `Preprocessing.run` returns a materialized snapshot, so the two writes
  * are two copies of one computation of the chain.
  */
object PreprocessJob {
  def main(args: Array[String]): Unit = {
    val Array(csvIn, cacheDir, outDir) = args.take(3)
    JobSession.run("graft-preprocess")(run(_, csvIn, cacheDir, outDir))
  }

  def run(spark: SparkSession, csvIn: String, cacheDir: String, outDir: String): Unit = {
    val export = ExportCsv.read(spark, csvIn)
    val cache =
      if (ScrapeJob.pathExists(spark, cacheDir)) spark.read.parquet(cacheDir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Geocode.cacheSchema)
    val out = Preprocessing.run(export, cache)
    out.write.mode("overwrite").parquet(s"$outDir/clean.parquet")
    out.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/clean_csv")
  }
}

/** Task 4 — model selection: cleaned parquet → leaderboard + saved best model. */
object ModelJob {
  def main(args: Array[String]): Unit = {
    val Array(cleanDir, modelOut) = args.take(2)
    JobSession.run("graft-model")(run(_, cleanDir, modelOut))
  }

  def run(spark: SparkSession, cleanDir: String, modelOut: String): Unit = {
    val df = spark.read.parquet(s"$cleanDir/clean.parquet")
      .drop("price_per_sqm", "price_per_sqm_land", "epc", "Postal_code") // P10
    val features = Models.selectFeaturesByCorrelation(df, "Price")
    require(features.nonEmpty,
      "no feature passes the |corr| >= 0.1 gate against target column Price " +
        s"in $cleanDir/clean.parquet; nothing to train on")
    val (winner, all) = Models.selectBestModel(df, features, "Price")
    Models.leaderboard(spark, all)
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$modelOut/leaderboard")
    // winner.model is the full-data refit (project.py:302-310); also emit the
    // sample predictions-vs-actual report (project.py:284-297)
    Models.samplePredictions(winner.model, df, "Price")
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$modelOut/sample_predictions")
    winner.model.write.overwrite().save(s"$modelOut/best_model")
  }
}
