package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Preprocessing, Tables}
import graft.enrich.Geocode
import graft.ingest.{LinkState, ScrapeParse, Sitemap}
import graft.io.{Commit, ExportCsv}
import graft.ml.Models
import graft.ops.Snapshot

/** The four DAG tasks of the reference's Airflow pipeline
  * (/root/reference/docker-airflow/dags/airflow_auto_model.py:23-47), each as
  * a spark-submit-able main — the DAG stays four BashOperators calling
  * `spark-submit --class graft.jobs.<Job>` (SURVEY §3.4; see
  * airflow/immo_pipeline_dag.py in this repo).
  *
  * Every job is idempotent (safe under Airflow catchup replays): reads are
  * snapshots, and every write commits through [[graft.io.Commit]]: an atomic
  * overwrite or a deduplicated staged append.
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
    // Commit.exists first recovers a previous run's interrupted swap, which
    // leaves the target missing; without that the fallback below would
    // silently rebuild the links store from this run's snapshot alone.
    val links0 =
      if (Commit.exists(spark, linksDir)) spark.read.parquet(linksDir)
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
      // id is the natural key link_id, the store's INSERT-OR-IGNORE key:
      // unique and stable under replay, so the store carries all of
      // Schemas.properties' columns and ExportJob can read it
      val okRows = parsed.filter(col("ok"))
        .withColumn("id", col("link_id"))
        .withColumn("scraped_at", lit(now))
        .select(graft.schema.Schemas.properties.fieldNames.map(col): _*)
      Commit.append(spark, okRows, propertiesDir, "link_id")
      val links2 = LinkState.applyScrapeResults(
        links1, parsed.select("url", "ok"), now)
      Commit.overwrite(spark, linksDir)(links2.write.parquet(_))
    } finally {
      parsed.unpersist(blocking = false)
      Snapshot.release(links1)
      Snapshot.release(snapshot)
    }
  }

  /** Side-effecting I/O belongs in mapPartitions, not a per-row UDF
    * (SURVEY §2.10): the fetcher deserializes ONCE PER PARTITION, so an
    * implementation holding a keep-alive HTTP client gets connection reuse
    * across the partition's URLs — each of the 20 partitions fetches
    * sequentially, mirroring the reference's 20-worker pool (scraper.py:327)
    * with one in-flight request per worker.
    */
  private[jobs] def fetchPages(pending: DataFrame, fetcher: Sitemap.Fetcher): DataFrame = {
    val spark = pending.sparkSession
    import spark.implicits._
    pending.select("url").as[String]
      .mapPartitions(_.map(u => (u, fetcher.fetch(u))))
      .toDF("url", "html")
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
    if (Commit.exists(spark, linksDir)) {
      val links = spark.read.parquet(linksDir)
      val expected = graft.schema.Schemas.links.fieldNames.toSet
      val missing = expected -- links.columns.toSet
      require(missing.isEmpty, s"links store lacks columns: $missing")
      val nLinks = links.count()
      val propsPresent = Commit.exists(spark, propertiesDir)
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
    Commit.overwrite(spark, csvOut)(ExportCsv.write(spark.read.parquet(propertiesDir), _))
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
    require(Commit.exists(spark, csvIn), s"no export at $csvIn")
    val export = ExportCsv.read(spark, csvIn)
    val cache =
      if (Commit.exists(spark, cacheDir)) spark.read.parquet(cacheDir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Geocode.cacheSchema)
    val out = Preprocessing.run(export, cache)
    Commit.overwrite(spark, s"$outDir/clean.parquet")(out.write.parquet(_))
    Commit.overwrite(spark, s"$outDir/clean_csv")(
      out.coalesce(1).write.option("header", "true").csv(_))
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
    Commit.overwrite(spark, s"$modelOut/leaderboard")(
      Models.leaderboard(spark, all).coalesce(1).write.option("header", "true").csv(_))
    // winner.model is the full-data refit (project.py:302-310); also emit the
    // sample predictions-vs-actual report (project.py:284-297)
    Commit.overwrite(spark, s"$modelOut/sample_predictions")(
      Models.samplePredictions(winner.model, df, "Price")
        .coalesce(1).write.option("header", "true").csv(_))
    Commit.overwrite(spark, s"$modelOut/best_model")(winner.model.write.save(_))
  }
}
