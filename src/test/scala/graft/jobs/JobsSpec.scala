package graft.jobs

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{Commit, CrashingFs}
import graft.io.CommitSpec.files

class JobsSpec extends SparkSpec {
  import spark.implicits._

  test("S12: appendDedup is an idempotent INSERT-OR-IGNORE (dedup-then-union)") {
    val dir = java.nio.file.Files.createTempDirectory("props").toString + "/t"
    val a = Seq((1L, "x"), (2L, "y")).toDF("link_id", "v")
    Commit.append(spark, a, dir, "link_id")
    // second batch overlaps on key 2 — existing row wins, only key 3 appends
    val b = Seq((2L, "y2"), (3L, "z")).toDF("link_id", "v")
    Commit.append(spark, b, dir, "link_id")
    val got = spark.read.parquet(dir).orderBy("link_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "x"), (2L, "y"), (3L, "z")))
    // replaying the same batch is a no-op: not one data file changes
    val before = files(dir)
    Commit.append(spark, b, dir, "link_id")
    assert(spark.read.parquet(dir).count() == 3)
    assert(files(dir) == before)
  }

  private def table(dir: String): Seq[(Long, String)] =
    spark.read.parquet(dir).as[(Long, String)].collect().toSeq.sorted

  private val week1 = Seq((1L, "x"), (2L, "y"))
  private val week2 = Seq((2L, "y2"), (3L, "z"), (4L, "w"), (5L, "v"))
  private val uncrashed = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w"), (5L, "v"))

  test("appendDedup writes only the new rows: every stored file is left as it was") {
    val dir = java.nio.file.Files.createTempDirectory("props_append").toString + "/t"
    Commit.append(spark, week1.toDF("link_id", "v"), dir, "link_id")
    val before = files(dir)
    Commit.append(spark, week2.toDF("link_id", "v"), dir, "link_id")
    val after = files(dir)
    assert(before.forall { case (n, sha) => after.get(n).contains(sha) })
    assert(after.size > before.size)
    assert(table(dir) == uncrashed)
    assert(!new java.io.File(dir + "__append").exists())
  }

  test("appendDedup of an empty batch: the first run creates the store with " +
      "the batch's schema, a later one changes no file") {
    val dir = java.nio.file.Files.createTempDirectory("props_empty").toString + "/t"
    val empty = Seq.empty[(Long, String)].toDF("link_id", "v")
    Commit.append(spark, empty, dir, "link_id")
    assert(spark.read.parquet(dir).columns.toSeq == Seq("link_id", "v"))
    assert(table(dir).isEmpty)
    Commit.append(spark, week1.toDF("link_id", "v"), dir, "link_id")
    val before = files(dir)
    Commit.append(spark, empty, dir, "link_id")
    assert(files(dir) == before)
    assert(table(dir) == week1)
  }

  /** The staged append crashed in state `crash` (given the store dir and
    * its staging dir, holding week 1), then week 2 is replayed. */
  private def crashThenReplay(crash: (String, String) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("props_staged").toString + "/t"
    Commit.append(spark, week1.toDF("link_id", "v"), dir, "link_id")
    crash(dir, dir + "__append")
    Commit.append(spark, week2.toDF("link_id", "v"), dir, "link_id")
    val got = table(dir) // sorted rows: a duplicate link_id or a lost row shows
    assert(got == uncrashed, s"replay after the crash gave $got")
    assert(!new java.io.File(dir + "__append").exists())
  }

  /** Week 2's new rows as step 1 stages them, in two data files. */
  private def stageWeek2(stage: String): Unit = {
    Seq((3L, "z")).toDF("link_id", "v").write.mode("overwrite").parquet(stage)
    Seq((4L, "w"), (5L, "v")).toDF("link_id", "v").write.mode("append").parquet(stage)
  }

  test("staged append, crash mid-write (no _SUCCESS): the replay converges") {
    crashThenReplay { (_, stage) =>
      Seq((3L, "z")).toDF("link_id", "v").write.parquet(stage)
      assert(new java.io.File(stage, "_SUCCESS").delete())
    }
  }

  test("staged append, crash after the write, before any rename: the replay converges") {
    crashThenReplay((_, stage) => stageWeek2(stage))
  }

  test("staged append, crash after some renames: the replay converges") {
    crashThenReplay { (dir, stage) =>
      stageWeek2(stage)
      val first = files(stage).keySet.filter(_.startsWith("part-")).min
      assert(new java.io.File(stage, first).renameTo(new java.io.File(dir, first)))
    }
  }

  test("appendDedup refuses a batch whose schema differs from the store's, " +
      "before writing any file") {
    val dir = java.nio.file.Files.createTempDirectory("props_schema").toString + "/t"
    Commit.append(spark, week1.toDF("link_id", "v"), dir, "link_id")
    val before = files(dir)
    val extra = intercept[IllegalArgumentException] {
      Commit.append(spark, Seq((3L, "z", 1.0)).toDF("link_id", "v", "extra"),
        dir, "link_id")
    }
    assert(extra.getMessage.contains("extra only in the batch"), extra.getMessage)
    val retyped = intercept[IllegalArgumentException] {
      Commit.append(spark, Seq((3L, 7)).toDF("link_id", "v"), dir, "link_id")
    }
    assert(retyped.getMessage.contains("v is int in the batch, string in the store"),
      retyped.getMessage)
    assert(files(dir) == before)
    assert(!new java.io.File(dir + "__append").exists())
  }

  test("appendDedup after a crashed swap window: store recovered, not " +
      "silently rebuilt from the batch alone") {
    val dir = java.nio.file.Files.createTempDirectory("props_crash").toString + "/t"
    Commit.append(spark, Seq((1L, "x"), (2L, "y")).toDF("link_id", "v"),
      dir, "link_id")
    // simulate a crash between Commit.overwrite steps 2 and 3: target renamed
    // aside, the next state complete at __tmp
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("link_id", "v")
      .write.parquet(dir + "__tmp")
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old")))
    // a replayed append must roll the commit forward FIRST — merging against
    // the 3-row recovered store, not rebuilding from this 1-row batch
    Commit.append(spark, Seq((4L, "w")).toDF("link_id", "v"),
      dir, "link_id")
    val got = spark.read.parquet(dir).orderBy("link_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w")),
      s"crashed swap lost rows: $got")
  }

  test("overwriteAtomic swaps the directory without partial states") {
    val dir = java.nio.file.Files.createTempDirectory("ow").toString + "/t"
    Commit.overwrite(spark, dir)(Seq(1, 2, 3).toDF("v").write.parquet(_))
    assert(spark.read.parquet(dir).count() == 3)
    Commit.overwrite(spark, dir)(Seq(4).toDF("v").write.parquet(_))
    assert(spark.read.parquet(dir).as[Int].collect().toSeq == Seq(4))
  }

  private def subUrl(k: Int) = s"https://x.be/sitemap-classified-$k.xml"
  private def listingUrl(i: Int) =
    s"https://www.immoweb.be/en/classified/house/for-sale/gent/9000/${20000000 + i}"

  /** Listing i's URL and page: a house whose price follows its living area,
    * at an address no other listing has. `valid = false` leaves EPC and kWh
    * null, which the scrape's validation rejects. */
  private def listing(i: Int, valid: Boolean = true): (String, String) = {
    val area = 80 + 7 * i
    val (epc, kwh) = if (valid) (s""""${Seq("A", "B", "C", "D")(i % 4)}"""", s"${150 + i}")
      else ("null", "null")
    listingUrl(i) -> s"""<html><script>window.classified = {"property":{"type":"HOUSE",
      "subtype":"VILLA","bedroomCount":${2 + i % 4},"netHabitableSurface":$area,
      "fireplaceExists":${i % 2 == 0},"hasSwimmingPool":false,"hasTerrace":true,
      "terraceSurface":${10 + i},"hasGarden":true,"gardenSurface":${50 + i},
      "location":{"locality":"Gent","postalCode":"9000","street":"Straat $i",
        "number":"$i","latitude":${51.0 + i * 0.001},"longitude":${3.7 + i * 0.001}},
      "kitchen":{"type":"INSTALLED"},"building":{"facadeCount":${2 + i % 3},
        "condition":"${Seq("GOOD", "AS_NEW", "TO_RESTORE", "JUST_RENOVATED")(i % 4)}",
        "constructionYear":${1950 + i}},"land":{"surface":${200 + 13 * i}}},
      "transaction":{"sale":{"price":${2000 * area + (i % 5) * 3000}},
        "certificates":{"epcScore":$epc,"primaryEnergyConsumptionPerSqm":$kwh}}};
      </script></html>"""
  }

  /** A canned site: the sitemap index over `subs`, and every body a scrape
    * fetches, by URL: each sub-sitemap, listing its pages, and each page. */
  private def site(subs: Seq[(String, Seq[(String, String)])]): (String, Map[String, String]) = {
    val index = subs.map(s => s"<sitemap><loc>${s._1}</loc></sitemap>")
      .mkString("<sitemapindex>", "", "</sitemapindex>")
    val sitemaps = subs.map { case (sub, pages) => sub -> pages.map(p =>
      s"""<url><xhtml:link rel="alternate" hreflang="en-BE" href="${p._1}"/></url>""")
      .mkString("<urlset>", "", "</urlset>") }
    (index, (sitemaps ++ subs.flatMap(_._2)).toMap)
  }

  test("ScrapeJob.run end-to-end: snapshot -> scrape -> properties + link statuses") {
    val base = java.nio.file.Files.createTempDirectory("scrape").toString
    val (linksDir, propsDir) = (s"$base/links", s"$base/properties")
    val (index, bodies) = site(Seq(subUrl(1) -> Seq(listing(1), listing(2, valid = false))))
    val now = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    ScrapeJob.run(spark, linksDir, propsDir, index, new UrlCountingFetcher(bodies), now)
    val links = spark.read.parquet(linksDir)
    val st = links.select("url", "status").as[(String, String)].collect().toMap
    assert(st(listingUrl(1)) == "scraped" && st(listingUrl(2)) == "error")
    val props = spark.read.parquet(propsDir)
    assert(props.count() == 1)
    val row = props.head()
    assert(row.getAs[Long]("link_id") == 20000001L)
    assert(row.getAs[String]("epc") == "B")
    // re-run with the same snapshot: idempotent (no property dup, statuses keep)
    ScrapeJob.run(spark, linksDir, propsDir, index, new UrlCountingFetcher(bodies), now)
    assert(spark.read.parquet(propsDir).count() == 1)
  }

  test("ScrapeJob.run fetches each sub-sitemap and each pending page exactly once") {
    val base = java.nio.file.Files.createTempDirectory("scrape_once").toString
    val (index, bodies) = site((1 to 3).map(k => subUrl(k) -> (1 to 4).map(j => listing(10 * k + j))))
    val fetcher = new UrlCountingFetcher(bodies)
    ScrapeJob.run(spark, s"$base/links", s"$base/properties", index, fetcher,
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    assert(fetcher.counts == bodies.keySet.map(_ -> 1).toMap)
    assert(spark.read.parquet(s"$base/properties").count() == 12)
  }

  test("fetchPages: mapPartitions fetch covers every URL across partitions " +
      "and fetches each exactly once per action") {
    val urls = (1 to 50).map(i => s"https://x.be/p/$i")
    val fetcher = new UrlCountingFetcher(urls.map(u => u -> s"body:$u").toMap)
    val pages = ScrapeJob.fetchPages(urls.toDF("url").repartition(8), fetcher)
    val got = pages.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 50)
    assert(got("https://x.be/p/7") == "body:https://x.be/p/7")
    // one action -> each URL fetched exactly once (across 8 partitions)
    assert(fetcher.counts == urls.map(_ -> 1).toMap)
  }

  test("PreflightJob: bootstrap (absent store) and valid store pass; " +
      "misshapen store refuses") {
    val base = java.nio.file.Files.createTempDirectory("preflight").toString
    val (linksDir, propsDir) = (s"$base/links", s"$base/properties")
    // absent store is the bootstrap state — ScrapeJob creates it, so
    // preflight must NOT block the first scheduled run
    PreflightJob.run(spark, linksDir, propsDir)
    // valid store -> ok (properties absent is allowed: first run has none)
    Commit.overwrite(spark, linksDir)(
      graft.ingest.LinkState.emptyLinks(spark).write.parquet(_))
    PreflightJob.run(spark, linksDir, propsDir)
    // present-but-misshapen store -> refuse
    Commit.overwrite(spark, linksDir)(Seq((1L, "x")).toDF("id", "whatever").write.parquet(_))
    intercept[IllegalArgumentException] {
      PreflightJob.run(spark, linksDir, propsDir)
    }
  }

  /** A small properties store in the declared shape: mostly houses around
    * Ghent with prices that follow living area, plus apartments (dropped by
    * the House filter), a duplicate address and rare state/epc values.
    */
  private def propertiesFixture: org.apache.spark.sql.DataFrame = {
    val rows = (0 until 60).map { i =>
      val subtype = Seq("HOUSE", "VILLA", "HOUSE", "APARTMENT", "TOWN_HOUSE")(i % 5)
      val area = 90 + (i * 37) % 160
      val a = if (i == 59) 0 else i // row 59 repeats row 0's address
      org.apache.spark.sql.Row(i.toLong, 1000L + i, s"Gent_${a % 4}",
        s"90${"%02d".format(a % 50)}", s"straat_$a", s"$a",
        s"${150000 + area * 1800 + (i % 11) * 4000}", "HOUSE", subtype,
        2 + i % 4, s"$area", "INSTALLED", if (i % 3 == 0) "true" else "false",
        "false", "true", s"${10 + i % 20}", "true", s"${i * 7 % 300}", 2 + i % 3,
        Seq("GOOD", "AS_NEW", "TO_RESTORE", "GOOD", "JUST_RENOVATED")(i % 5),
        1950 + i, Seq("A", "B", "C", "D", "A+", "G")(i % 6),
        f"${51.0 + (a % 9) * 0.01}%.4f", f"${3.7 + (a % 7) * 0.01}%.4f",
        s"${200 + i * 13 % 900}", java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      graft.schema.Schemas.properties)
  }

  test("ExportJob -> PreprocessJob end-to-end: the parquet and the csv hold " +
      "the same rows, as many as Preprocessing.run keeps") {
    val base = java.nio.file.Files.createTempDirectory("train").toString
    val (props, csv, clean) = (s"$base/properties", s"$base/export_csv", s"$base/clean")
    propertiesFixture.write.parquet(props)
    // the mains' bodies; each main wraps its body in a session it then stops
    ExportJob.run(spark, props, csv)
    PreprocessJob.run(spark, csv, s"$base/no_geocache", clean)
    val parquet = spark.read.parquet(s"$clean/clean.parquet")
    val csvRows = spark.read.schema(parquet.schema).option("header", "true")
      .csv(s"$clean/clean_csv")
    val n = parquet.count()
    assert(n > 0)
    assert(csvRows.count() == n)
    assert(parquet.exceptAll(csvRows).isEmpty && csvRows.exceptAll(parquet).isEmpty,
      "clean.parquet and clean_csv disagree")
    val emptyCache = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.enrich.Geocode.cacheSchema)
    assert(graft.Preprocessing.run(graft.io.ExportCsv.read(spark, csv), emptyCache)
      .count() == n)
  }

  test("PreprocessJob commits both outputs: a rerun leaves only clean.parquet " +
      "and clean_csv in the output dir") {
    val base = java.nio.file.Files.createTempDirectory("train_rerun").toString
    val (props, csv, clean) = (s"$base/properties", s"$base/export_csv", s"$base/clean")
    propertiesFixture.write.parquet(props)
    ExportJob.run(spark, props, csv)
    PreprocessJob.run(spark, csv, s"$base/no_geocache", clean)
    val n = spark.read.parquet(s"$clean/clean.parquet").count()
    PreprocessJob.run(spark, csv, s"$base/no_geocache", clean)
    assert(new java.io.File(clean).list().toSeq.sorted == Seq("clean.parquet", "clean_csv"))
    assert(spark.read.parquet(s"$clean/clean.parquet").count() == n)
  }

  test("ExportJob after a crash between its write and its swap: the replay " +
      "leaves a complete export") {
    val base = java.nio.file.Files.createTempDirectory("export_crash").toString
    val (props, csv) = (s"$base/properties", s"$base/export_csv")
    propertiesFixture.filter(col("id") < 30).write.parquet(props)
    ExportJob.run(spark, props, csv)
    propertiesFixture.write.mode("overwrite").parquet(props)
    // the next export was written complete beside the target, and the
    // target set aside, when the run died
    graft.io.ExportCsv.write(spark.read.parquet(props), csv + "__tmp")
    assert(new java.io.File(csv).renameTo(new java.io.File(csv + "__old")))
    ExportJob.run(spark, props, csv)
    val ids = graft.io.ExportCsv.read(spark, csv).select(col("id").cast("long"))
      .as[Long].collect().toSeq.sorted
    assert(ids == (0L until 60L))
    assert(new java.io.File(base).list().toSeq.sorted == Seq("export_csv", "properties"))
  }

  test("the DAG on the scraper's own store: preflight -> scrape two weeks -> " +
      "export -> preprocess -> model, and replaying each task changes nothing") {
    val base = java.nio.file.Files.createTempDirectory("dag").toString
    val (links, props, csv, clean, model) = (s"$base/links", s"$base/properties",
      s"$base/export_csv", s"$base/clean", s"$base/model")
    // week 1 lists houses 1-40; week 2 drops house 1 and lists house 41
    val (index, week1) = site(Seq(subUrl(1) -> (1 to 40).map(listing(_))))
    val (_, week2) = site(Seq(subUrl(1) -> (2 to 41).map(listing(_))))
    def at(day: Int) = java.sql.Timestamp.valueOf(s"2024-06-0$day 00:00:00")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq.sorted
    def csvRows(dir: String) = rows(spark.read.option("header", "true").csv(dir))
    def state() = (rows(spark.read.parquet(links)), rows(spark.read.parquet(props)))
    /** Run `task` twice: the replay must leave `outputs` as the run did. */
    def replayed[A](task: => Unit)(outputs: => A): A = {
      task
      val first = outputs
      task
      assert(outputs == first)
      first
    }

    PreflightJob.run(spark, links, props)
    ScrapeJob.run(spark, links, props, index, new UrlCountingFetcher(week1), at(1))
    PreflightJob.run(spark, links, props)
    replayed(ScrapeJob.run(spark, links, props, index, new UrlCountingFetcher(week2), at(8)))(
      state())
    val store = spark.read.parquet(props)
    assert(store.columns.toSeq == graft.schema.Schemas.properties.fieldNames.toSeq)
    assert(store.count() == 41) // house 1 stays: the store keeps delisted properties
    replayed(ExportJob.run(spark, props, csv))(csvRows(csv))
    assert(graft.io.ExportCsv.read(spark, csv).select(col("id").cast("long")).as[Long]
      .collect().toSet == store.select("link_id").as[Long].collect().toSet)
    val cleaned = replayed(PreprocessJob.run(spark, csv, s"$base/no_geocache", clean))(
      rows(spark.read.parquet(s"$clean/clean.parquet")))
    assert(cleaned.nonEmpty)
    val board = replayed(ModelJob.run(spark, clean, model))(csvRows(s"$model/leaderboard"))
    assert(board.size == 5)
  }

  test("ModelJob's best_model: a crash between its write and its swap rolls " +
      "forward, a crash mid-write rolls back, and the replay leaves a loadable " +
      "model and no sibling dirs") {
    val base = java.nio.file.Files.createTempDirectory("model_crash").toString
    (1 to 40).map(i => (80.0 + 7 * i, 2000.0 * (80 + 7 * i) + (i % 5) * 3000, 2 + i % 3))
      .toDF("Living_area", "Price", "Number_of_facades")
      .write.parquet(s"$base/clean/clean.parquet")
    val best = s"$base/model/best_model"
    def load() = org.apache.spark.ml.PipelineModel.load(best)
    CrashingFs.register(spark)
    CrashingFs.crashingRenameOf("best_model__tmp") {
      intercept[java.io.IOException](
        ModelJob.run(spark, s"$base/clean", s"${CrashingFs.Scheme}://$base/model"))
    }
    // MLWriter.save leaves no _SUCCESS: only Commit's own marker rolls it forward
    assert(Commit.exists(spark, best))
    load()
    val committed = files(best)
    // an unfinished stage (no marker) beside the set-aside model rolls back
    assert(new java.io.File(best).renameTo(new java.io.File(best + "__old")))
    assert(new java.io.File(best + "__tmp/metadata").mkdirs())
    assert(Commit.exists(spark, best))
    assert(files(best) == committed)
    ModelJob.run(spark, s"$base/clean", s"$base/model")
    load()
    assert(new java.io.File(s"$base/model").list().toSeq.sorted ==
      Seq("best_model", "leaderboard", "sample_predictions"))
  }

  test("ModelJob fails with a clear error when no feature passes the " +
      "correlation gate") {
    val base = java.nio.file.Files.createTempDirectory("model").toString
    // Price is symmetric about the middle row and both features are
    // antisymmetric about it: every |corr| is 0, below the 0.1 gate
    (1 to 9).map(i => (i.toDouble, 100000.0 + (i - 5) * (i - 5) * 1000.0,
        3 + Integer.signum(i - 5)))
      .toDF("Living_area", "Price", "Number_of_facades")
      .write.parquet(s"$base/clean/clean.parquet")
    val e = intercept[IllegalArgumentException] {
      ModelJob.run(spark, s"$base/clean", s"$base/model")
    }
    assert(e.getMessage.contains("|corr| >= 0.1") && e.getMessage.contains("Price"),
      e.getMessage)
  }

  test("graft_dot is callable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(got == 11.0)
  }

  test("A13: correlationMatrix computes all pairs in one pass") {
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0), (4.0, 8.1, -4.2))
      .toDF("a", "b", "c")
    val m = graft.ops.Aggregates.correlationMatrix(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m.size == 3)
    assert(m(("a", "b")) > 0.999 && m(("a", "c")) < -0.99)
  }
}

/** Serves canned bodies and counts fetches per URL in a JVM-global, so
  * task-side fetches are visible to the driver in local mode. Reset on
  * construction (one instance per test).
  */
class UrlCountingFetcher(bodies: Map[String, String]) extends graft.ingest.Sitemap.Fetcher {
  UrlCountingFetcher.counts.clear()
  def fetch(url: String): String = {
    UrlCountingFetcher.counts
      .computeIfAbsent(url, _ => new java.util.concurrent.atomic.AtomicInteger)
      .incrementAndGet()
    bodies(url)
  }
  def counts: Map[String, Int] =
    UrlCountingFetcher.counts.asScala.map { case (u, n) => u -> n.get }.toMap
}
object UrlCountingFetcher {
  val counts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
}
