package graft.jobs

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

class JobsSpec extends SparkSpec {
  import spark.implicits._

  test("S12: appendDedup is an idempotent INSERT-OR-IGNORE (dedup-then-union)") {
    val dir = java.nio.file.Files.createTempDirectory("props").toString + "/t"
    val a = Seq((1L, "x"), (2L, "y")).toDF("link_id", "v")
    ScrapeJob.appendDedup(spark, a, dir, "link_id")
    // second batch overlaps on key 2 — existing row wins, only key 3 appends
    val b = Seq((2L, "y2"), (3L, "z")).toDF("link_id", "v")
    ScrapeJob.appendDedup(spark, b, dir, "link_id")
    val got = spark.read.parquet(dir).orderBy("link_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "x"), (2L, "y"), (3L, "z")))
    // replaying the same batch is a no-op: not one data file changes
    val before = files(dir)
    ScrapeJob.appendDedup(spark, b, dir, "link_id")
    assert(spark.read.parquet(dir).count() == 3)
    assert(files(dir) == before)
  }

  /** Every file under `dir`, by name, with the SHA-256 of its bytes. */
  private def files(dir: String): Map[String, String] = {
    val ds = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try ds.iterator().asScala.map(p => p.getFileName.toString ->
      java.util.HexFormat.of().formatHex(java.security.MessageDigest
        .getInstance("SHA-256").digest(java.nio.file.Files.readAllBytes(p)))).toMap
    finally ds.close()
  }

  private def table(dir: String): Seq[(Long, String)] =
    spark.read.parquet(dir).as[(Long, String)].collect().toSeq.sorted

  private val week1 = Seq((1L, "x"), (2L, "y"))
  private val week2 = Seq((2L, "y2"), (3L, "z"), (4L, "w"), (5L, "v"))
  private val uncrashed = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w"), (5L, "v"))

  test("appendDedup writes only the new rows: every stored file is left as it was") {
    val dir = java.nio.file.Files.createTempDirectory("props_append").toString + "/t"
    ScrapeJob.appendDedup(spark, week1.toDF("link_id", "v"), dir, "link_id")
    val before = files(dir)
    ScrapeJob.appendDedup(spark, week2.toDF("link_id", "v"), dir, "link_id")
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
    ScrapeJob.appendDedup(spark, empty, dir, "link_id")
    assert(spark.read.parquet(dir).columns.toSeq == Seq("link_id", "v"))
    assert(table(dir).isEmpty)
    ScrapeJob.appendDedup(spark, week1.toDF("link_id", "v"), dir, "link_id")
    val before = files(dir)
    ScrapeJob.appendDedup(spark, empty, dir, "link_id")
    assert(files(dir) == before)
    assert(table(dir) == week1)
  }

  /** The staged append crashed in state `crash` (given the store dir and
    * its staging dir, holding week 1), then week 2 is replayed. */
  private def crashThenReplay(crash: (String, String) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("props_staged").toString + "/t"
    ScrapeJob.appendDedup(spark, week1.toDF("link_id", "v"), dir, "link_id")
    crash(dir, dir + "__append")
    ScrapeJob.appendDedup(spark, week2.toDF("link_id", "v"), dir, "link_id")
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
    ScrapeJob.appendDedup(spark, week1.toDF("link_id", "v"), dir, "link_id")
    val before = files(dir)
    val extra = intercept[IllegalArgumentException] {
      ScrapeJob.appendDedup(spark, Seq((3L, "z", 1.0)).toDF("link_id", "v", "extra"),
        dir, "link_id")
    }
    assert(extra.getMessage.contains("extra only in the batch"), extra.getMessage)
    val retyped = intercept[IllegalArgumentException] {
      ScrapeJob.appendDedup(spark, Seq((3L, 7)).toDF("link_id", "v"), dir, "link_id")
    }
    assert(retyped.getMessage.contains("v is int in the batch, string in the store"),
      retyped.getMessage)
    assert(files(dir) == before)
    assert(!new java.io.File(dir + "__append").exists())
  }

  test("appendDedup after a crashed swap window: store recovered, not " +
      "silently rebuilt from the batch alone") {
    val dir = java.nio.file.Files.createTempDirectory("props_crash").toString + "/t"
    ScrapeJob.appendDedup(spark, Seq((1L, "x"), (2L, "y")).toDF("link_id", "v"),
      dir, "link_id")
    // simulate a crash between overwriteAtomic steps 2 and 3: target renamed
    // aside, the next state complete at __tmp
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("link_id", "v")
      .write.parquet(dir + "__tmp")
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old")))
    // a replayed append must roll the commit forward FIRST — merging against
    // the 3-row recovered store, not rebuilding from this 1-row batch
    ScrapeJob.appendDedup(spark, Seq((4L, "w")).toDF("link_id", "v"),
      dir, "link_id")
    val got = spark.read.parquet(dir).orderBy("link_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w")),
      s"crashed swap lost rows: $got")
  }

  test("overwriteAtomic swaps the directory without partial states") {
    val dir = java.nio.file.Files.createTempDirectory("ow").toString + "/t"
    ScrapeJob.overwriteAtomic(spark, Seq(1, 2, 3).toDF("v"), dir)
    assert(spark.read.parquet(dir).count() == 3)
    ScrapeJob.overwriteAtomic(spark, Seq(4).toDF("v"), dir)
    assert(spark.read.parquet(dir).as[Int].collect().toSeq == Seq(4))
  }

  test("ScrapeJob.run end-to-end: snapshot -> scrape -> properties + link statuses") {
    val base = java.nio.file.Files.createTempDirectory("scrape").toString
    val (linksDir, propsDir) = (s"$base/links", s"$base/properties")
    val u1 = "https://www.immoweb.be/en/classified/house/for-sale/gent/9000/11111111"
    val u2 = "https://www.immoweb.be/en/classified/apartment/for-sale/luik/4000/22222222"
    val index = """<sitemapindex>
      <sitemap><loc>https://x.be/sitemap-classified-1.xml</loc></sitemap>
      </sitemapindex>"""
    val sub = s"""<urlset>
      <url><xhtml:link rel="alternate" hreflang="en-BE" href="$u1"/></url>
      <url><xhtml:link rel="alternate" hreflang="en-BE" href="$u2"/></url>
      </urlset>"""
    def page(epc: String, kwh: String) = s"""<html><script>
      window.classified = {"property":{"type":"HOUSE","subtype":"VILLA",
        "location":{"locality":"Gent","postalCode":"9000","latitude":51.0,"longitude":3.7}},
      "transaction":{"sale":{"price":300000},
        "certificates":{"epcScore":$epc,"primaryEnergyConsumptionPerSqm":$kwh}}};
      </script></html>"""
    // locals only (a def would capture the non-serializable spec instance)
    val goodPage = page("\"B\"", "250")
    val badPage = page("null", "null") // both null -> validation reject -> error
    val subLocal = sub
    val u1Local = u1
    val fetcher = new graft.ingest.Sitemap.Fetcher {
      def fetch(url: String): String =
        if (url.endsWith(".xml")) subLocal
        else if (url == u1Local) goodPage
        else badPage
    }
    val now = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    ScrapeJob.run(spark, linksDir, propsDir, index, fetcher, now)
    val links = spark.read.parquet(linksDir)
    val st = links.select("url", "status").as[(String, String)].collect().toMap
    assert(st(u1) == "scraped" && st(u2) == "error")
    val props = spark.read.parquet(propsDir)
    assert(props.count() == 1)
    val row = props.head()
    assert(row.getAs[Long]("link_id") == 11111111L)
    assert(row.getAs[String]("epc") == "B")
    // re-run with the same snapshot: idempotent (no property dup, statuses keep)
    ScrapeJob.run(spark, linksDir, propsDir, index, fetcher, now)
    assert(spark.read.parquet(propsDir).count() == 1)
  }

  test("ScrapeJob.run fetches each sub-sitemap and each pending page exactly once") {
    val base = java.nio.file.Files.createTempDirectory("scrape_once").toString
    val subs = (1 to 3).map(i => s"https://x.be/sitemap-classified-$i.xml")
    val index = subs.map(s => s"<sitemap><loc>$s</loc></sitemap>")
      .mkString("<sitemapindex>", "", "</sitemapindex>")
    val listings = subs.indices.map(i => subs(i) -> (1 to 4).map(j =>
      s"https://www.immoweb.be/en/classified/house/for-sale/gent/9000/${1000 * (i + 1) + j}"))
    val page = """<html><script>
      window.classified = {"property":{"type":"HOUSE","subtype":"VILLA",
        "location":{"locality":"Gent","postalCode":"9000","latitude":51.0,"longitude":3.7}},
      "transaction":{"sale":{"price":300000},
        "certificates":{"epcScore":"B","primaryEnergyConsumptionPerSqm":250}}};
      </script></html>"""
    val bodies = listings.map { case (sub, urls) =>
      sub -> urls.map(u => s"""<url><xhtml:link rel="alternate" hreflang="en-BE" href="$u"/></url>""")
        .mkString("<urlset>", "", "</urlset>")
    }.toMap ++ listings.flatMap(_._2).map(_ -> page)
    val fetcher = new UrlCountingFetcher(bodies)
    ScrapeJob.run(spark, s"$base/links", s"$base/properties", index, fetcher,
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    assert(fetcher.counts == bodies.keySet.map(_ -> 1).toMap)
    assert(spark.read.parquet(s"$base/properties").count() == 12)
  }

  test("fetchPages: mapPartitions fetch covers every URL across partitions " +
      "and fetches each exactly once per action") {
    val counter = new CountingFetcher
    val urls = (1 to 50).map(i => s"https://x.be/p/$i").toDF("url").repartition(8)
    val pages = ScrapeJob.fetchPages(urls, counter)
    val got = pages.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 50)
    assert(got("https://x.be/p/7") == "body:https://x.be/p/7")
    // one action -> each URL fetched exactly once (across 8 partitions)
    assert(counter.total == 50)
  }

  test("PreflightJob: bootstrap (absent store) and valid store pass; " +
      "misshapen store refuses") {
    val base = java.nio.file.Files.createTempDirectory("preflight").toString
    val (linksDir, propsDir) = (s"$base/links", s"$base/properties")
    // absent store is the bootstrap state — ScrapeJob creates it, so
    // preflight must NOT block the first scheduled run
    PreflightJob.run(spark, linksDir, propsDir)
    // valid store -> ok (properties absent is allowed: first run has none)
    ScrapeJob.overwriteAtomic(spark,
      graft.ingest.LinkState.emptyLinks(spark), linksDir)
    PreflightJob.run(spark, linksDir, propsDir)
    // present-but-misshapen store -> refuse
    ScrapeJob.overwriteAtomic(spark, Seq((1L, "x")).toDF("id", "whatever"), linksDir)
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

/** Counts fetches in a JVM-global so task-side increments are visible to the
  * driver in local mode. Reset on construction (one instance per test).
  */
class CountingFetcher extends graft.ingest.Sitemap.Fetcher {
  CountingFetcher.count.set(0)
  def fetch(url: String): String = {
    CountingFetcher.count.incrementAndGet()
    "body:" + url
  }
  def total: Long = CountingFetcher.count.get().toLong
}
object CountingFetcher {
  val count = new java.util.concurrent.atomic.AtomicInteger(0)
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
