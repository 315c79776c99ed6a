package graft.jobs.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{LinkState, ScrapeParse, Sitemap}
import graft.io.ExportCsv
import graft.schema.Schemas

/** One benchmark process. `run.py` launches it as
  * `java ... graft.jobs.perfbench.Main <mode> key=value...` and reads the
  * JSON report it writes to `report=`.
  *
  * Modes that build inputs (`scrape-store`, `train-store`) run outside every
  * timed region. The measured modes time exactly the public entry points a
  * scheduled run calls: `PreflightJob.run` + `ScrapeJob.run`, the
  * `ExportJob`/`PreprocessJob`/`ModelJob` mains, and the registry queries.
  * With `trace=1` the very same calls run under the trace's listeners and
  * driver stack sampler (Trace.scala); nothing of the program is copied.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.drop(1).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val report = new Report
    Trace.enabled = a.get("trace").contains("1")
    args(0) match {
      case "scrape-store" => scrapeStore(a)
      case "train-store" => trainStore(a)
      case "scrape" => scrape(a, report)
      case "export" | "preprocess" | "model" => trainTask(args(0), a, report)
      case "queries" => queries(a, report)
      case "oracle-sql" => Files.write(Paths.get(a("out")), new Report().encode(
        a("queries").split(",").map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
        .getBytes("UTF-8"))
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    if (Trace.enabled) report.traced()
    Files.write(Paths.get(a("report")), report.json.getBytes("UTF-8"))
  }

  // ---- shared -------------------------------------------------------------

  /** The session every mode uses: the jobs' own factory. Its master and
    * shuffle partitions follow SPARK_GRAFT_CPUS; UI, event log and listeners
    * come from `spark.*` system properties set by the launcher. */
  private def session(name: String): SparkSession = {
    val spark = Trace.span("jobs.session_build")(graft.jobs.JobSession.build(name))
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds since the launcher started this process (`t0` is epoch ns). */
  private def sinceLaunch(a: Map[String, String]): Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - a("t0").toLong) / 1e9
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }

  /** Wall and process CPU of `body`, and the peak heap live after any GC in it. */
  private def timed(report: Report)(body: => Unit): Unit = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    HeapWatch.arm()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    body
    report.put("wall_s", (System.nanoTime() - t0) / 1e9)
    report.put("cpu_s", (os.getProcessCpuTime - c0) / 1e9)
    report.put("peak_heap_mb", HeapWatch.disarm() / 1048576.0)
  }

  private def rowHash(df: DataFrame): java.math.BigDecimal =
    df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head().getDecimal(0)

  // ---- scrape_weekly --------------------------------------------------------

  private def weeksOf(a: Map[String, String]) = Weeks(a("active").toLong, a("churn").toLong,
    a("week").toInt, a("base").toLong, a("seed").toLong)

  /** The store the scraper itself built over the weeks before the measured one. */
  private def scrapeStore(a: Map[String, String]): Unit = {
    val weeks = weeksOf(a)
    val dir = a("dir")
    val spark = session("graft-scrape")
    try (0 until a("week").toInt).foreach { w =>
      val f = new WeekFetcher(weeks, w)
      graft.jobs.ScrapeJob.run(spark, s"$dir/links", s"$dir/properties", f.indexXml, f,
        Weeks.timestamp(w))
    } finally spark.stop()
  }

  private def scrape(a: Map[String, String], report: Report): Unit = {
    val (weeks, week) = (weeksOf(a), a("week").toInt)
    val store = Paths.get(a("work")).resolve("store")
    val (linksDir, propsDir) = (store.resolve("links").toString, store.resolve("properties").toString)
    val spark = session("graft-scrape")
    copyTree(Paths.get(a("store")), store)
    report.put("setup_s", sinceLaunch(a))

    val fetcher = new WeekFetcher(weeks, week)
    val now = Weeks.timestamp(week)
    timed(report) {
      Trace.scoped(spark, "scrape") {
        val t0 = System.nanoTime()
        graft.jobs.PreflightJob.run(spark, linksDir, propsDir)
        val t1 = System.nanoTime()
        graft.jobs.ScrapeJob.run(spark, linksDir, propsDir, fetcher.indexXml, fetcher, now)
        report.put("preflight_s", (t1 - t0) / 1e9)
        report.put("task.scrape_s", (System.nanoTime() - t1) / 1e9)
      }
    }
    report.put("task.store_mb", treeBytes(store) / 1048576.0)

    // ---- output checks (untimed) ----
    val links = spark.read.parquet(linksDir)
    val statuses = links.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val props = spark.read.parquet(propsDir).count()
    val seen = weeks.first(week) + weeks.active
    val valid = (0L until seen).filter(s => weeks.listing(s).valid)
    val activeValid = valid.count(_ >= weeks.first(week)).toLong
    val want = Map("scraped" -> activeValid, "error" -> (weeks.active - activeValid),
      "inactive" -> weeks.first(week)).filter(_._2 > 0)
    report.check("link_status_counts", statuses == want, s"got $statuses want $want")
    report.check("property_count", props == valid.size, s"got $props want ${valid.size}")
    if (Trace.enabled) weekSize(spark, a("store"), propsDir, fetcher, now, report)

    val hashBefore = (rowHash(links), rowHash(spark.read.parquet(propsDir)))
    graft.jobs.ScrapeJob.run(spark, linksDir, propsDir, fetcher.indexXml, fetcher, now)
    val hashAfter = (rowHash(spark.read.parquet(linksDir)), rowHash(spark.read.parquet(propsDir)))
    report.check("replay_is_noop", hashBefore == hashAfter, s"before $hashBefore after $hashAfter")

    // The scrape -> export hand-off: export's projection over the store this
    // week just wrote. A known defect (the scraper writes no `id` column)
    // makes it fail; it is reported as a known-defect probe, not a check.
    val handoff =
      try { ExportCsv.toExport(spark.read.parquet(propsDir)).limit(1).collect(); "ok" }
      catch { case e: Throwable => Option(e.getMessage).getOrElse(e.toString).linesIterator.next() }
    report.put("handoff_export_ok", if (handoff == "ok") 1 else 0)
    report.put("handoff_export", handoff)
    spark.stop()
  }

  /** What the week had to do, untimed, from the program's own functions
    * over the store as it was before the week: the pending URLs, the share
    * of them that parsed into a property, and the bytes of those new rows
    * written alone (the denominator of `jobs.write_amp`). */
  private def weekSize(spark: SparkSession, before: String, propsDir: String,
      fetcher: WeekFetcher, now: java.sql.Timestamp, report: Report): Unit = {
    val pending = LinkState.pending(LinkState.applySnapshot(
      spark.read.parquet(s"$before/links"),
      Sitemap.listingUrls(spark, fetcher.indexXml, fetcher), now)).count()
    val newRows = spark.read.parquet(propsDir).filter(col("scraped_at") === lit(now))
    val tmp = Files.createTempDirectory("new_rows")
    newRows.write.parquet(tmp.resolve("t").toString)
    report.put("ingest.pending", pending)
    report.put("ingest.parsed_ok_ratio", newRows.count().toDouble / math.max(1L, pending))
    report.put("new_rows_mb", treeBytes(tmp) / 1048576.0)
  }

  // ---- train_weekly ---------------------------------------------------------

  /** A properties store in the declared shape, parsed from seeded pages. */
  private def trainStore(a: Map[String, String]): Unit = {
    val (seed, n) = (a("seed").toLong, a("n").toLong)
    val spark = session("graft-train-store")
    import spark.implicits._
    try {
      val pages = spark.range(0, n, 1, 8).as[Long]
        .map(s => { val l = Listings.listing(seed, s); (l.url, Listings.html(l)) })
        .toDF("url", "html")
      val ok = ScrapeParse.parseScrapedPages(pages).filter(col("ok"))
        .withColumn("scraped_at", lit(Weeks.timestamp(0)))
        .withColumn("id", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("link_id")).cast("long"))
      ok.select(Schemas.properties.fields.map(f => col(f.name).cast(f.dataType)): _*)
        .repartition(4).write.mode("overwrite").parquet(a("dir"))
    } finally spark.stop()
  }

  private def trainTask(task: String, a: Map[String, String], report: Report): Unit = {
    val work = Paths.get(a("work"))
    def w(p: String) = work.resolve(p).toString
    val spark = session(s"graft-$task")
    if (task == "export") copyTree(Paths.get(a("store")), work.resolve("properties"))
    report.put("setup_s", sinceLaunch(a))
    timed(report) {
      Trace.scoped(spark, task)(task match {
        // the mains build (here: reuse) and stop their own session
        case "export" => graft.jobs.ExportJob.main(Array(w("properties"), w("export_csv")))
        case "preprocess" =>
          graft.jobs.PreprocessJob.main(Array(w("export_csv"), w("geocache"), w("clean")))
        case "model" => graft.jobs.ModelJob.main(Array(w("clean"), w("model")))
      })
    }
    report.put(s"task.${task}_s", report.get("wall_s"))
    if (task == "export") report.put("io.csv_mb", treeBytes(work.resolve("export_csv")) / 1048576.0)
  }

  // ---- queries -------------------------------------------------------------

  /** One pass over the registry queries in a fresh process. Each query is
    * consumed with `collect()`, which, like Bench's noop sink, evaluates every
    * output column; the collected rows are then written (untimed) for the
    * output check, so the checked execution is the timed one. */
  private def queries(a: Map[String, String], report: Report): Unit = {
    val data = a("data")
    val names = a("queries").split(",").toSeq
    val spark = session("graft-queries")
    readInputs(data)
    report.put("setup_s", sinceLaunch(a))
    // Bench's untimed warm-up, so the first query is not charged for the
    // first job and the first parquet scan of the process
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/lineitem.parquet").limit(10).collect()
    val results = mutable.LinkedHashMap.empty[String, (Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]
    val times = mutable.LinkedHashMap.empty[String, Double]
    timed(report) {
      names.foreach { q =>
        val t0 = System.nanoTime()
        Trace.scoped(spark, s"q.$q") {
          val df = graft.SparkEntry.queries(q)(spark, data)
          results(q) = (df.collect(), df.schema)
        }
        times(q) = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        spark.catalog.clearCache()
      }
    }
    report.put("query_s", times.toMap)
    results.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${a("results")}/$q")
    }
    spark.stop()
  }

  /** Read every input file once, so the timed pass finds them in the page cache. */
  private def readInputs(data: String): Unit = {
    val walk = Files.walk(Paths.get(data))
    try walk.filter(Files.isRegularFile(_)).forEach(p => Files.readAllBytes(p))
    finally walk.close()
  }
}

/** Peak heap in use right after a collection, over an armed window. */
object HeapWatch {
  import javax.management.NotificationEmitter
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var armed = false
  @volatile private var peak = 0L

  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n, _) => {
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        if (used > peak) peak = used
      }
    }, null, null)
    case _ =>
  }

  def arm(): Unit = { peak = 0L; armed = true }

  /** Ends the window; one final collection guarantees a reading. */
  def disarm(): Long = {
    System.gc()
    Thread.sleep(50)
    armed = false
    peak
  }
}

/** The JSON report of one process. */
final class Report {
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]

  def put(k: String, v: Any): Unit = values(k) = v
  def get(k: String): Any = values(k)
  def check(name: String, ok: Boolean, detail: String): Unit = checks(name) = (ok, detail)

  /** Fold the trace into the report: span sums and per-scope counters. */
  def traced(): Unit = {
    Trace.spans.foreach { case (k, v) => put(s"span.$k", v) }
    put("scopes", Trace.scopes.filter(_._1 != "none").map { case (k, c) =>
      k -> Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "fits" -> c.fits,
        "planning_s" -> c.planningNs / 1e9, "job_covered_s" -> c.coveredS, "wall_s" -> c.wallS,
        "executor_run_s" -> c.runMs / 1e3, "executor_cpu_s" -> c.cpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3, "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
        "shuffle_read_mb" -> c.shuffleRead / 1048576.0, "spill_mb" -> c.spill / 1048576.0,
        "peak_exec_mem_mb" -> c.peakExecMem / 1048576.0)
    }.toMap)
  }

  def encode(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => encode(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case other => encode(other.toString)
  }

  def json: String = {
    val cs = checks.map { case (k, (ok, d)) => k -> Map("ok" -> ok, "detail" -> d) }.toMap
    encode(values.toMap + ("checks" -> cs))
  }
}
