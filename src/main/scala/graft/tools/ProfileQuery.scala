package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev-only query profiler: runs a registered query N times, counting Spark
  * jobs and comparing summed job wall time to end-to-end wall time — isolates
  * driver-side (Catalyst / scheduling / codegen) overhead from executor work.
  * Usage: runMain graft.tools.ProfileQuery <queryName> [repeats]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.001), SPARK_GRAFT_CPUS (default 4,
  * as in Verify) sets both the local core count and the shuffle partitions.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q60_immo_pipeline")
    val repeats = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    @volatile var jobs = 0
    @volatile var jobNanos = 0L
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, System.nanoTime()); jobs += 1
        sites.put(js.jobId, Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { t =>
          val d = System.nanoTime() - t
          jobNanos += d
          jobLog.add((je.jobId, sites.getOrDefault(je.jobId, "?"), d / 1e9))
        }
      }
    })

    val fn = graft.SparkEntry.queries(name)
    // action=noop (default) matches the bench's honest timing action;
    // count remains available for cross-checks (SPARK_GRAFT_BENCH_ACTION)
    val action = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "noop")
    def consume(df: org.apache.spark.sql.DataFrame): Unit =
      if (action == "noop") df.write.mode("overwrite").format("noop").save()
      else df.count()
    for (i <- 1 to repeats) {
      jobs = 0; jobNanos = 0L; jobLog.clear()
      val t0 = System.nanoTime()
      consume(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give it a beat
      Thread.sleep(500)
      println(f"RUN$i: wall=$wall%.2fs jobs=$jobs jobTime=${jobNanos / 1e9}%.2fs driverGap=${wall - jobNanos / 1e9}%.2fs")
      if (i == repeats) {
        import scala.jdk.CollectionConverters._
        jobLog.asScala.toSeq.sortBy(-_._3).take(15).foreach { case (id, site, s) =>
          println(f"  job#$id%-4d $s%7.3fs  $site")
        }
      }
    }
    spark.stop()
  }
}
