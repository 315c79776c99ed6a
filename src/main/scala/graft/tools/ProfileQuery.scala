package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.Bench
import graft.jobs.JobSession

/** Dev-only query profiler: runs a registered query N times, counting Spark
  * jobs and comparing the time covered by jobs to end-to-end wall time —
  * isolates driver-side (Catalyst / scheduling / codegen) overhead from
  * executor work. A job is labelled with its `spark.job.description`, else
  * its SQL execution's description (the call site of the action that ran
  * the query — AQE launches query-stage jobs from a pool thread, so their
  * own call site names no query code), else its first stage's name.
  * Usage: runMain graft.tools.ProfileQuery <queryName> [repeats]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.001), SPARK_GRAFT_CPUS.
  */
object ProfileQuery {
  /** Length of the union of `[start, end]` intervals: overlapping jobs
    * count once, so the driver gap (wall − covered) stays >= 0. */
  def covered(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
    }._1

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q60_immo_pipeline")
    val repeats = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = JobSession.build("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val execs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // (jobId, label, start ms, end ms)
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execs.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        starts.put(js.jobId, (js.time, prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id").flatMap(id => Option(execs.get(id.toLong))))
          .orElse(js.stageInfos.sortBy(_.stageId).headOption.map(_.name))
          .getOrElse("?")))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, label) =>
          jobLog.add((je.jobId, label, t0, je.time))
        }
    })

    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to repeats) {
      jobLog.clear()
      val t0 = System.nanoTime()
      Bench.consume(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give it a beat
      Thread.sleep(500)
      val jobs = jobLog.asScala.toSeq
      val jobTime = covered(jobs.map(j => (j._3, j._4))) / 1e3
      println(f"RUN$i: wall=$wall%.2fs jobs=${jobs.size} jobTime=$jobTime%.2fs driverGap=${wall - jobTime}%.2fs")
      if (i == repeats)
        jobs.sortBy(j => j._3 - j._4).take(15).foreach { case (id, label, s, e) => // longest first
          println(f"  job#$id%-4d ${(e - s) / 1e3}%7.3fs  $label")
        }
    }
    spark.stop()
  }
}
