package graft.tools

import graft.Bench
import graft.jobs.JobSession
import graft.obs.JobLog

/** Dev-only query profiler: runs a registered query N times, counting Spark
  * jobs and comparing the time covered by jobs to end-to-end wall time —
  * isolates driver-side (Catalyst / scheduling / codegen) overhead from
  * executor work. Jobs are recorded and labelled by [[JobLog.during]].
  * Usage: runMain graft.tools.ProfileQuery <queryName> [repeats]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.001), SPARK_GRAFT_CPUS.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q60_immo_pipeline")
    val repeats = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = JobSession.build("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to repeats) {
      val (wall, jobs) = JobLog.during(spark) {
        val t0 = System.nanoTime()
        Bench.consume(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val jobTime = JobLog.covered(jobs.map(j => (j.start, j.end))) / 1e3
      println(f"RUN$i: wall=$wall%.2fs jobs=${jobs.size} jobTime=$jobTime%.2fs driverGap=${wall - jobTime}%.2fs")
      if (i == repeats)
        jobs.sortBy(j => j.start - j.end).take(15).foreach { j => // longest first
          println(f"  job#${j.id}%-4d ${(j.end - j.start) / 1e3}%7.3fs  ${j.label}")
        }
    }
    spark.stop()
  }
}
