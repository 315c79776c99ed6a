package graft.tools

import org.apache.spark.sql.functions._

import graft.Bench.{consume, isolate}
import graft.jobs.JobSession
import graft.obs.JobLog
import graft.text.ExactSubstrIndex

/** Dev-only phase-level timing probe for the optimization rounds: times the
  * internal phases of composite operators (index build/add/probe) under the
  * Bench session config + noop action, and counts each phase's Spark jobs,
  * so a round doc can say WHERE inside a 5-second query the time goes —
  * guide §1's "decide whether the time is going to shuffle read, write, or
  * compute" at the operator level, without the UI. Every phase calls the
  * program's own operators.
  *
  * Usage: runMain graft.tools.OptProbe <xsub_add|xsub_buckets> [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (see
  * [[JobSession.build]]).
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: OptProbe <probe> [reps]")
    val probe = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = JobSession.build("graft-opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(spark, sfDir).limit(10).collect()

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val (r, jobs) = JobLog.during(spark)(JobLog.phase(spark.sparkContext, s"probe: $name")(f))
      println(f"PHASE $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.3f s ${jobs.size}%4d jobs")
      r
    }

    val docs = graft.Tables.documents(spark, sfDir)
    val m10 = col("doc_id") % 10
    val train = docs.filter(m10 >= 1 && m10 <= 5)

    /** Build the index on 50% of the docs, add 40%, probe with 10%, print
      * its size, and delete it. */
    def buildAddProbe(dir: String, tag: String, buckets: => Int): Unit = {
      t(s"build$tag")(ExactSubstrIndex.build(train, col("text"), dir, 24, buckets))
      t(s"add$tag")(ExactSubstrIndex.add(spark, dir, docs.filter(m10 >= 6), col("text")))
      t(s"probe$tag")(consume(ExactSubstrIndex.probeSpans(
        spark, dir, docs.filter(m10 === 0), "doc_id", col("text"))))
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cs = fs.getContentSummary(path)
      println(s"INDEX$tag bytes=${cs.getLength} files=${cs.getFileCount} " +
        s"rows=${ExactSubstrIndex.loadGrams(spark, dir).count()}")
      fs.delete(path, true)
    }

    (1 to reps).foreach { rep =>
      println(s"--- rep $rep ---")
      probe match {
        case "xsub_add" =>
          buildAddProbe(s"/tmp/xsub_probe_$rep", "",
            ExactSubstrIndex.adaptiveBuckets(train, 24))
          t("gramRelation(A) noop")(consume(
            ExactSubstrIndex.gramRelation(train, col("text"), 24, 64)))
        case "xsub_buckets" =>
          for (b <- Seq(64, 8, 1)) buildAddProbe(s"/tmp/xsub_b${b}_$rep", s" b=$b", b)
        case other => sys.error(s"unknown probe $other")
      }
      isolate(spark)
    }
    spark.stop()
  }
}
