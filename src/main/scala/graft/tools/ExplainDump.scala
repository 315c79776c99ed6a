package graft.tools

import java.nio.file.{Files, Paths}

import graft.jobs.JobSession

/** Dev-only plan dumper for the optimization rounds: writes
  * `.explain("formatted")` output for each named query to
  * `<outDir>/<query>_<tag>.txt` so plan-shape claims in OPTIMIZATION_r*.md
  * are checkable without running Spark.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <tag> <queryName>...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01 — plan shape, not timing, so the
  * small SF is fine and fast; AQE-dependent shapes are noted per-query in the
  * round doc where they differ); SPARK_GRAFT_CPUS sets the shuffle
  * partitions the plans show (see [[JobSession.build]]).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <tag> <query>...")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = JobSession.build("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${n}_$tag.txt"), plan.getBytes("UTF-8"))
      println(s"wrote ${outDir.resolve(s"${n}_$tag.txt")} (${plan.length} chars)")
    }
    spark.stop()
  }
}
