package graft.tools

import org.apache.spark.sql.functions._

import graft.Bench.{consume, isolate}
import graft.jobs.JobSession

/** Dev-only phase-level timing probe for the optimization rounds: times the
  * internal phases of composite operators (index build/add/probe, multi-pass
  * stats) under the Bench session config + noop action, so a round doc can
  * say WHERE inside a 5-second query the time goes — guide §1's "decide
  * whether the time is going to shuffle read, write, or compute" at the
  * operator level, without the UI.
  *
  * Usage: runMain graft.tools.OptProbe <probe> [reps]
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
      spark.sparkContext.setJobDescription(s"probe: $name")
      val r = f
      println(f"PHASE $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      spark.sparkContext.setJobDescription(null)
      r
    }

    (1 to reps).foreach { rep =>
      println(s"--- rep $rep ---")
      probe match {
        case "xsub_add" =>
          val docs = graft.Tables.documents(spark, sfDir)
          val m10 = col("doc_id") % 10
          val tmp = s"/tmp/xsub_probe_$rep"
          t("build(A 50%)") {
            val train = docs.filter(m10 >= 1 && m10 <= 5)
            graft.text.ExactSubstrIndex.build(train, col("text"), tmp, 24,
              graft.text.ExactSubstrIndex.adaptiveBuckets(train, 24))
          }
          t("add(B 40%)") {
            graft.text.ExactSubstrIndex.add(
              spark, tmp, docs.filter(m10 >= 6), col("text"))
          }
          t("probe(10%)") {
            consume(graft.text.ExactSubstrIndex.probeSpans(
              spark, tmp, docs.filter(m10 === 0), "doc_id", col("text")))
          }
          t("gramRelation(A) noop") {
            consume(graft.text.ExactSubstrIndex.gramRelation(
              docs.filter(m10 >= 1 && m10 <= 5), col("text"), 24, 64))
          }
          val fs = org.apache.hadoop.fs.FileSystem.get(
            java.net.URI.create(tmp), spark.sparkContext.hadoopConfiguration)
          val summary = fs.getContentSummary(new org.apache.hadoop.fs.Path(tmp))
          println(s"INDEX bytes=${summary.getLength} files=${summary.getFileCount} " +
            s"rows=${graft.text.ExactSubstrIndex.loadGrams(spark, tmp).count()}")
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        case "xsub_buckets" =>
          val docs = graft.Tables.documents(spark, sfDir)
          val m10 = col("doc_id") % 10
          for (b <- Seq(64, 8, 1)) {
            val tmp = s"/tmp/xsub_b${b}_$rep"
            t(s"build b=$b") {
              graft.text.ExactSubstrIndex.build(
                docs.filter(m10 >= 1 && m10 <= 5), col("text"), tmp, 24, b)
            }
            t(s"add b=$b") {
              graft.text.ExactSubstrIndex.add(
                spark, tmp, docs.filter(m10 >= 6), col("text"))
            }
            t(s"probe b=$b") {
              consume(graft.text.ExactSubstrIndex.probeSpans(
                spark, tmp, docs.filter(m10 === 0), "doc_id", col("text")))
            }
            val fs = org.apache.hadoop.fs.FileSystem.get(
              java.net.URI.create(tmp), spark.sparkContext.hadoopConfiguration)
            val cs = fs.getContentSummary(new org.apache.hadoop.fs.Path(tmp))
            println(s"  b=$b bytes=${cs.getLength} files=${cs.getFileCount}")
            fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
          }
        case "xsub_add_split" =>
          val docs = graft.Tables.documents(spark, sfDir)
          val m10 = col("doc_id") % 10
          val tmp = s"/tmp/xsub_split_$rep"
          t("build(A 50%)") {
            graft.text.ExactSubstrIndex.build(
              docs.filter(m10 >= 1 && m10 <= 5), col("text"), tmp, 24, 64)
          }
          // inlined ExactSubstrIndex.add, phase by phase
          val meta = graft.text.ExactSubstrIndex.loadMeta(spark, tmp)
          val existing = graft.text.ExactSubstrIndex.loadGrams(spark, tmp)
          val fresh = graft.text.ExactSubstrIndex.gramRelation(
              docs.filter(m10 >= 6), col("text"), meta.sub, meta.buckets)
            .join(existing.select("h", "g"), Seq("h", "g"), "left_anti")
            .select("h", "g", "bucket")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          t("add: anti+persist+count") { fresh.count() }
          t("add: append write") {
            fresh.repartition(meta.buckets, col("bucket"))
              .write.mode("append").partitionBy("bucket").parquet(s"$tmp/grams")
          }
          fresh.unpersist(blocking = true)
          t("add: anti noop (no persist)") {
            consume(graft.text.ExactSubstrIndex.gramRelation(
                docs.filter(m10 >= 6), col("text"), meta.sub, meta.buckets)
              .join(existing.select("h", "g"), Seq("h", "g"), "left_anti")
              .select("h", "g", "bucket"))
          }
          t("add: anti noop SHJ hint") {
            consume(graft.text.ExactSubstrIndex.gramRelation(
                docs.filter(m10 >= 6), col("text"), meta.sub, meta.buckets)
              .join(existing.select("h", "g").hint("SHUFFLE_HASH"),
                Seq("h", "g"), "left_anti")
              .select("h", "g", "bucket"))
          }
          t("add: fresh-grams noop") {
            consume(graft.text.ExactSubstrIndex.gramRelation(
              docs.filter(m10 >= 6), col("text"), meta.sub, meta.buckets))
          }
          t("add: existing scan noop") { consume(existing.select("h", "g")) }
          val fs = org.apache.hadoop.fs.FileSystem.get(
            java.net.URI.create(tmp), spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        case "ppjoin" =>
          val docs = graft.Tables.documents(spark, sfDir)
          // mirror q246's exact call: threshold/shingle defaults
          
          val textCol = col("text"); val threshold = 0.5; val shingle = 3
          val elems = graft.text.DedupOps.shingles(textCol, shingle)
          val base = docs.filter(textCol.isNotNull)
            .select(col("doc_id").cast("long").as("id"),
              array_sort(array_distinct(elems)).as("arr"))
            .filter(size(col("arr")) > 0)
          val tok = base.select(col("id"), size(col("arr")).as("sz"),
            explode(col("arr")).as("tk"))
          val dfs = tok.groupBy("tk").agg(count(lit(1)).as("df"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("id").orderBy(col("df").asc, col("tk").asc)
          val prefix = tok.join(dfs, Seq("tk"))
            .withColumn("__pos", row_number().over(w))
            .filter(col("__pos") <=
              col("sz") - ceil(lit(threshold) * col("sz")) + 1)
            .select("tk", "id", "__pos", "sz")
          val pa = prefix.select(col("tk"), col("id").as("a"),
            col("__pos").as("__pa"), col("sz").as("__sza"))
          val pb = prefix.select(col("tk"), col("id").as("b"),
            col("__pos").as("__pb"), col("sz").as("__szb"))
          val alpha = ceil(lit(threshold / (1.0 + threshold)) *
            (col("__sza") + col("__szb")) - lit(1e-9))
          val cand = pa.join(pb, Seq("tk"))
            .filter(col("a") < col("b"))
            .filter(col("__szb") >= lit(threshold) * col("__sza") - lit(1e-9) &&
              col("__sza") >= lit(threshold) * col("__szb") - lit(1e-9))
            .filter(lit(1) + least(col("__sza") - col("__pa"),
              col("__szb") - col("__pb")) >= alpha)
            .select("a", "b").distinct()
          t("base noop") { consume(base) }
          t("tok noop") { consume(tok) }
          t("dfs noop") { consume(dfs) }
          t("prefix noop") { consume(prefix) }
          t("cand noop") { consume(cand) }
          t("full q246 noop") { consume(graft.text.DedupOps
            .prefixFilterJaccardPairs(docs, "doc_id", textCol)) }
          println("  counts: base=" + base.count() + " tok=" + tok.count() +
            " prefix=" + prefix.count() + " cand=" + cand.count())
        case other => sys.error(s"unknown probe $other")
      }
      isolate(spark)
    }
    spark.stop()
  }
}
