package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.text.{DedupOps, ExactSubstrIndex}

/** Persistable exact-substring decontamination index: probe-saved must
  * equal the recompute operator bit for bit, incremental add must equal a
  * from-scratch build of the union corpus, and the streaming twin must
  * replay identically in batch.
  */
class ExactSubstrIndexSpec extends SparkSpec {
  import spark.implicits._

  // Planted fixture (same shape as TextDedupSpec's contam fixture): one
  // 40-char template shared verbatim between train and eval (> sub=24, so
  // it must surface as a span), eval-only repetition (must NOT flag), and
  // unique filler long enough to clear the window everywhere.
  private val template = "the quick brown fox jumps over the lazy dog"
  private def trainDocs = Seq(
    (1L, s"train doc alpha padding padding $template train tail marker one"),
    (2L, s"completely unrelated training text with no shared windows at all xx"),
    (3L, s"another train doc where $template appears a second time in corpus")
  ).toDF("doc_id", "text")
  private def evalDocs = Seq(
    (10L, s"eval doc begins here $template and then eval-only suffix words"),
    (11L, "eval doc with zero overlap against the training corpus whatsoever"),
    // eval-internal duplication only — recompute ignores it, probe must too
    (12L, "repeat segment xyz repeat segment xyz repeat segment xyz padding")
  ).toDF("doc_id", "text")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"xsub_$tag").toFile
    d.delete(); d.getAbsolutePath
  }

  test("probeSpans on a saved index == exactSubstrContamSpans recompute") {
    val dir = tmpDir("probe")
    ExactSubstrIndex.build(trainDocs, col("text"), dir, sub = 24, buckets = 8)
    val probed = ExactSubstrIndex.probeSpans(spark, dir, evalDocs,
      "doc_id", col("text")).orderBy("doc", "start_pos").collect()
    val recomputed = DedupOps.exactSubstrContamSpans(evalDocs, trainDocs,
      "doc_id", col("text"), sub = 24).orderBy("doc", "start_pos").collect()
    assert(probed.toSeq == recomputed.toSeq)
    // the planted template must actually flag (non-vacuous fixture)
    assert(probed.exists(_.getAs[Long]("doc") == 10L))
    // eval-internal duplication alone never flags
    assert(!probed.exists(_.getAs[Long]("doc") == 12L))
  }

  test("probeCard matches exactSubstrContamCard, empty-eval-doc keeps clean") {
    val dir = tmpDir("card")
    ExactSubstrIndex.build(trainDocs, col("text"), dir, sub = 24, buckets = 8)
    val withEmpty = evalDocs.unionByName(Seq((13L, "")).toDF("doc_id", "text"))
    val probed = ExactSubstrIndex.probeCard(spark, dir, withEmpty,
      "doc_id", col("text"), maxContamFrac = 0.05)
      .orderBy("doc").collect()
    val recomputed = DedupOps.exactSubstrContamCard(withEmpty, trainDocs,
      "doc_id", col("text"), sub = 24, maxContamFrac = 0.05)
      .orderBy("doc").collect()
    assert(probed.toSeq == recomputed.toSeq)
    val empty = probed.find(_.getAs[Long]("doc") == 13L).get
    assert(empty.getAs[Double]("contam_frac") == 0.0)
    assert(empty.getAs[Boolean]("clean"))
  }

  test("build(A) + add(B) == build(A union B): gram relation and probe") {
    val a = trainDocs.filter(col("doc_id") <= 2)
    val b = trainDocs.filter(col("doc_id") > 2)
    val incDir = tmpDir("inc")
    val fullDir = tmpDir("full")
    ExactSubstrIndex.build(a, col("text"), incDir, sub = 24, buckets = 8)
    val added = ExactSubstrIndex.add(spark, incDir, b, col("text"))
    assert(added > 0)
    ExactSubstrIndex.build(trainDocs, col("text"), fullDir,
      sub = 24, buckets = 8)
    def gramSet(dir: String) =
      ExactSubstrIndex.loadGrams(spark, dir)
        .select("h", "g", "bucket").collect().toSet
    assert(gramSet(incDir) == gramSet(fullDir))
    val viaInc = ExactSubstrIndex.probeSpans(spark, incDir, evalDocs,
      "doc_id", col("text")).orderBy("doc", "start_pos").collect()
    val viaFull = ExactSubstrIndex.probeSpans(spark, fullDir, evalDocs,
      "doc_id", col("text")).orderBy("doc", "start_pos").collect()
    assert(viaInc.toSeq == viaFull.toSeq)
    // idempotence: re-adding the same batch appends nothing
    assert(ExactSubstrIndex.add(spark, incDir, b, col("text")) == 0L)
  }

  test("every job add launches, the meta read included, carries the add label") {
    val dir = tmpDir("addlabel")
    ExactSubstrIndex.build(trainDocs.filter(col("doc_id") <= 2), col("text"), dir,
      sub = 24, buckets = 8)
    val (_, jobs) = graft.obs.JobLog.during(spark) {
      ExactSubstrIndex.add(spark, dir, trainDocs.filter(col("doc_id") > 2), col("text"))
    }
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.label == s"xsub: add batch -> $dir"), jobs)
  }

  test("streaming contamMatches == batch replay (stream-static semi join)") {
    val dir = tmpDir("stream")
    ExactSubstrIndex.build(trainDocs, col("text"), dir, sub = 24, buckets = 8)
    val idx = ExactSubstrIndex.loadGrams(spark, dir)
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    val out = ExactSubstrIndex.contamMatches(streamDf, idx,
      "doc_id", col("text"), sub = 24)
    val q = out.writeStream.format("memory").queryName("contam_matches")
      .outputMode("append").start()
    try {
      val rows = evalDocs.as[(Long, String)].collect()
      mem.addData(rows.take(2).toSeq: _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("contam_matches")
        .select("doc", "pos").collect().toSet
      val batch = ExactSubstrIndex.contamMatches(evalDocs, idx,
        "doc_id", col("text"), sub = 24).collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty) // the planted template produces matches
      // matches are exactly the recompute operator's marked positions:
      // island-merging them reproduces the span output
      val merged = DedupOps.mergeIslandSpans(
        spark.table("contam_matches").select("doc", "pos"), sub = 24)
        .orderBy("doc", "start_pos").collect()
      val spans = DedupOps.exactSubstrContamSpans(evalDocs, trainDocs,
        "doc_id", col("text"), sub = 24)
        .orderBy("doc", "start_pos").collect()
      assert(merged.toSeq == spans.toSeq)
    } finally q.stop()
  }

  test("probe with eval shorter than the window or empty returns no spans") {
    val dir = tmpDir("short")
    ExactSubstrIndex.build(trainDocs, col("text"), dir, sub = 24, buckets = 8)
    val shorty = Seq((20L, "tiny"), (21L, "")).toDF("doc_id", "text")
    assert(ExactSubstrIndex.probeSpans(spark, dir, shorty,
      "doc_id", col("text")).count() == 0L)
  }

  test("hash-format mismatch fails LOUD at load, never a silent empty probe") {
    // a saved index whose stored h column came from a different hash
    // function would semi-join to nothing — the failure mode that
    // surfaced as q288/q296 returning zero rows against a stale
    // md5-32-era cache. The meta hash stamp turns it into a raise.
    val dir = tmpDir("hashver")
    ExactSubstrIndex.build(trainDocs, col("text"), dir, sub = 24, buckets = 8)
    // legacy index: meta without a `hash` column (md5-32 era)
    Seq((24, 8)).toDF("sub", "buckets")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val legacy = intercept[IllegalArgumentException] {
      ExactSubstrIndex.loadMeta(spark, dir)
    }
    assert(legacy.getMessage.contains("md5-32-legacy"))
    assert(legacy.getMessage.contains("rebuild"))
    // foreign version string
    Seq((24, 8, "someother-9")).toDF("sub", "buckets", "hash")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val foreign = intercept[IllegalArgumentException] {
      ExactSubstrIndex.probeSpans(spark, dir, trainDocs, "doc_id",
        col("text")).count()
    }
    assert(foreign.getMessage.contains("someother-9"))
    // matching version loads fine
    Seq((24, 8, ExactSubstrIndex.HashVer)).toDF("sub", "buckets", "hash")
      .write.mode("overwrite").parquet(s"$dir/meta")
    assert(ExactSubstrIndex.loadMeta(spark, dir).sub == 24)
  }

  test("adaptiveBuckets: sub=24 keeps the x40 sizing, a longer window never " +
      "gets fewer buckets") {
    // Range stats are exact: 8 bytes x 250k rows = 2 MB of input, x40 at
    // sub=24 = 80 MB of grams = 19 buckets of ~4 MB (inside the [8, 64]
    // clamp, so the sub scaling is visible); sub=48 doubles the grams
    val train = spark.range(250000L).toDF()
    assert(train.queryExecution.optimizedPlan.stats.sizeInBytes == 2000000)
    val at24 = ExactSubstrIndex.adaptiveBuckets(train, 24)
    assert(at24 == 19)
    val at48 = ExactSubstrIndex.adaptiveBuckets(train, 48)
    assert(at48 >= at24)
    assert(at48 == 38)
  }
}
