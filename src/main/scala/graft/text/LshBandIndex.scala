package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.JobLog

/** PERSISTABLE MinHash/LSH band index with incremental add — the fuzzy
  * sibling of [[DedupOps.incrementalExactDedup]] (exact keys) and the
  * IVF-PQ add path ([[graft.sim.Pq.appendToSavedIvfPqIndex]]) on the dedup
  * ladder: near-duplicate candidate generation against a GROWING corpus
  * without ever re-signaturing it.
  *
  * Stored relation: one row per (doc, band) — (doc, band_id, band_val),
  * parquet-partitioned by (band_id, hash-bucket-of-band_val). Per-doc band
  * rows are a pure projection of the doc's MinHash signature, so
  *   - ADD is signature-project + a (doc, band_id) anti join against the
  *     stored relation + parquet append (no existing-file rewrite —
  *     concurrent probes keep a consistent view). The anti join makes add
  *     IDEMPOTENT, so build(A) then add(B) equals build(A ∪ B) EXACTLY
  *     even when B overlaps A (the stored relation is a per-doc
  *     projection; grouping never matters);
  *   - PROBE is one equi join of the batch's band rows against the stored
  *     relation on (band_id, band_val) — candidates only ever come from
  *     shared buckets, never all pairs.
  *
  * Hot-bucket posture (the q246/q55 lesson at corpus scale): a viral
  * band_val — near-identical boilerplate minhashing into one bucket —
  * would fan every probe doc out against the whole bucket. The probe
  * considers only the `maxBucket` SMALLEST doc ids per stored bucket
  * (deterministic, so an oracle replays it): a newcomer matching viral
  * boilerplate still pairs with a bounded, stable sample of it, which is
  * all a dedup decision needs. Buckets at or under the cap are exhaustive,
  * so with no oversized bucket the probe is exactly the uncapped join.
  */
object LshBandIndex {

  final case class Meta(n: Int, bandsOf: Int, buckets: Int)

  /** The band relation of a corpus: (doc, band_id, band_val, bucket).
    * One explode + one groupBy (the signature aggregate) + one projection.
    */
  def bandRelation(docs: DataFrame, idCol: String, textCol: Column,
      n: Int, bandsOf: Int, buckets: Int): DataFrame = {
    require(bandsOf >= 1 && DedupOps.MinhashSeeds.size % bandsOf == 0,
      s"LshBandIndex: bandsOf must divide ${DedupOps.MinhashSeeds.size}")
    require(buckets >= 1, s"LshBandIndex needs buckets >= 1 (got $buckets)")
    val sig = DedupOps.minhashSignatures(docs, idCol, textCol, n)
    DedupOps.bandRows(sig, idCol, bandsOf)
      .select(col(idCol).as("doc"), col("band_id"), col("band_val"),
        pmod(hash(col("band_val")), lit(buckets)).as("bucket"))
  }

  /** Scale-adaptive bucket count for [[build]] (r15, guide §6 — the
    * ExactSubstrIndex.adaptiveBuckets rationale): the band relation is
    * doc-bounded (docs × nBands short rows, far SMALLER than the input
    * text), so the fixed buckets=16 shattered the local-scale index into
    * nBands×16 dirs of KB-files and the build/add/probe paid file and
    * commit overhead, not bytes. Anchored on the input's exact file-based
    * size (an upper bound on band bytes); capped at the r14 posture.
    * Layout only — bucket count never changes probe results, and `meta`
    * records whatever was used. */
  def adaptiveBuckets(docs: DataFrame, maxBuckets: Int = 16): Int = {
    val inputEst = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    math.max(1L, math.min(maxBuckets.toLong,
      (inputEst / (1L << 20)).min(BigInt(Long.MaxValue)).toLong)).toInt
  }

  /** Build and persist: `dir/meta` records (n, bandsOf, buckets),
    * `dir/bands` holds the band relation partitioned by (band_id, bucket)
    * — bounded directory count (nBands × buckets), file-level parallelism
    * for probes and bucket-scoped maintenance reads. */
  def build(docs: DataFrame, idCol: String, textCol: Column, dir: String,
      n: Int = 2, bandsOf: Int = 2, buckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    JobLog.phase(spark.sparkContext, s"lshidx: build bands -> $dir") {
      // r14 (guide §6, the ExactSubstrIndex.build layout rationale): align
      // write tasks to (band_id, bucket) dirs — without it every
      // post-shuffle task holds rows of ~every dir and the dynamic writer
      // opens tasks×dirs files. filesPerDir grows with the RELATION size so
      // corpus-scale builds keep parallel ~64-128 MB files; locally it is
      // 1 file per dir. Layout only — the stored relation is unchanged.
      // r15: sizing anchors on the INPUT's exact file-based size (upper
      // bound on band bytes — the relation's own optimizer estimate is
      // unreliable post-aggregate and overflowed the old .toLong math, the
      // r14 advice finding), clamped to [1, 4096].
      val rel = bandRelation(docs, idCol, textCol, n, bandsOf, buckets)
      val nBands = DedupOps.MinhashSeeds.size / bandsOf
      val dirs = math.max(1, nBands * buckets)
      val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      val filesPerDir = math.max(1L, math.min(4096L,
        (est / (128L << 20) / dirs).min(BigInt(Long.MaxValue)).toLong)).toInt
      rel.repartition(dirs * filesPerDir, col("band_id"), col("bucket"),
          pmod(hash(col("doc")), lit(filesPerDir)))
        .write.mode("overwrite").partitionBy("band_id", "bucket")
        .parquet(s"$dir/bands")
      Seq((n, bandsOf, buckets)).toDF("n", "bandsOf", "buckets")
        .write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  def loadMeta(spark: SparkSession, dir: String): Meta = {
    val r = spark.read.parquet(s"$dir/meta").head()
    Meta(r.getAs[Int]("n"), r.getAs[Int]("bandsOf"), r.getAs[Int]("buckets"))
  }

  def loadBands(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/bands")

  /** Incremental ADD: signature-project the batch and append its band rows
    * to their (band_id, bucket) partitions. IDEMPOTENT for
    * content-identical re-adds — the batch's band rows left-join the
    * stored relation on (doc, band_id) (the [[ExactSubstrIndex.add]]
    * keyed-join discipline), and only unmatched rows append, so re-adding
    * an unchanged doc appends nothing and the relation equals a
    * from-scratch build of the union: add(A); add(A) == add(A). This is
    * idempotency, NOT upsert: a re-added doc whose TEXT changed would
    * leave the stale band rows in place, so a matched (doc, band_id) with
    * a DIFFERENT band_val fails loudly instead of silently keeping the
    * old signature — an LSH index covers immutable documents; mutate by
    * rebuild, not by add. The join reads only the stored relation's
    * (doc, band_id, band_val) columns (column-pruned scan);
    * genuinely-new batches pay one extra pruned scan for the crash-retry
    * safety (a re-driven batch after a failed job no longer duplicates
    * rows). Returns the number of appended band rows. */
  def add(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: Column): Long = {
    val meta = loadMeta(spark, dir)
    val joined = bandRelation(batch, idCol, textCol,
      meta.n, meta.bandsOf, meta.buckets)
      .join(loadBands(spark, dir)
          .select(col("doc"), col("band_id"),
            col("band_val").as("__stored_val")),
        Seq("doc", "band_id"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val changed = joined.filter(col("__stored_val").isNotNull &&
        col("__stored_val") =!= col("band_val")).count()
      if (changed > 0) throw new IllegalStateException(
        s"LshBandIndex.add: $changed band rows of re-added docs differ " +
          "from the stored signature — add is idempotent for " +
          "content-identical docs only (not an upsert); rebuild the " +
          "index to change a document's text")
      val rows = joined.filter(col("__stored_val").isNull)
        .drop("__stored_val")
      val cnt = rows.count()
      // write tasks align to dirs (the build() layout rationale); an
      // incremental batch is bounded, so one file per dir per add
      rows.repartition(col("band_id"), col("bucket"))
        .write.mode("append").partitionBy("band_id", "bucket")
        .parquet(s"$dir/bands")
      cnt
    } finally joined.unpersist(blocking = false)
  }

  /** Probe a saved index with a NEW batch: distinct candidate pairs
    * (idx_doc, probe_doc) sharing at least one band, the stored side
    * capped at the `maxBucket` smallest doc ids per (band_id, band_val)
    * bucket (see the class doc). The join is EQUI on (band_id, band_val)
    * — hash-partitioned, proportional to shared-bucket volume, never
    * |index| × |batch|. Intra-batch duplication is the batch operators'
    * job ([[DedupOps.lshCandidatePairs]] on the batch alone). */
  def probePairs(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: Column, maxBucket: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val meta = loadMeta(spark, dir)
    val stored = loadBands(spark, dir)
    val capped = stored
      .withColumn("__rn", row_number().over(
        Window.partitionBy("band_id", "band_val").orderBy(col("doc"))))
      .filter(col("__rn") <= maxBucket)
      .select(col("doc").as("idx_doc"), col("band_id"), col("band_val"))
    val probe = bandRelation(batch, idCol, textCol,
      meta.n, meta.bandsOf, meta.buckets)
      .select(col("doc").as("probe_doc"), col("band_id"), col("band_val"))
    capped.join(probe, Seq("band_id", "band_val"))
      .select("idx_doc", "probe_doc")
      .distinct()
  }
}
