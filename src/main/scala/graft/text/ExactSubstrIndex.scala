package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.obs.JobLog

/** PERSISTABLE exact-substring decontamination index — the build-once /
  * probe-many form of [[DedupOps.exactSubstrContamSpans]].
  *
  * The recompute operator re-explodes the ENTIRE train corpus on every
  * decontamination run; the real 100 TB use case is the opposite shape — a
  * fixed train corpus probed repeatedly by eval sets and incoming batches.
  * This index materializes the train side ONCE: the distinct set of
  * `sub`-char grams (each with its ~60-bit rolling window hash —
  * [[graft.functions.WindowHashes]]), parquet-partitioned
  * by a bounded hash bucket exactly like the BM25 inverted index
  * ([[Retrieval.buildInvertedIndex]]) and the saved IVF cells. A probe then
  * pays only eval-side work: explode the eval docs, hash-prune against the
  * index's `h` column (a 12-byte-per-row semi join — parquet column pruning
  * means the gram text is never read for this phase), re-extract the real
  * gram text for the surviving candidates only, and verify by exact text
  * equality against the index — identical two-phase
  * hash-prune-then-verify semantics as the recompute operator, so
  * probe(saved) == recompute bit for bit, and a hash collision can never
  * contaminate.
  *
  * Index contents are the DISTINCT gram relation of the train corpus (not
  * per-occurrence postings): decontamination only asks "does this gram occur
  * ANYWHERE in train", so multiplicity is dropped at build time — the index
  * is bounded by train chars and typically far smaller.
  *
  * Incremental add keeps the invariant `index == distinct grams of the
  * union corpus`: a batch's grams are anti-joined against the stored
  * relation and only the genuinely new rows append (pure parquet append to
  * their hash-bucket partitions, never dynamic partition overwrite —
  * concurrent probes keep a consistent view). build(A) then add(B) is
  * therefore EXACTLY build(A ∪ B), which is the q289 oracle invariant.
  */
object ExactSubstrIndex {

  import TextAnalysis.gramHash64

  /** Hash-format version stamped into `meta` at build time and REQUIRED
    * at load time: the stored `h` column and a probe's window hashes must
    * come from the same function, or every semi join silently returns
    * empty — an index that "works" but decontaminates nothing. A version
    * bump (md5-32 → the rolling two-mod rk64) therefore fails loud with a
    * rebuild pointer instead. */
  final val HashVer = "rk64-1"

  final case class Meta(sub: Int, buckets: Int, hashVer: String)

  /** Exploded PER-OCCURRENCE (h, g) gram rows — NOT distinct. The hash is
    * derived map-side, before any exchange, so every downstream dedup or
    * join can key on it directly (r15, guide §2.4: two operations keyed the
    * same way share one exchange). */
  private def gramOccurrences(docs: DataFrame, textCol: Column,
      sub: Int): DataFrame = {
    require(sub >= 2, s"ExactSubstrIndex needs sub >= 2 (got $sub)")
    // spread an under-partitioned scan before the ~|text|-way explode
    // (see [[graft.ops.Spread.forAmplification]]); no-op on split inputs
    graft.ops.Spread.forHeavyAmplification(
        docs.filter(textCol.isNotNull && length(textCol) >= sub)
          .select(textCol.as("__t")))
      .select(explode(transform(
        sequence(lit(1), length(col("__t")) - (sub - 1)),
        i => col("__t").substr(i, lit(sub)))).as("g"))
      .select(gramHash64(col("g")).as("h"), col("g"))
  }

  /** The distinct `sub`-char gram relation of a corpus: (h, g, bucket).
    * One explode + one distinct — both keyed, linear in corpus chars.
    *
    * r15 (guide §2.4): the distinct now runs on (h, g) WITH the hash
    * already derived — h is a function of g, so the dedup is unchanged,
    * but the distinct's exchange is hashpartitioning(h, g), exactly the
    * key [[add]]'s novelty anti join needs, so the join reuses it instead
    * of re-shuffling the whole relation (the r14 plan paid
    * Exchange(g) for the distinct and then Exchange(h, g) for the join).
    */
  def gramRelation(docs: DataFrame, textCol: Column, sub: Int,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"ExactSubstrIndex needs buckets >= 1 (got $buckets)")
    gramOccurrences(docs, textCol, sub)
      .distinct()
      .withColumn("bucket", pmod(col("h"), lit(buckets)).cast("int"))
  }

  /** Estimated gram-parquet bytes of a `sub`-char index over `train`: the
    * train input's file-based size (exact, unlike the gram relation's
    * explode-inflated optimizer estimate) times the amplification measured
    * at sub=24, ~40x, scaled by sub/24 (each char sits in ~sub grams).
    */
  private def gramBytes(train: DataFrame, sub: Int): Long = {
    val inputEst = train.queryExecution.optimizedPlan.stats.sizeInBytes
    (inputEst * 40 * sub / 24).min(BigInt(Long.MaxValue)).toLong
  }

  /** Scale-adaptive bucket count for [[build]]: enough bucket dirs that a
    * corpus-scale build writes in parallel, few enough that a small corpus
    * does not shatter into tiny files (r15, guide §6: the measured sf0.1
    * index was 22 MB in 131 files at the old fixed buckets=64, and the
    * build+add file/commit overhead — not bytes — dominated q289; 8
    * buckets halved build+add): one bucket per ~4 MB of [[gramBytes]],
    * clamped to [8, maxBuckets]. Layout only: bucket count never changes
    * any probe result, and `meta` records whatever was used.
    */
  def adaptiveBuckets(train: DataFrame, sub: Int, maxBuckets: Int = 64): Int =
    math.max(8L, math.min(maxBuckets.toLong,
      gramBytes(train, sub) / (4L << 20))).toInt

  /** Build and persist the index: `dir/meta` records (sub, buckets),
    * `dir/grams` holds the distinct gram relation partitioned by hash
    * bucket (bounded directory count; file-level pruning for bucket-scoped
    * maintenance reads).
    *
    * r15 (guide §2.4): ONE exchange instead of two. The r14 plan shuffled
    * the relation once for the distinct (hash(g)) and once more to align
    * write tasks to bucket dirs. bucket and the sub-file slot are
    * deterministic functions of g, so partitioning BY THEM co-locates
    * equal grams too — the repartition IS the dedup exchange: the distinct
    * above it needs no second shuffle (hashpartitioning(bucket, __sf)
    * satisfies the aggregate's clustering on a subset of its keys), and
    * write tasks stay bucket-aligned.
    */
  def build(train: DataFrame, textCol: Column, dir: String,
      sub: Int = 24, buckets: Int = 64): Unit = {
    val spark = train.sparkSession
    import spark.implicits._
    JobLog.phase(spark.sparkContext, s"xsub: build grams -> $dir") {
      // ~128 MB files, clamped to [1, 4096] per bucket
      val filesPerBucket = math.max(1L, math.min(4096L,
        gramBytes(train, sub) / (128L << 20) / buckets)).toInt
      // __sf spreads WITHIN a bucket: (h / buckets) mod files is
      // independent of h mod buckets for a uniform hash, unlike the r14
      // pmod(h, files) slot, which collapses to the bucket value whenever
      // files divides buckets (64 pairs instead of 64*files — most write
      // partitions empty)
      val rel = gramOccurrences(train, textCol, sub)
        .withColumn("bucket", pmod(col("h"), lit(buckets)).cast("int"))
        .withColumn("__sf", pmod(expr(s"h div $buckets"),
          lit(filesPerBucket.toLong)).cast("int"))
        .repartition(buckets * filesPerBucket, col("bucket"), col("__sf"))
        .distinct()
        .drop("__sf")
      rel.write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/grams")
      Seq((sub, buckets, HashVer)).toDF("sub", "buckets", "hash")
        .write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  def loadMeta(spark: SparkSession, dir: String): Meta = {
    val df = spark.read.parquet(s"$dir/meta")
    val r = df.head()
    // pre-versioning indexes (md5-32 era) carry no `hash` column
    val ver = if (df.columns.contains("hash")) r.getAs[String]("hash")
              else "md5-32-legacy"
    require(ver == HashVer,
      s"ExactSubstrIndex at $dir was built with hash format '$ver' but " +
        s"this build probes with '$HashVer' — a mismatched probe would " +
        s"silently match nothing; rebuild the index (ExactSubstrIndex" +
        s".build) or probe with the matching build")
    Meta(r.getAs[Int]("sub"), r.getAs[Int]("buckets"), ver)
  }

  /** The stored gram relation. Column-prune-friendly: phase-1 probes that
    * select only `h` never read the gram text pages. */
  def loadGrams(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/grams")

  /** Incremental ADD: compute the batch's distinct gram relation, keep only
    * grams NOT already indexed (one keyed anti join against the stored
    * relation), append them to their bucket partitions. Returns the number
    * of appended grams. After the add the stored relation equals
    * `gramRelation(original ∪ batch)` exactly — multiplicity was never
    * stored, so no count maintenance is needed.
    */
  def add(spark: SparkSession, dir: String, batch: DataFrame,
      textCol: Column): Long = {
    JobLog.phase(spark.sparkContext, s"xsub: add batch -> $dir") {
      val meta = loadMeta(spark, dir)
      val existing = loadGrams(spark, dir)
      // r14: the novelty anti join keys on (h, g) instead of g alone —
      // h = gramHash64(g) on BOTH sides, so the join relation is unchanged
      // (h equality is implied by g equality), but the sort-merge now
      // orders by the 8-byte hash first and falls back to full string
      // comparison only within an h tie (~never at 60 bits) instead of
      // comparing 24-char strings at every node of the sort.
      val fresh = gramRelation(batch, textCol, meta.sub, meta.buckets)
        .join(existing.select("h", "g"), Seq("h", "g"), "left_anti")
        .select("h", "g", "bucket")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = fresh.count()
      // pure append: existing bucket files are immutable, so a concurrent
      // probe reads either the pre- or post-add relation, never a torn one.
      // Write tasks align to bucket dirs (the build() layout rationale);
      // an incremental batch is bounded, so one file per bucket per add.
      fresh.repartition(meta.buckets, col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$dir/grams")
      fresh.unpersist(blocking = false)
      n
    }
  }

  /** Probe a saved index with an eval corpus: maximal contamination spans
    * per eval doc, IDENTICAL semantics (and output schema) to
    * [[DedupOps.exactSubstrContamSpans]] with the index's train corpus —
    * (doc, start_pos, end_pos, span_chars, n_grams), positions 1-based
    * inclusive.
    *
    * Scale shape — this is the point of the index: total probe cost is
    * linear in EVAL chars. Phase 1 explodes only the eval side to
    * (doc, pos, h) and semi-joins the index's `h` column (the index scan
    * reads one int column); phase 2 re-extracts gram text only for the
    * surviving candidates and verifies by (h, g) equality — the train
    * corpus is never touched, and the heavy train-side explode was paid
    * once at build time.
    */
  def probeSpans(spark: SparkSession, dir: String, evalDf: DataFrame,
      idCol: String, textCol: Column,
      maxBroadcastHashes: Long = 4000000L): DataFrame = {
    val meta = loadMeta(spark, dir)
    val sub = meta.sub
    val idx = loadGrams(spark, dir)
    val evRaw = evalDf.filter(textCol.isNotNull && length(textCol) >= sub)
      .select(col(idCol).as("doc"), textCol.as("__t"))
    // spread an under-partitioned eval scan before its gram explode
    // (see [[graft.ops.Spread.forAmplification]]); no-op on split inputs
    val ev = graft.ops.Spread.forHeavyAmplification(evRaw, col("doc"))
    // same O(n)/60-bit prune hash as the recompute operators; equals
    // gramHash64 of the window's text, which is what the index stores
    val evH = ev.select(col("doc"),
        posexplode(TextAnalysis.windowHashes64(col("__t"), sub))
          .as(Seq("__p0", "h")))
      .select(col("doc"), (col("__p0") + 1).as("pos"), col("h"))
    // ADAPTIVE probe direction. The decontamination-shaped case — eval set
    // ≪ train corpus — broadcasts the eval's distinct window hashes ONTO
    // the index scan, so the (train-sized) index is read map-side only and
    // NEVER shuffles: `hits` = index rows whose hash occurs in eval, a
    // relation bounded by the eval hash count, and both probe phases then
    // semi-join small broadcast tables. A large eval batch falls back to
    // the keyed semi-join plan, which shuffles 12-byte rows — both paths
    // are the same two scans of the index (h column; h+g for the verify),
    // same exact semantics. The decision metric is the eval POSITION
    // count (one cheap length aggregate, no explode/shuffle) — an upper
    // bound on the distinct hash count, compared against
    // `maxBroadcastHashes`.
    val nEvalPositions = {
      val r = evRaw // pre-spread frame: the length aggregate needs no shuffle
        .agg(sum(greatest(length(col("__t")) - (sub - 1), lit(0)).cast("long")))
        .head()
      if (r.isNullAt(0)) 0L else r.getLong(0) // null sum = empty eval side
    }
    val marked = if (nEvalPositions <= maxBroadcastHashes) {
      val evHashSet = evH.select("h").distinct()
      val hits = idx.select("h", "g").join(broadcast(evHashSet), Seq("h"))
      val evCand = evH.join(broadcast(hits.select("h").distinct()),
        Seq("h"), "left_semi")
      evCand.join(ev, Seq("doc"))
        .select(col("doc"), col("pos"), col("h"),
          col("__t").substr(col("pos"), lit(sub)).as("g"))
        .join(broadcast(hits), Seq("h", "g"), "left_semi")
        .select(col("doc"), col("pos"))
    } else {
      val evCand = evH.join(idx.select("h"), Seq("h"), "left_semi")
      evCand.join(ev, Seq("doc"))
        .select(col("doc"), col("pos"), col("h"),
          col("__t").substr(col("pos"), lit(sub)).as("g"))
        .join(idx.select("h", "g"), Seq("h", "g"), "left_semi")
        .select(col("doc"), col("pos"))
    }
    DedupOps.mergeIslandSpans(marked, sub)
  }

  /** Per-eval-doc contamination CARD over [[probeSpans]] — same contract
    * as [[DedupOps.exactSubstrContamCard]] (zeros via left join, empty-doc
    * guard, round-6 fraction, strict threshold): (doc, n_chars, n_spans,
    * contam_chars, contam_frac, clean). */
  def probeCard(spark: SparkSession, dir: String, evalDf: DataFrame,
      idCol: String, textCol: Column,
      maxContamFrac: Double = 0.05): DataFrame = {
    val agg = probeSpans(spark, dir, evalDf, idCol, textCol)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_spans"),
        sum("span_chars").as("contam_chars"))
    evalDf.filter(textCol.isNotNull)
      .select(col(idCol).as("doc"), length(textCol).cast("long").as("n_chars"))
      .join(agg, Seq("doc"), "left")
      .select(col("doc"), col("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("contam_chars"), lit(0L)).as("contam_chars"),
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(round(
            coalesce(col("contam_chars"), lit(0L)) / col("n_chars"), 6))
          .as("contam_frac"))
      .withColumn("clean", col("contam_frac") < maxContamFrac)
  }

  /** Streaming decontamination twin: exploded (doc, pos) CONTAMINATION
    * MATCHES of a streaming doc source against a STATIC gram relation —
    * the per-micro-batch form of [[probeSpans]]'s phase 1+2 (the island
    * merge is per-doc downstream work a batch consumer replays; the
    * stream emits the verified positions, which is the exact evidence
    * set). Stream-static semi joins are STATELESS in Structured Streaming
    * (the static side is re-broadcast/scanned per micro-batch), so this
    * composes in Append mode with no watermark and replays identically in
    * a batch run — the parity contract StreamingDecontamSpec pins.
    */
  def contamMatches(docs: DataFrame, idxGrams: DataFrame, idCol: String,
      textCol: Column, sub: Int): DataFrame = {
    val ev = docs.filter(textCol.isNotNull && length(textCol) >= sub)
      .select(col(idCol).as("doc"), textCol.as("__t"))
    // carry the gram text with the hash: a stream cannot re-join itself to
    // recover the doc row, so each exploded row is self-contained
    ev.select(col("doc"),
        explode(transform(sequence(lit(1), length(col("__t")) - (sub - 1)),
          i => struct(i.as("pos"), col("__t").substr(i, lit(sub)).as("g"))))
          .as("w"))
      .select(col("doc"), col("w.pos").as("pos"), col("w.g").as("g"),
        gramHash64(col("w.g")).as("h"))
      .join(idxGrams.select("h", "g"), Seq("h", "g"), "left_semi")
      .select(col("doc"), col("pos"))
  }
}
