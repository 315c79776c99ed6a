package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale design: everything is explode → hash-partitioned groupBy/join — no
  * driver-side pair loops. The LSH band join is the 100 TB path: candidate
  * generation is an equi join on (band_id, band_value), so the quadratic
  * all-pairs comparison never materializes; exact Jaccard runs only on the
  * candidate set.
  *
  * SIGNATURE hashes (minhash, simhash, shingle ids, winnowing
  * fingerprints) are md5-derived (TextAnalysis.md5Int32) so an external
  * engine can reproduce every signature bit-for-bit — they ARE the
  * semantics. The exact-substring family's window hashes are the
  * opposite contract: prune-only (candidates re-verify on gram text, so
  * the oracle never sees them), which frees them to be the O(1)-per-
  * position ~60-bit rolling hash ([[graft.functions.WindowHashes]]) that
  * still prunes at 1e14 positions where 32 bits collapse.
  */
object DedupOps {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  import TextAnalysis.{md5Int32, tokens}

  /** Word n-gram shingles (distinct), as an array column. Empty when the text
    * has fewer than n tokens. Delegates to TextAnalysis.wordNgrams (the
    * O(n·tokens) zip_with-of-slices form, not element_at-per-index).
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextAnalysis.wordNgrams(text, n))

  /** Exact-duplicate groups: key = md5 of a normalized prefix (or full text).
    * Returns one row per duplicated key with its cardinality.
    */
  def exactDupGroups(df: DataFrame, idCol: String, keyExpr: Column): DataFrame =
    df.groupBy(keyExpr.as("dup_key"))
      .agg(count(col(idCol)).as("n_docs"), min(col(idCol)).as("first_id"))
      .filter(col("n_docs") > 1)

  /** Deterministic universal-hash seeds (a, b) for h_i(x) = (a·x + b) mod p.
    * a < 2^31 so a·x stays within long for 32-bit x.
    */
  val MinhashSeeds: Seq[(Long, Long)] = Seq(
    (1000003L, 17L), (999983L, 911L), (824633L, 337L),
    (715827883L, 101L), (179424673L, 41L), (97L, 8191L))

  val MinhashP: Long = 2147483647L

  /** MinHash signature per document: (idCol, sig_0 … sig_{k-1}).
    * One explode + one groupBy. The shuffle is TINY: HashAggregate's partial
    * (map-side) aggregation folds the per-shingle rows into one 6-min partial
    * row per (partition, document) before the exchange, so only ~|docs| rows
    * move — and the aggregate's exchange is reused by both sides of the LSH
    * band self-join downstream. (A shuffle-free higher-order-function
    * projection variant was measured 3× SLOWER here: HOFs evaluate
    * interpreted, losing to this whole-stage-codegen'd explode+groupBy.)
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: Column, n: Int): DataFrame = {
    val sh = graft.ops.Spread.forAmplification(df, col(idCol))
      .select(col(idCol), explode(shingles(textCol, n)).as("sh"))
      .withColumn("h", md5Int32(col("sh")))
    val aggs = MinhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % MinhashP).as(s"sig_$i")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-ROW MinHash signature columns via higher-order functions — no
    * explode, no groupBy, no shuffle. For BATCH work prefer
    * [[minhashSignatures]] (codegen'd explode+groupBy measured 3× faster);
    * this projection form exists for STREAMING, where Append-mode stateful
    * operators forbid upstream aggregations — a pure projection composes
    * with flatMapGroupsWithState where the groupBy form cannot.
    * The md5 array materializes in its own projection (the size filter
    * between projections blocks CollapseProject from inlining it per seed).
    */
  def minhashSignatureProjection(df: DataFrame, idCol: String, textCol: Column,
      n: Int): DataFrame = {
    val sigCols = MinhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("__hv"), h => (h * a + b) % MinhashP)).as(s"sig_$i")
    }
    df.select(col(idCol), transform(shingles(textCol, n), md5Int32(_)).as("__hv"))
      .filter(size(col("__hv")) > 0)
      .select(col(idCol) +: sigCols: _*)
  }

  /** LSH banding over the signature: bandsOf consecutive signature slots per
    * band; returns candidate pairs (d1 < d2) sharing at least one band.
    *
    * Hot-bucket cap: a single band value shared by m documents contributes
    * m·(m−1)/2 pairs — one viral boilerplate text at corpus scale turns the
    * self-join quadratic (the band-bucket twin of the n-gram stop-shingle
    * problem). Buckets larger than `maxBucket` are CHAINED instead of
    * paired all-to-all: members sort-rank within the bucket and each links
    * only to its successor, so the bucket stays one connected component for
    * downstream clustering (connected components / keep-decision semantics
    * are IDENTICAL) at O(m) pairs instead of O(m²). Buckets at or under the
    * cap are exhaustively paired, so with no oversized bucket (the
    * fixtures; asserted in TextDedupSpec) output is exactly the uncapped
    * pair set. Pairwise consumers at scale should treat chained buckets as
    * "same cluster" evidence, which is what every caller here does.
    */
  def lshCandidatePairs(sig: DataFrame, idCol: String, bandsOf: Int = 2,
      maxBucket: Int = 4096): DataFrame = {
    log.info(s"lshCandidatePairs: chaining band buckets larger than $maxBucket")
    val bands = bandRows(sig, idCol, bandsOf)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band_id"), col("band_val"))
    // size via an ORDER-FREE window (no per-bucket sort; partitioning is the
    // same hash(band_id, band_val) the join below needs, so the exchange is
    // shared); the row_number sort is paid only by oversized buckets
    val sized = bands.withColumn("__m", count(lit(1)).over(w))
    val small = sized.filter(col("__m") <= maxBucket).drop("__m")
    val l = small.select(col(idCol).as("d1"), col("band_id"), col("band_val"))
    val r = small.select(col(idCol).as("d2"), col("band_id"), col("band_val"))
    val exhaustive = l.join(r, Seq("band_id", "band_val"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
    // oversized buckets: rank-successor chain (id-sorted, so d1 < d2)
    val big = sized.filter(col("__m") > maxBucket)
      .withColumn("__rk", row_number().over(w.orderBy(col(idCol))))
    val chained = big.select(col(idCol).as("d1"),
        col("band_id"), col("band_val"), col("__rk"))
      .join(big.select(col(idCol).as("d2"), col("band_id"), col("band_val"),
        (col("__rk") - 1).as("__rk")), Seq("band_id", "band_val", "__rk"))
      .select("d1", "d2")
    exhaustive.unionByName(chained).distinct()
  }

  /** The banding projection shared by the pair join, the cluster-edge
    * variant and the persistable band index ([[LshBandIndex]]): one row
    * per (doc, band), band_val = the band's signature slots joined with
    * ",". A pure per-row projection — no shuffle.
    */
  private[graft] def bandRows(sig: DataFrame, idCol: String,
      bandsOf: Int): DataFrame = {
    val k = MinhashSeeds.size
    val nBands = k / bandsOf
    val bandVals = (0 until nBands).map { j =>
      struct(lit(j).as("band_id"),
        concat_ws(",", (0 until bandsOf).map(o => col(s"sig_${j * bandsOf + o}")): _*)
          .as("band_val"))
    }
    sig.select(col(idCol), explode(array(bandVals: _*)).as("b"))
      .select(col(idCol), col("b.band_id"), col("b.band_val"))
  }

  /** Band-bucket CONNECTIVITY edges — [[lshCandidatePairs]] for consumers
    * that only need the TRANSITIVE CLOSURE (connected-components
    * clustering, q55/q182): every bucket contributes its id-ordered
    * rank-successor CHAIN (m−1 edges) instead of its clique (m²/2
    * pairs). A chain connects exactly the same vertex set as the clique,
    * so components — and every cluster-level result downstream — are
    * IDENTICAL, while edge volume is linear in bucket size instead of
    * quadratic. On a templated corpus whose min-hashes collide into deep
    * buckets this is the difference between Σm and Σm² (measured: the
    * q55 sf1 clustering dropped ~10×), and the smaller edge list keeps
    * [[connectedComponents]] under its driver union-find bound far
    * longer. Pair-LISTING consumers (LSH verify/recall paths) must keep
    * [[lshCandidatePairs]] — a chain is not the pair set.
    */
  def lshClusterEdges(sig: DataFrame, idCol: String,
      bandsOf: Int = 2): DataFrame =
    lshCandidatePairs(sig, idCol, bandsOf, maxBucket = 1)

  /** Exact n-gram Jaccard similarity for all pairs above `threshold` within
    * `df` — via shingle-equi-join (pairs that share no shingle never meet).
    *
    * Stop-shingle cap: a shingle appearing in more than `maxShingleDf`
    * documents would make the intersect join quadratic in that shingle's
    * posting list (a single common bigram like "of the" at corpus scale), so
    * such shingles are dropped from candidate generation — standard
    * stop-shingle practice. Union sizes keep counting them, so results are
    * EXACT whenever no shingle exceeds the cap (the fixtures; asserted in
    * PropertiesSpec) and a conservative under-estimate otherwise (capped
    * results are a subset of uncapped).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: Column, n: Int, threshold: Double,
      maxShingleDf: Int = 10000): DataFrame =
    shingleIntersections(df, idCol, textCol, n, maxShingleDf)
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")

  /** Directed n-gram CONTAINMENT: C(src→dst) = |src ∩ dst| / |src| — the
    * asymmetric overlap that catches a short document quoted inside a long
    * one, which symmetric Jaccard structurally misses (50 shingles fully
    * inside 5000 score J ≈ 0.01 but C = 1.0 — the quote/boilerplate-reuse
    * case). One [[shingleIntersections]] pass; each undirected intersection
    * emits both directions. Output (src, dst, containment ≥ threshold).
    */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: Column, n: Int, threshold: Double,
      maxShingleDf: Int = 10000): DataFrame =
    // both directions from ONE projection over the intersection pass (a
    // unionAll of two selects would re-execute the post-shuffle joins)
    shingleIntersections(df, idCol, textCol, n, maxShingleDf)
      .select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst"),
          round(col("inter").cast("double") / col("sz1"), 6).as("containment")),
        struct(col("d2").as("src"), col("d1").as("dst"),
          round(col("inter").cast("double") / col("sz2"), 6).as("containment"))))
        .as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"),
        col("p.containment").as("containment"))
      .filter(col("containment") >= threshold)

  /** Shared core of the exact n-gram overlap measures: per-pair distinct
    * shingle intersection counts with both document sizes attached —
    * (d1 < d2, inter, sz1, sz2). Stop-shingle capped as documented on
    * [[ngramJaccardPairs]].
    */
  private def shingleIntersections(
      df: DataFrame, idCol: String, textCol: Column, n: Int,
      maxShingleDf: Int): DataFrame = {
    log.info(s"shingleIntersections: stop-shingle cap document-frequency > $maxShingleDf")
    val sh = graft.ops.Spread.forAmplification(df, col(idCol))
      .select(col(idCol).as("doc"), explode(shingles(textCol, n)).as("sh"))
    val sizes = sh.groupBy("doc").agg(count(lit(1)).as("sz"))
    // shingles are distinct per doc, so count(*) per shingle = document freq;
    // the stop list is tiny by construction -> broadcast anti join
    val stop = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf).select("sh")
    val pruned = sh.join(broadcast(stop), Seq("sh"), "left_anti")
    pruned.select(col("doc").as("d1"), col("sh"))
      .join(pruned.select(col("doc").as("d2"), col("sh")), Seq("sh"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col("doc").as("d2"), col("sz").as("sz2")), Seq("d2"))
  }

  /** The Spark-ML MinHashLSH path — the 100 TB alternative to the explicit
    * signature pipeline above: HashingTF shingle vectors → MinHashLSH →
    * approxSimilarityJoin. Trades the bit-reproducible md5 signatures (oracle
    * path) for the library's optimized AND-OR amplification.
    * Returns (d1, d2, jaccard_distance) pairs under the distance threshold.
    */
  def minhashLshML(df: DataFrame, idCol: String, textCol: Column, n: Int,
      distanceThreshold: Double, numHashTables: Int = 5): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val shingled = df.select(col(idCol), shingles(textCol, n).as("sh"))
      .filter(size(col("sh")) > 0)
    val tf = new HashingTF().setInputCol("sh").setOutputCol("features")
      .setNumFeatures(1 << 18)
    val vectorized = tf.transform(shingled)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42)
    val model = lsh.fit(vectorized)
    model.approxSimilarityJoin(vectorized, vectorized, distanceThreshold, "dist")
      .select(
        col(s"datasetA.$idCol").as("d1"),
        col(s"datasetB.$idCol").as("d2"),
        col("dist"))
      .filter(col("d1") < col("d2"))
  }

  /** Connected components over a candidate-pair graph — turns pairwise
    * near-dup detection into dedup DECISIONS (keep min-id doc per cluster).
    * Iterative min-label propagation (the Pregel pattern as DataFrame ops):
    * each iteration is one join + one aggregate, so an iteration scales as a
    * pair of shuffles; iterations are bounded by the cluster diameter (tiny
    * for near-dup graphs). Deterministic: the fixpoint label is the minimum
    * reachable doc id.
    */
  def connectedComponents(pairs: DataFrame, docs: DataFrame,
      maxIter: Int = 30, driverMaxPairs: Long = 200000L): DataFrame = {
    val p = pairs.select(col("d1"), col("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Adaptive: candidate-pair graphs are SMALL by construction (LSH has
      // already pruned), so when the edge list is driver-bounded a local
      // union-find beats ~log(n) distributed rounds of fixed job overhead
      // (measured 6 s -> ~1.5 s per clustering query at sf0.1). Above the
      // bound, the distributed pointer-jumping path takes over unchanged.
      if (p.count() <= driverMaxPairs) connectedComponentsLocal(p, docs)
      else connectedComponentsDistributed(p, docs, maxIter)
    } finally p.unpersist(blocking = false)
  }

  /** Driver union-find (union-by-min, path compression) over a bounded edge
    * list; docs outside the graph label themselves. The min-root invariant
    * reproduces the distributed fixpoint exactly: every union keeps the
    * smaller root, so each tree's root is its component's minimum id.
    */
  private def connectedComponentsLocal(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val mapping = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
      .map(x => (x, find(x)))
    val spark = docs.sparkSession
    import spark.implicits._
    val mapDf = broadcast(mapping.toDF("doc", "__cluster"))
    docs.join(mapDf, Seq("doc"), "left")
      .withColumn("cluster", coalesce(col("__cluster"), col("doc")))
      .select("doc", "cluster")
  }

  private def connectedComponentsDistributed(pairs: DataFrame, docs: DataFrame,
      maxIter: Int): DataFrame = {
    // checkpoint per iteration: without it the logical plan nests one
    // join+aggregate per round and analysis/codegen memory grows until OOM —
    // the standard iterative-DataFrame trap. When the session has a RELIABLE
    // checkpoint dir configured (HDFS/S3 — `sc.setCheckpointDir`), use it:
    // executor loss mid-iteration then recovers from storage instead of
    // failing the job (localCheckpoint pins blocks to executors and dies
    // with them). Local mode / tests fall back to localCheckpoint.
    val sc = pairs.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    def ckpt(df: DataFrame, eager: Boolean): DataFrame =
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    val edges = ckpt(pairs.select(col("d1").as("a"), col("d2").as("b"))
      .unionByName(pairs.select(col("d2").as("a"), col("d1").as("b"))), true)
    var labels = ckpt(docs.select(col("doc"), col("doc").as("label")), true)
    // labels only ever decrease, so the label sum is a strictly-monotone
    // convergence witness — one aggregate instead of a join+count per round
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val nbr = edges.join(labels, edges("b") === labels("doc"))
        .select(edges("a").as("doc"), col("label"))
      val viaNbr = labels.unionByName(nbr)
        .groupBy("doc").agg(min("label").as("label"))
      // pointer jumping: label(doc) := min(label(doc), label(label(doc))) —
      // turns chain-diameter convergence into O(log n) rounds
      val hop = viaNbr.as("x")
        .join(viaNbr.as("y"), col("x.label") === col("y.doc"))
        .select(col("x.doc").as("doc"), col("y.label").as("label"))
      // LAZY checkpoint: the labelSum aggregate below is the round's single
      // action — it materializes the checkpoint partitions and computes the
      // convergence witness in the same job (an eager checkpoint would cost
      // a second job per round)
      val next = ckpt(viaNbr.unionByName(hop)
        .groupBy("doc").agg(min("label").as("label")), false)
      val s = labelSum(next)
      changed = s.compareTo(prevSum) != 0
      prevSum = s
      labels = next
      i += 1
    }
    labels.withColumnRenamed("label", "cluster")
  }

  /** Production-shape INCREMENTAL exact dedup: clean an incoming batch
    * against the existing corpus without touching the corpus — anti join on
    * the content key (the existing side reduces to its distinct keys, which
    * at scale is the pre-built dedup index), then keep-first within the
    * batch itself. The corpus is never re-clustered; per-batch cost is one
    * keyed anti join + one bounded window.
    */
  def incrementalExactDedup(incoming: DataFrame, existing: DataFrame,
      idCol: String, keyExpr: Column): DataFrame = {
    // null-key contract: a NULL content key is not content — such rows are
    // excluded from the result (a null key never equi-joins, so it can't be
    // checked against the corpus; this also matches the Bloom variant,
    // where a null key hashes to null and falls out of both probe halves)
    val inKeyed = incoming.withColumn("__key", keyExpr)
      .filter(col("__key").isNotNull)
    val exKeys = existing.select(keyExpr.as("__key")).distinct()
    val newOnly = inKeyed.join(exKeys, Seq("__key"), "left_anti")
    graft.ops.Dedup.keepFirst(newOnly, Seq("__key"), Seq(idCol)).drop("__key")
  }

  /** Bloom-prefiltered incremental exact dedup — the 100 TB shape of
    * [[incrementalExactDedup]]. The existing corpus's key set is summarized
    * into a Bloom filter (one aggregate pass, fixed-size mergeable sketch;
    * `spark.stat.bloomFilter` builds it distributed and ships ~`-n·ln(fpp)/
    * ln(2)²` bits to the driver), broadcast to every executor, and used as a
    * map-side prefilter: a batch row whose key the filter rejects CANNOT be
    * in the corpus and skips the anti-join shuffle entirely. Only the
    * might-contain rows (true dups + `fpp` false positives) take the exact
    * anti join, so the result is EXACT — false positives cost a little work,
    * never a wrong row. With mostly-fresh batches (the common case) this
    * shrinks the shuffled batch side by ~(1 − dupRate − fpp).
    *
    * Build and probe are NATIVE Catalyst expressions (`BloomFilterAggregate`
    * / `BloomFilterMightContain` — the same pair Spark's runtime bloom-join
    * filter injects), reached through the bridge because neither is in the
    * public FunctionRegistry. Keys enter the sketch as `xxhash64` longs (the
    * LongUpdater path), so the probe is a whole-stage-codegen predicate over
    * a literal binary — no Scala UDF, no per-row SerDe, no driver broadcast
    * variable. The probe gates only which rows shuffle — every kept row is
    * still verified by the exact anti join, so neither the sketch's `fpp`
    * nor a 64-bit hash collision is ever a correctness dependency.
    */
  /** Build the existing-side key sketch and return the native probe
    * predicate constructor: one distributed `BloomFilterAggregate` pass over
    * `keys`, then a `BloomFilterMightContain` over the resulting binary
    * literal. A null sketch (empty existing side) yields a constant-false
    * probe — nothing can be a duplicate. `private[graft]` so PlanSpec can
    * assert the probe compiles to the codegen predicate, not a UDF.
    */
  private[graft] def bloomKeyProbe(keys: DataFrame,
      expectedKeys: Long, fpp: Double): Column => Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // optimal sizing: numBits = -n·ln(fpp)/ln(2)² for the requested rate
    val numBits = math.max(64L,
      math.ceil(-expectedKeys * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(keys.columns.map(col).head)),
        Literal(expectedKeys), Literal(numBits)).toAggregateExpression())
    // BloomFilterAggregate SILENTLY Math.min-caps its sizing at the runtime
    // bloom-join conf maxima (default 4M items / 64M bits) — under the caps
    // a 10M-key/1% request degrades to ~10% fpp and the prefilter quietly
    // passes 10× more clean rows into the verify join. Raise the caps for
    // the build so the requested sizing is honored, then restore.
    val conf = keys.sparkSession.conf
    val capKeys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> expectedKeys,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits)
    val saved = capKeys.map { case (k, _) => k -> conf.getOption(k) }
    val bloomBin =
      try {
        capKeys.foreach { case (k, v) =>
          val cur = conf.getOption(k).map(_.toLong).getOrElse(0L)
          if (cur < v) conf.set(k, v.toString)
        }
        keys.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    if (bloomBin == null) (_: Column) => lit(false)
    else (c: Column) => ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBin), ColumnBridge.expression(xxhash64(c))))
  }

  def incrementalExactDedupBloom(incoming: DataFrame, existing: DataFrame,
      idCol: String, keyExpr: Column,
      expectedKeys: Long = 10000000L, fpp: Double = 0.01): DataFrame = {
    val exKeyed = existing.select(keyExpr.as("__key"))
    val mightContain = bloomKeyProbe(exKeyed, expectedKeys, fpp)
    // probe once: both halves of the split read the cached keyed batch, not
    // the source twice (double source I/O + double probe otherwise)
    val inKeyed = incoming.withColumn("__key", keyExpr)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val definitelyNew = inKeyed.filter(!mightContain(col("__key")))
    val candidates = inKeyed.filter(mightContain(col("__key")))
    val exKeys = exKeyed.distinct()
    val verifiedNew = candidates.join(exKeys, Seq("__key"), "left_anti")
    // intra-batch keep-first still covers the WHOLE batch (both halves);
    // materialize eagerly so the batch cache can be released here
    val out = graft.ops.Dedup.keepFirst(definitelyNew.unionByName(verifiedNew),
      Seq("__key"), Seq(idCol)).drop("__key").localCheckpoint(true)
    inKeyed.unpersist(blocking = false)
    out
  }

  /** Corpus-wide exact PARAGRAPH dedup (the RefinedWeb/FineWeb repetition
    * remover): split each document on `sep`, keep each distinct paragraph
    * only at its FIRST occurrence (min doc id, then min position within that
    * doc), and reassemble each document from its surviving paragraphs in
    * original order. Documents left with no paragraphs drop out.
    *
    * Shape: posexplode → min-struct groupBy keyed by paragraph (partial
    * aggregation absorbs hot paragraphs map-side — no window over a skewed
    * key) → equi join back → per-doc sort_array rebuild. Three shuffles,
    * all keyed, no all-pairs anything.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: Column,
      sep: String = ". "): DataFrame = {
    val parts = split(textCol, java.util.regex.Pattern.quote(sep))
    val paras = graft.ops.Spread.forAmplification(df, col(idCol))
      .select(col(idCol).as("__doc"),
        posexplode(parts).as(Seq("__pos", "__para")))
    val firsts = paras.groupBy("__para")
      .agg(min(struct(col("__doc"), col("__pos"))).as("__first"))
      .select(col("__para"), col("__first.__doc").as("__doc"),
        col("__first.__pos").as("__pos"))
    paras.join(firsts, Seq("__para", "__doc", "__pos"))
      .groupBy(col("__doc"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("__pos"), col("__para")))),
          s => s("__para")), sep).as("text"))
      .select(col("__doc").as(idCol), col("text"))
  }

  /** SimHash near-dup pairs via the classic chunk index: split the `bits`-bit
    * signature into `chunks` equal chunks; by pigeonhole, any pair within
    * Hamming distance < `chunks` shares at least one identical chunk, so
    * candidates come from an equi join on (chunk_id, chunk_value) — never
    * all pairs — and only candidates get the exact popcount verify
    * (`bit_count(x XOR y)`, codegen'd built-ins).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: Column,
      maxHamming: Int = 3, bits: Int = 16, chunks: Int = 4): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    val width = bits / chunks
    val sig = simhash(df, idCol, textCol, bits)
    val chunked = sig.select(col(idCol), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("simhash"), c * width).bitwiseAND((1 << width) - 1)): _*))
        .as(Seq("chunk", "v")))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.v") === col("y.v") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("d1"), col(s"y.$idCol").as("d2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The dedup DECISION: from a (doc, cluster) labeling, keep exactly one
    * representative per cluster — the minimum doc id, which is also the
    * cluster label, so the keep-set is a plain filter (no extra shuffle);
    * singleton docs are their own cluster and survive automatically.
    */
  def keepRepresentatives(labels: DataFrame): DataFrame =
    labels.filter(col("doc") === col("cluster")).select("doc")

  /** End-to-end near-dup dedup: candidate pairs → connected components →
    * keep min-id per cluster. Returns the surviving docs frame.
    */
  def dedupByClusters(pairs: DataFrame, docs: DataFrame): DataFrame =
    keepRepresentatives(connectedComponents(pairs, docs))

  /** Winnowing fingerprints (Schleimer et al., MOSS): hash every character
    * k-gram, then keep the minimum hash of every w-length window of
    * consecutive k-grams. The selected minima are the document's
    * fingerprints — robust to insertions/reordering, with guaranteed match
    * coverage for shared substrings ≥ w+k-1 chars. One explode + one
    * partitioned window + distinct: scales as a single shuffle per stage.
    */
  def winnow(df: DataFrame, idCol: String, textCol: Column,
      k: Int = 8, w: Int = 4): DataFrame =
    winnowPositions(df, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()

  /** POSITIONED winnowing fingerprints (id, pos, fp) — [[winnow]] without
    * the final distinct: one fingerprint per window position, consecutive
    * duplicates kept. The positional form is what span-level matching
    * ([[sharedSpans]]) needs — a shared substring yields identical fp at
    * every aligned window position, so runs are recoverable.
    */
  def winnowPositions(df: DataFrame, idCol: String, textCol: Column,
      k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nGrams = length(textCol) - (k - 1)
    val grams = transform(
      sequence(lit(1), nGrams),
      i => struct(i.as("pos"), md5Int32(textCol.substr(i, lit(k))).as("h")))
    val exploded = graft.ops.Spread.forHeavyAmplification(df, col(idCol))
      .filter(length(textCol) >= k + w - 1)
      .select(col(idCol), lit(null).as("__dummy"),
        explode(when(nGrams >= 1, grams).otherwise(array())).as("g"),
        nGrams.as("ng"))
      .select(col(idCol), col("g.pos").as("pos"), col("g.h").as("h"), col("ng"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    exploded
      .withColumn("fp", min(col("h")).over(win))
      .filter(col("pos") <= col("ng") - (w - 1))
      .select(col(idCol), col("pos"), col("fp"))
  }

  /** Shared text SPANS between documents, recovered from positioned
    * winnowing fingerprints — the fingerprint-granular form of
    * exact-substring dedup (the Lee et al. 2021 "Deduplicating Training
    * Data" motivation: cross-document verbatim spans, not whole-document
    * similarity). Two docs sharing a substring of ≥ w+k-1 chars carry the
    * same window-min fingerprint at ALIGNED positions — the position
    * DIFFERENCE is constant along the shared region — so fp matches at
    * constant (d1, d2, diff) chain into consecutive runs, and a
    * gaps-and-islands pass (island = p1 − row_number) turns each run into
    * one span row: (d1, d2, start1, start2, len_grams, approx_chars),
    * approx_chars = len_grams + w + k − 2.
    *
    * Scale shape: fingerprints with more than `maxOcc` total occurrences
    * (boilerplate — headers, license blocks) are dropped by a LEFT SEMI
    * probe of the map-side-combined occurrence counts BEFORE the pair
    * join, bounding per-fp fan-out (the MOSS over-common-fingerprint
    * move); the islands window partitions by (d1, d2, diff) — keyed, never
    * global. Runs shorter than `minRun` windows are noise (a single
    * colliding fingerprint) and dropped.
    */
  def sharedSpans(df: DataFrame, idCol: String, textCol: Column,
      k: Int = 8, w: Int = 4, minRun: Int = 3, maxOcc: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = winnowPositions(df, idCol, textCol, k, w)
      .select(col(idCol).as("doc"), col("pos"), col("fp"))
    val rareFps = fps.groupBy("fp").agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") <= maxOcc).select("fp")
    val rare = fps.join(rareFps, Seq("fp"), "left_semi")
    val x = rare.select(col("doc").as("d1"), col("pos").as("p1"), col("fp"))
    val y = rare.select(col("doc").as("d2"), col("pos").as("p2"), col("fp"))
    val matches = x.join(y, Seq("fp")).filter(col("d1") < col("d2"))
      .withColumn("diff", col("p1") - col("p2"))
    val wrn = Window.partitionBy("d1", "d2", "diff").orderBy("p1")
    matches
      .withColumn("island", col("p1") - row_number().over(wrn))
      .groupBy("d1", "d2", "diff", "island")
      .agg(count(lit(1)).as("len_grams"), min("p1").as("start1"))
      .filter(col("len_grams") >= minRun)
      .select(col("d1"), col("d2"),
        col("start1").cast("long").as("start1"),
        (col("start1") - col("diff")).cast("long").as("start2"),
        col("len_grams"),
        (col("len_grams") + (w + k - 2)).as("approx_chars"))
  }

  /** EXACT substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", the ExactSubstr criterion): every
    * maximal region of a document covered by length-`sub` substrings that
    * occur ≥ 2 times in the whole corpus (cross-document OR repeated
    * within one document — self-repetition is duplication too). Unlike
    * [[sharedSpans]] (winnowing fingerprints — SAMPLED positions, so spans
    * are fingerprint-granular and can miss short overlaps), this marks
    * every duplicated `sub`-gram position and is exact at that window
    * size: a span appears iff its text genuinely recurs.
    *
    * The reference family builds a corpus-wide suffix array on dedicated
    * big-memory machines; the distributed re-expression is
    * hash-prune-then-verify: (1) one explode to (doc, pos, h) window
    * hashes; (2) hashes with ≥ 2 occurrences survive a map-side-combined
    * count + LEFT SEMI probe (the only corpus-sized shuffle carries 12-ish
    * bytes/row, not the gram text); (3) candidates join back to their doc
    * row (keyed by doc) and re-extract the REAL `sub`-char gram, and a
    * second count ≥ 2 over the gram text verifies exactly — a hash
    * collision cannot produce a span, and equal text always shares a
    * hash, so there are no false negatives either. The oracle therefore
    * replays only the text-level semantics (no hash replication needed).
    * (4) verified positions merge gaps-and-islands per doc: two
    * duplicated windows belong to one span when their char ranges overlap
    * or touch (gap ≤ sub), via the running-sum-of-new-island-flags form
    * (handles variable gaps, which the `pos − row_number` trick cannot).
    *
    * Scale shape: linear in corpus characters (the suffix-array family's
    * cost class); every stage is a keyed aggregate/join, the islands
    * window partitions BY DOC. Output: (doc, start_pos, end_pos,
    * span_chars, n_grams) per maximal duplicated span, positions 1-based
    * inclusive.
    */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: Column,
      sub: Int = 24): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(sub >= 2, s"exactSubstrSpans needs sub >= 2 (got $sub)")
    // spread an under-partitioned scan BEFORE the ~|text|-way explode
    // (the sf10 lesson: one compact parquet file = one split = the whole
    // corpus' gram explode on one core); no-op on well-split inputs
    val docs = graft.ops.Spread.forHeavyAmplification(
      df.filter(textCol.isNotNull && length(textCol) >= sub)
        .select(col(idCol).as("doc"), textCol.as("__t")), col("doc"))
    // windowHashes64: one O(|text|) rolling pass (vs md5-per-position's
    // O(|text|·sub) + per-window digest), and a ~60-bit space so the
    // "count >= 2" prune still prunes at 1e14 positions — 32 bits would
    // put ~23k occupants on every value at 100 TB and keep everything
    val hashes = docs.select(col("doc"),
        posexplode(TextAnalysis.windowHashes64(col("__t"), sub))
          .as(Seq("__p0", "h")))
      .select(col("doc"), (col("__p0") + 1).as("pos"), col("h"))
    val dupHash = hashes.groupBy("h").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select("h")
    // candidate (doc, pos) → re-extract the true gram from the doc row;
    // only the (rare) candidate set carries text through this join
    val cand = hashes.join(dupHash, Seq("h"), "left_semi")
      .join(docs, Seq("doc"))
      .select(col("doc"), col("pos"),
        col("__t").substr(col("pos"), lit(sub)).as("g"))
    val dupGram = cand.groupBy("g").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select("g")
    val marked = cand.join(dupGram, Seq("g"), "left_semi")
      .select(col("doc"), col("pos"))
    mergeIslandSpans(marked, sub)
  }

  /** Shared tail of the exact-substring family: merge marked duplicated
    * window positions (doc, pos) into maximal spans — two windows belong
    * to one span when their char ranges overlap or touch (gap ≤ sub), via
    * the running-sum-of-new-island-flags form (handles variable gaps,
    * which the `pos − row_number` trick cannot). The window partitions BY
    * DOC — keyed, never global. Output: (doc, start_pos, end_pos,
    * span_chars, n_grams), positions 1-based inclusive.
    */
  private[graft] def mergeIslandSpans(marked: DataFrame, sub: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc").orderBy("pos")
    marked
      .withColumn("__new",
        when(col("pos") - lag("pos", 1).over(w) <= sub, 0).otherwise(1))
      .withColumn("__isl", sum("__new").over(w))
      .groupBy("doc", "__isl")
      .agg(min("pos").as("__sp"), max("pos").as("__mp"),
        count(lit(1)).as("n_grams"))
      .select(col("doc"),
        col("__sp").cast("long").as("start_pos"),
        (col("__mp") + (sub - 1)).cast("long").as("end_pos"),
        (col("__mp") + (sub - 1) - col("__sp") + 1).cast("long")
          .as("span_chars"),
        col("n_grams"))
  }

  /** Cross-corpus EXACT-substring contamination spans — the verbatim-span
    * form of eval decontamination (the GPT-3 appendix-C / Lee et al.
    * n-gram criterion): every maximal region of an EVAL doc covered by
    * `sub`-char grams that also appear ANYWHERE in the TRAIN corpus.
    * Complements [[graft.text.Curation]]'s shingle-probe decontamination
    * (set-overlap, doc-level flag) with position-level spans — the
    * evidence needed to excise rather than drop, and immune to the
    * shingle path's whole-doc granularity.
    *
    * Same hash-prune-then-verify shape as [[exactSubstrSpans]], keyed
    * across the two corpora: train gram hashes dedupe to one row per
    * distinct hash (bounded by train chars), eval positions LEFT SEMI
    * probe them, and only the surviving candidates on EACH side extract
    * their real gram text for the exact equality semi join — a hash
    * collision cannot contaminate, equal text cannot escape. Islands
    * merge on the eval side exactly as in the single-corpus operator.
    * Output: (doc, start_pos, end_pos, span_chars, n_grams), positions
    * 1-based inclusive in the EVAL doc.
    */
  def exactSubstrContamSpans(evalDf: DataFrame, trainDf: DataFrame,
      idCol: String, textCol: Column, sub: Int = 24): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(sub >= 2, s"exactSubstrContamSpans needs sub >= 2 (got $sub)")
    // both corpora feed ~|text|-way gram explodes: spread under-partitioned
    // scans first (see [[graft.ops.Spread.forAmplification]])
    def prep(df: DataFrame): DataFrame = graft.ops.Spread.forHeavyAmplification(
      df.filter(textCol.isNotNull && length(textCol) >= sub)
        .select(col(idCol).as("doc"), textCol.as("__t")), col("doc"))
    // same O(n)/60-bit prune hash as [[exactSubstrSpans]] (see there)
    def hashes(docs: DataFrame): DataFrame = docs.select(col("doc"),
        posexplode(TextAnalysis.windowHashes64(col("__t"), sub))
          .as(Seq("__p0", "h")))
      .select(col("doc"), (col("__p0") + 1).as("pos"), col("h"))
    val (ev, tr) = (prep(evalDf), prep(trainDf))
    val (evH, trH) = (hashes(ev), hashes(tr))
    val trHashSet = trH.select("h").distinct()
    val evCand = evH.join(trHashSet, Seq("h"), "left_semi")
    // only train positions whose hash occurs in eval extract text — the
    // train side never shuffles its grams wholesale
    val evHashSet = evH.select("h").distinct()
    val trGrams = trH.join(evHashSet, Seq("h"), "left_semi")
      .join(tr, Seq("doc"))
      .select(col("__t").substr(col("pos"), lit(sub)).as("g"))
      .distinct()
    val marked = evCand.join(ev, Seq("doc"))
      .select(col("doc"), col("pos"),
        col("__t").substr(col("pos"), lit(sub)).as("g"))
      .join(trGrams, Seq("g"), "left_semi")
      .select(col("doc"), col("pos"))
    mergeIslandSpans(marked, sub)
  }

  /** Per-eval-doc contamination CARD over [[exactSubstrContamSpans]] —
    * (doc, n_chars, n_spans, contam_chars, contam_frac, clean); same
    * contract as [[exactSubstrCard]] (zeros via left join, round-6
    * fraction, strict threshold). */
  def exactSubstrContamCard(evalDf: DataFrame, trainDf: DataFrame,
      idCol: String, textCol: Column, sub: Int = 24,
      maxContamFrac: Double = 0.05): DataFrame = {
    val agg = exactSubstrContamSpans(evalDf, trainDf, idCol, textCol, sub)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_spans"),
        sum("span_chars").as("contam_chars"))
    evalDf.filter(textCol.isNotNull)
      .select(col(idCol).as("doc"), length(textCol).cast("long").as("n_chars"))
      .join(agg, Seq("doc"), "left")
      .select(col("doc"), col("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("contam_chars"), lit(0L)).as("contam_chars"),
        // n_chars = 0 guard: an empty (non-null) doc cannot contain a span;
        // 0/0 would be a null fraction and a null 'clean' flag that
        // downstream boolean filters drop silently — absence of evidence
        // is a clean, not a missing row
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(
            round(coalesce(col("contam_chars"), lit(0L)) / col("n_chars"), 6))
          .as("contam_frac"))
      .withColumn("clean", col("contam_frac") < maxContamFrac)
  }

  /** Per-doc duplication CARD over [[exactSubstrSpans]] — the keep/drop
    * decision layer (Lee et al. drop documents whose duplicated fraction
    * crosses a budget): (doc, n_chars, n_spans, dup_chars, dup_frac,
    * keep). Spans are maximal and disjoint by construction, so dup_chars
    * is a plain sum; docs with NO spans (including those shorter than
    * `sub`) surface with zeros via the left join — absence of evidence is
    * a keep, not a missing row. dup_frac is round-6 of dup_chars /
    * n_chars; keep = dup_frac < maxDupFrac (strict, so a budget of 1.0
    * keeps even fully-duplicated docs out only when they are 100% dup).
    *
    * Scale shape: the spans pipeline plus one per-doc aggregate and one
    * keyed left join — nothing new beyond [[exactSubstrSpans]]'s
    * chars-linear cost.
    */
  def exactSubstrCard(df: DataFrame, idCol: String, textCol: Column,
      sub: Int = 24, maxDupFrac: Double = 0.2): DataFrame = {
    val agg = exactSubstrSpans(df, idCol, textCol, sub)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_spans"), sum("span_chars").as("dup_chars"))
    df.filter(textCol.isNotNull)
      .select(col(idCol).as("doc"), length(textCol).cast("long").as("n_chars"))
      .join(agg, Seq("doc"), "left")
      .select(col("doc"), col("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        // n_chars = 0 guard: an empty (non-null) doc has no spans; 0/0
        // would be a null dup_frac and a null keep flag that downstream
        // boolean filters drop silently — absence of evidence is a keep
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(
            round(coalesce(col("dup_chars"), lit(0L)) / col("n_chars"), 6))
          .as("dup_frac"))
      .withColumn("keep", col("dup_frac") < maxDupFrac)
  }

  /** Exact-substring CUT — the removal transform [[exactSubstrSpans]]
    * feeds (the Lee et al. ExactSubstr action: excise every duplicated
    * region, keep the rest): (doc, clean_text), where clean_text is the
    * concatenation of the complement segments between the doc's maximal
    * disjoint spans, in order. Docs with no spans pass through verbatim;
    * a fully-duplicated doc yields the empty string (the caller's filter
    * decides whether to drop it — this operator never loses the row).
    *
    * Scale shape: spans collect per doc into a bounded array (spans are
    * disjoint, so ≤ n_chars/sub of them) and one `aggregate` HOF walks
    * it left to right emitting the gaps — per-doc work linear in its own
    * text, no window over the corpus, no driver barrier.
    */
  def exactSubstrCut(df: DataFrame, idCol: String, textCol: Column,
      sub: Int = 24): DataFrame = {
    val spans = exactSubstrSpans(df, idCol, textCol, sub)
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(
        col("start_pos").as("sp"), col("end_pos").as("ep")))).as("__spans"))
    df.filter(textCol.isNotNull)
      .select(col(idCol).as("doc"), textCol.as("__t"))
      .join(spans, Seq("doc"), "left")
      .select(col("doc"),
        when(col("__spans").isNull, col("__t")).otherwise(
          aggregate(col("__spans"),
            struct(lit(0L).as("pos"), lit("").as("s")),
            (acc, x) => struct(
              x.getField("ep").as("pos"),
              concat(acc.getField("s"),
                col("__t").substr(
                  (acc.getField("pos") + 1).cast("int"),
                  greatest(lit(0),
                    (x.getField("sp") - acc.getField("pos") - 1).cast("int"))))
                .as("s")),
            acc => concat(acc.getField("s"),
              col("__t").substr((acc.getField("pos") + 1).cast("int"),
                greatest(lit(0),
                  (length(col("__t")) - acc.getField("pos")).cast("int"))))))
          .as("clean_text"))
  }

  /** Exact set-similarity join by PPJoin candidate generation (prefix +
    * length + positional filters, all lossless — Xiao et al. 2008): doc
    * pairs with token-set Jaccard ≥ `threshold`, with NO false negatives
    * and candidates generated only from each doc's
    * p = |s| − ⌈t·|s|⌉ + 1 RAREST tokens under one global (df, token)
    * order, then pruned by the length ratio and the positional overlap
    * bound BEFORE the distinct/verify stages — the defense that matters
    * on dense templated corpora where even rare tokens carry high df. The principled scale path where q45's every-shared-shingle
    * join melts on hot tokens: a stopword shared by half the corpus never
    * generates candidates because it sorts to the END of every prefix
    * order. If J(x,y) ≥ t, the two prefixes must share a token (else
    * |x∩y| ≤ |x| − p < t·|x| ≤ |x∩y|) — so the equi join on prefix
    * tokens is candidate-complete; exact Jaccard then verifies each
    * candidate once via sorted-array intersection.
    *
    * Scale shape: token df is one keyed count; prefix selection is a
    * per-doc rank window (partitioned BY DOC); the candidate join is
    * EQUI on the prefix token with rare tokens by construction (bounded
    * fan-out); verification joins the ≤candidates pair list back to the
    * doc→array table twice, keyed. Never all-pairs, never a hot-token
    * quadratic bucket.
    *
    * Id contract: `idCol` must be NUMERIC (it is cast to long; the `a <
    * b` canonical pair order and the oracle both rely on that total
    * order). A string/non-castable id becomes NULL and its rows drop
    * silently — callers with opaque ids should first mint a surrogate
    * (e.g. the `__rank` of [[graft.ops.RangeScan.rank]]) and join names
    * back after. */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
      textCol: Column, threshold: Double = 0.5,
      shingle: Int = 3): DataFrame = {
    require(threshold > 0 && threshold < 1,
      "prefixFilterJaccardPairs needs threshold in (0,1)")
    require(shingle >= 1, "prefixFilterJaccardPairs needs shingle >= 1")
    // shingle > 1 makes the set elements discriminative (a small shared
    // vocabulary drowns unigram Jaccard); 1 degrades to plain token sets
    val elems =
      if (shingle == 1) filter(tokens(textCol), t => length(t) > 0)
      else shingles(textCol, shingle)
    val base = docs.filter(textCol.isNotNull)
      .select(col(idCol).cast("long").as("id"),
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
    // PPJoin's two LOSSLESS candidate prunes on top of prefix filtering
    // (Xiao et al. 2008) — essential when a dense/templated corpus keeps
    // even "rare" tokens at high df (measured: 39M -> far fewer candidate
    // pairs on a 50k-doc fixed-vocabulary corpus):
    //  - LENGTH: J >= t  =>  min(|x|,|y|) >= t*max(|x|,|y|);
    //  - POSITIONAL: overlap <= 1 + min(|x|-i, |y|-j) for a common prefix
    //    token at sorted positions (i, j), which must reach
    //    alpha = ceil(t/(1+t)*(|x|+|y|)). A pair survives if ANY shared
    //    occurrence passes — the max of the bound is at the FIRST shared
    //    token, so this equals ppjoin's rule, candidate-complete.
    // The 1e-9 slack keeps float roundoff from ever pruning an exact-
    // boundary pair (bounds compare against integers).
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
    val ja = col("i").cast("double") /
      (size(col("__aa")) + size(col("__ab")) - col("i"))
    cand
      .join(base.select(col("id").as("a"), col("arr").as("__aa")), Seq("a"))
      .join(base.select(col("id").as("b"), col("arr").as("__ab")), Seq("b"))
      .withColumn("i",
        size(array_intersect(col("__aa"), col("__ab"))).cast("bigint"))
      .filter(ja >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        round(ja, 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Edit-distance near-dup pairs under deterministic blocking: candidates
    * share a (length-band, text-prefix) block, pairs score with the BANDED
    * Levenshtein (threshold-bounded — O(len·maxDist) per pair, not len²)
    * and survive at distance ≤ `maxDist`. The character-level complement
    * to MinHash/SimHash token overlap: catches small in-place edits
    * (typo fixes, one-word swaps) that leave token sets nearly identical
    * but matter for exactness-sensitive dedup.
    *
    * Blocking recall trade-off (standard, documented): a pair differing
    * inside the first `prefixLen` chars, or length-banded apart, is not
    * a candidate. `maxBlock` caps the per-block pair blowup — a
    * boilerplate block bigger than that is skipped (at cap² pair cost it
    * would dominate the stage); the cap is part of the operator's
    * semantics and replays identically in an oracle.
    *
    * Scale shape: ONE equi self-join on the block key (hash-partitioned,
    * never all-pairs), block sizes pre-joined so hot blocks drop before
    * the pair fan-out. Output: (doc_id_a, doc_id_b, dist), ordered.
    *
    * Id contract: same as [[prefixFilterJaccardPairs]] — `idCol` must be
    * numeric (cast to long for the canonical pair order); non-numeric ids
    * become NULL and drop. Mint a dense surrogate id first for opaque
    * keys. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: Column,
      maxDist: Int = 8, lenBand: Int = 16, prefixLen: Int = 8,
      maxBlock: Int = 64): DataFrame = {
    require(maxDist >= 1 && lenBand >= 1 && prefixLen >= 1 && maxBlock >= 2,
      "editDistancePairs: degenerate blocking parameters")
    val base = docs
      .select(col(idCol).cast("long").as("id"), textCol.as("t"))
      .filter(col("t").isNotNull)
      .withColumn("lb", floor(length(col("t")) / lenBand).cast("long"))
      .withColumn("pf", substring(col("t"), 1, prefixLen))
    val sizes = base.groupBy("lb", "pf").agg(count(lit(1)).as("__bs"))
    val kept = base.join(sizes, Seq("lb", "pf"))
      .filter(col("__bs") <= maxBlock)
      .select("id", "t", "lb", "pf")
    val a = kept.select(col("id").as("doc_id_a"), col("t").as("ta"),
      col("lb"), col("pf"))
    val b = kept.select(col("id").as("doc_id_b"), col("t").as("tb"),
      col("lb"), col("pf"))
    a.join(b, Seq("lb", "pf"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      // EvalOnce barrier (r15, guide §4.4): without it the dist filter
      // folds into the join condition and every surviving pair runs the
      // banded Levenshtein DP twice (decide + project) — see
      // [[graft.functions.EvalOnce]]
      .withColumn("dist", ColumnBridge.column(graft.functions.EvalOnce(
        ColumnBridge.expression(
          levenshtein(col("ta"), col("tb"), maxDist).cast("bigint")))))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("doc_id_a", "doc_id_b", "dist")
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** SimHash (default 16 bits) over token multiset: bit b is set when the
    * signed sum of token-hash bit b is positive.
    */
  def simhash(df: DataFrame, idCol: String, textCol: Column, bits: Int = 16): DataFrame = {
    val tok = graft.ops.Spread.forAmplification(df, col(idCol))
      .select(col(idCol), explode(tokens(textCol)).as("t"))
      .withColumn("h", md5Int32(col("t")))
    val sums = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"s_$b")
    }
    val agg = tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    val hashExpr = (0 until bits).map { b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col(idCol), hashExpr.as("simhash"))
  }
}
