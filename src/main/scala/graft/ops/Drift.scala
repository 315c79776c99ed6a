package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between two dataset snapshots — the check a
  * training-data pipeline runs before swapping in a new corpus release
  * (reference: the release-diff / report-card audits in scraper pipelines;
  * the metric itself is the standard Population Stability Index).
  *
  * PSI = Σ_buckets (p_a − p_b) · ln(p_a / p_b), with empty buckets floored
  * at `eps` so a bucket present on only one side contributes a large-but-
  * finite term instead of ±∞.
  *
  * Scale shape: each snapshot collapses to its bucket histogram first
  * (map-side combined groupBy — the only pass over data rows), and all
  * ratio/log arithmetic runs over the ≤#buckets joined histogram. The
  * totals windows are over that same tiny table, never data rows. Two
  * scans, one shuffle each, no driver barriers.
  */
object Drift {

  /** Per-bucket drift rows between snapshots `a` and `b`:
    * (bucket, n_a, n_b, p_a, p_b, psi_term, psi_total), ordered by bucket.
    * `bucket` is any deterministic bucketing expression over a row (width
    * bucket, capped quantile id, category). Null buckets count as a real
    * bucket (rendered by the caller's expression; nulls group together).
    */
  def psiReport(a: DataFrame, b: DataFrame, bucket: Column,
      eps: Double = 1e-6): DataFrame = {
    val hist = a.select(bucket.as("bucket")).withColumn("__side", lit("a"))
      .unionByName(b.select(bucket.as("bucket")).withColumn("__side", lit("b")))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("__side") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__side") === "b", 1L).otherwise(0L)).as("n_b"))
    // totals over the ≤#buckets histogram — a global window here is over
    // handfuls of rows, not data
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pa = greatest(col("n_a").cast("double") / sum(col("n_a")).over(w), lit(eps))
    val pb = greatest(col("n_b").cast("double") / sum(col("n_b")).over(w), lit(eps))
    val term = (pa - pb) * log(pa / pb)
    hist
      .withColumn("p_a", round(pa, 6))
      .withColumn("p_b", round(pb, 6))
      .withColumn("psi_term", round(term, 6))
      .withColumn("psi_total",
        round(sum(round(term, 6)).over(w), 6))
      .orderBy(col("bucket"))
  }

  /** Drift TIMELINE: per-window PSI of a bucketed feature against the
    * all-period reference distribution, in ONE plan — the release-dashboard
    * view ("which day drifted?") that looping [[psiReport]] per window
    * would need W scans for. The window×bucket grid is DENSIFIED before
    * scoring, so a bucket that disappears in some window contributes its
    * full (eps − q)·ln(eps/q) term instead of silently dropping out.
    *
    * Scale shape: ONE pass over data rows (the (window, bucket) groupBy,
    * map-side combined); the reference histogram, the window list, the
    * dense grid, and every ratio/log term live on report-sized frames
    * (≤ #windows × #buckets rows). The grid is a broadcast nested-loop of
    * two tiny report tables — intended, like every ≤buckets-row broadcast
    * in the suite.
    */
  def psiTimeline(df: DataFrame, window: Column, bucket: Column,
      eps: Double = 1e-6): DataFrame = {
    // a row whose window or bucket expression is NULL belongs to no grid
    // cell and is excluded — besides being the only defensible semantics,
    // a NULL window would form a dense-grid partition whose per-window
    // total is 0 (NULL never equi-joins back to h), dividing by zero
    val h = df.select(window.as("w"), bucket.as("bucket"))
      .filter(col("w").isNotNull && col("bucket").isNotNull)
      .groupBy("w", "bucket").agg(count(lit(1)).as("n"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ref = h.groupBy("bucket").agg(sum(col("n")).as("n_ref"))
      .withColumn("q",
        greatest(col("n_ref").cast("double") / sum(col("n_ref")).over(all), lit(eps)))
      .select("bucket", "q")
    val dense = h.select("w").distinct().crossJoin(broadcast(ref))
    val winTot = Window.partitionBy("w")
    val joined = dense.join(h, Seq("w", "bucket"), "left")
      .na.fill(Map("n" -> 0L))
    val p = greatest(col("n").cast("double") / sum(col("n")).over(winTot), lit(eps))
    joined
      .withColumn("term", round((p - col("q")) * log(p / col("q")), 6))
      .groupBy("w")
      .agg(sum(col("n")).as("n_events"),
        round(sum(col("term").cast("decimal(28,6)")).cast("double"), 6).as("psi"))
      .orderBy("w")
  }

  /** Two-snapshot DATA-CONTRACT report: per column — row count, null rate,
    * exact distinct count, and numeric mean (null for non-numeric) on both
    * sides. The schema-level release diff a pipeline gates a corpus swap
    * on: a column whose null rate doubled or whose cardinality collapsed
    * is a broken upstream extractor, visible before any model metric moves.
    *
    * Scale shape: ONE pass per side — each row stacks to its (column,
    * string-value, try-cast-double) triples map-side, the per-distinct-value
    * combine happens before the only shuffle, and the per-column rollup +
    * side pivot run over the ≤Σ|ndv_c| histogram. Means sum as DECIMAL from
    * the per-value partials (exact); distincts are EXACT, not sketches —
    * the histogram is the same size either way.
    */
  def contractReport(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "contractReport needs at least one column")
    def stacked(df: DataFrame, side: String): DataFrame =
      df.select(explode(array(cols.map { c =>
          struct(lit(c).as("c"), col(c).cast("string").as("vs"),
            expr(s"try_cast(`$c` as double)").as("vd"))
        }: _*)).as("t"))
        .select(lit(side).as("side"), col("t.c").as("c"),
          col("t.vs").as("vs"), col("t.vd").as("vd"))
    val perValue = stacked(a, "a").unionByName(stacked(b, "b"))
      .groupBy("side", "c", "vs")
      .agg(count(lit(1)).as("n"),
        sum(col("vd").cast("decimal(28,8)")).as("sd"),
        count(col("vd")).as("cd"))
    val perCol = perValue.groupBy("side", "c")
      .agg(
        sum(col("n")).as("rows"),
        sum(when(col("vs").isNull, col("n")).otherwise(0L)).as("nulls"),
        count(when(col("vs").isNotNull, 1)).as("ndv"),
        sum(col("sd")).as("sd"), sum(col("cd")).as("cd"))
    def sideAgg(s: String, c: Column): Column = max(when(col("side") === s, c))
    perCol.groupBy("c")
      .agg(
        sideAgg("a", col("rows")).as("rows_a"),
        sideAgg("b", col("rows")).as("rows_b"),
        round(sideAgg("a", col("nulls").cast("double") / col("rows")), 6).as("null_rate_a"),
        round(sideAgg("b", col("nulls").cast("double") / col("rows")), 6).as("null_rate_b"),
        sideAgg("a", col("ndv")).as("ndv_a"),
        sideAgg("b", col("ndv")).as("ndv_b"),
        round(sideAgg("a", col("sd").cast("double") / col("cd")), 6).as("mean_a"),
        round(sideAgg("b", col("sd").cast("double") / col("cd")), 6).as("mean_b"))
      .withColumnRenamed("c", "column")
      .orderBy("column")
  }

  /** PSI for MANY features in ONE pass per snapshot — the release-audit
    * sweep ("which of the 40 features drifted?") that looping [[psiReport]]
    * per feature would charge 2·F table scans for. Each row explodes to its
    * (feature, bucket) pairs (bucket expressions cast to string so
    * heterogeneous features stack), partial-aggregates map-side, and the
    * q144 ratio math runs per feature over the ≤F·#buckets histogram.
    * Output: (feature, bucket, n_a, n_b, p_a, p_b, psi_term, psi_total)
    * with psi_total replicated per feature; nulls render '(null)' so both
    * engines order identically.
    *
    * Scale shape: one scan per side with an F-way map-side expansion (rows
    * multiply BEFORE the combine, bytes do not — each pair is two short
    * strings), one shuffle of the combined histogram; every window is
    * partitioned by feature. */
  def psiMultiReport(a: DataFrame, b: DataFrame,
      features: Seq[(String, Column)], eps: Double = 1e-6): DataFrame = {
    require(features.nonEmpty, "psiMultiReport needs at least one feature")
    def stacked(df: DataFrame, side: String): DataFrame =
      df.select(explode(array(features.map { case (n, e) =>
          struct(lit(n).as("feature"), e.cast("string").as("bucket"))
        }: _*)).as("fb"))
        .select(col("fb.feature").as("feature"), col("fb.bucket").as("bucket"))
        .withColumn("__side", lit(side))
    val hist = stacked(a, "a").unionByName(stacked(b, "b"))
      .groupBy("feature", "bucket")
      .agg(
        sum(when(col("__side") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__side") === "b", 1L).otherwise(0L)).as("n_b"))
    val w = Window.partitionBy("feature")
    val pa = greatest(col("n_a").cast("double") / sum(col("n_a")).over(w), lit(eps))
    val pb = greatest(col("n_b").cast("double") / sum(col("n_b")).over(w), lit(eps))
    val term = (pa - pb) * log(pa / pb)
    hist
      .withColumn("p_a", round(pa, 6))
      .withColumn("p_b", round(pb, 6))
      .withColumn("psi_term", round(term, 6))
      .withColumn("psi_total",
        round(sum(round(term, 6).cast("decimal(28,6)")).over(w).cast("double"), 6))
      .withColumn("bucket", coalesce(col("bucket"), lit("(null)")))
      .orderBy("feature", "bucket")
  }

  /** Per-window PSI of pre-aggregated bucket histograms against a FIXED
    * reference distribution — the core [[psiTimeline]] scoring step exposed
    * for callers that bring their own reference (a frozen training-corpus
    * histogram, a streaming micro-batch pipeline): `hist` is (w, bucket, n)
    * rows, `ref` is (bucket, q) with q a probability. The w×bucket grid is
    * densified against `ref` so a bucket absent from a window contributes
    * its full (eps − q)·ln(eps/q) term; buckets observed in a window but
    * missing from `ref` score against eps (the one-sided-novelty floor).
    * Returns (w, n_events, psi). All frames are report-sized — the caller
    * owns the single data-rows pass that produced `hist`.
    */
  def psiAgainstReference(hist: DataFrame, ref: DataFrame,
      eps: Double = 1e-6): DataFrame = {
    val dense = hist.select("w").distinct()
      .crossJoin(broadcast(ref.select(col("bucket"), col("q"))))
    val winTot = Window.partitionBy("w")
    val joined = dense.join(hist, Seq("w", "bucket"), "full_outer")
      .na.fill(Map("n" -> 0L)).na.fill(Map("q" -> eps))
    val p = greatest(col("n").cast("double") / sum(col("n")).over(winTot), lit(eps))
    val q = greatest(col("q"), lit(eps))
    joined
      .withColumn("term", round((p - q) * log(p / q), 6))
      .groupBy("w")
      .agg(sum(col("n")).as("n_events"),
        round(sum(col("term").cast("decimal(28,6)")).cast("double"), 6).as("psi"))
      .orderBy("w")
  }

  /** Two-sample Kolmogorov–Smirnov statistic between numeric samples `a`
    * and `b`: KS = sup_x |F_a(x) − F_b(x)| over the empirical CDFs. The
    * CDF-based complement to [[psiReport]] — no bucketing choice, sensitive
    * to any distributional difference. Returns ONE row
    * (n_a, n_b, ks_stat rounded to 6).
    *
    * Scale shape — the ECDF is computed DISTRIBUTED, never on one node:
    * ties collapse first (groupBy value: per-value a/b counts, map-side
    * combined), the value axis is range-partitioned, and the cumulative
    * counts are per-partition prefix sums plus per-partition offsets. The
    * only driver barrier is the ≤`partitions`-row offset table — the same
    * two-pass prefix-sum shape as DenseId, NOT a single-partition global
    * window (which would serialize the whole distinct-value set through
    * one task at 100 TB).
    */
  def ksStatistic(a: DataFrame, b: DataFrame, value: Column,
      partitions: Int = 32): DataFrame = {
    val spark = a.sparkSession
    def side(df: DataFrame, ca: Int, cb: Int): DataFrame =
      df.select(value.cast("double").as("v"))
        .filter(col("v").isNotNull)
        .select(col("v"), lit(ca.toLong).as("__ia"), lit(cb.toLong).as("__ib"))
    // r14: spread an under-partitioned scan before the value-histogram
    // collapse — in the drift shape both union legs read the same one-split
    // file, so the partial aggregate would serialize on one core (no-op on
    // well-split inputs; counts are order-independent)
    val hist = graft.ops.Spread.forHeavyStage(
        side(a, 1, 0).unionByName(side(b, 0, 1)), col("v"))
      .groupBy("v")
      .agg(sum(col("__ia")).as("ca"), sum(col("__ib")).as("cb"))
      .repartitionByRange(partitions, col("v"))
      // r15: no sortWithinPartitions — range partitioning alone fixes the
      // pid-to-value-order invariant the offsets rely on, and the scored
      // pass's window re-sorts its partition regardless, so the pre-sort
      // only made the snapshot materialization pay an extra pass
      .withColumn("__pid", spark_partition_id())
    // eager snapshot: traversed twice (offset totals, then the scored
    // pass), and the snapshot pins one partition layout for both — the
    // DenseId checkpoint pattern (reliable when a dir is configured)
    val snap = Snapshot.eager(hist)

    val partTotals = snap.groupBy("__pid")
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nA = partTotals.map(_._2).sum
    val nB = partTotals.map(_._3).sum
    import spark.implicits._
    if (nA == 0L || nB == 0L)
      // KS is undefined against an empty sample — surface counts, null stat
      return Seq((nA, nB)).toDF("n_a", "n_b")
        .withColumn("ks_stat", lit(null).cast("double"))
    // exclusive prefix offsets per partition id (≤`partitions` entries)
    val offsets = partTotals.scanLeft((0, 0L, 0L)) {
      case ((_, accA, accB), (pid, ta, tb)) => (pid, accA + ta, accB + tb)
    }
    val offDf = partTotals.map(_._1).zip(offsets.map(o => (o._2, o._3)))
      .map { case (pid, (oa, ob)) => (pid, oa, ob) }
      .toSeq.toDF("__pid", "offa", "offb")
    val w = Window.partitionBy("__pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    snap.join(broadcast(offDf), "__pid")
      .withColumn("fa", (col("offa") + sum(col("ca")).over(w)).cast("double") / nA)
      .withColumn("fb", (col("offb") + sum(col("cb")).over(w)).cast("double") / nB)
      .agg(max(round(abs(col("fa") - col("fb")), 6)).as("ks_stat"))
      .select(lit(nA).as("n_a"), lit(nB).as("n_b"), col("ks_stat"))
  }

  /** Distributed EXACT empirical CDF table: per distinct value its row
    * count and ECDF = P(X ≤ v) — the percentile-rank feature transform
    * (and the reusable half of [[ksStatistic]]), WITHOUT a global sort:
    * tie-collapse groupBy, range partitioning by value, per-partition
    * prefix sums, and a ≤`partitions`-row driver barrier for the
    * exclusive offsets (the DenseId/KS scaffold). Joining a data table
    * back on value turns this into a per-row percentile feature; the
    * table itself is the lossless Q-Q/calibration input. Output:
    * (value, n_rows, ecdf round-6) ordered by value. */
  def ecdfTable(df: DataFrame, value: Column,
      partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val hist = df.select(value.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("c"))
      .repartitionByRange(partitions, col("v"))
      // r15: no sortWithinPartitions — range partitioning alone fixes the
      // pid-to-value-order invariant the offsets rely on, and the scored
      // pass's window re-sorts its partition regardless, so the pre-sort
      // only made the snapshot materialization pay an extra pass
      .withColumn("__pid", spark_partition_id())
    val snap = Snapshot.eager(hist)
    val partTotals = snap.groupBy("__pid")
      .agg(sum(col("c")).as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val n = partTotals.map(_._2).sum
    import spark.implicits._
    if (n == 0L)
      return Seq.empty[(Double, Long, Double)]
        .toDF("value", "n_rows", "ecdf")
    val offsets = partTotals.scanLeft((0, 0L)) {
      case ((_, acc), (pid, t)) => (pid, acc + t)
    }
    val offDf = partTotals.map(_._1).zip(offsets.map(_._2))
      .map { case (pid, off) => (pid, off) }
      .toSeq.toDF("__pid", "off")
    val w = Window.partitionBy("__pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    snap.join(broadcast(offDf), "__pid")
      .withColumn("ecdf", round(
        (col("off") + sum(col("c")).over(w)).cast("double") / n, 6))
      .select(col("v").as("value"), col("c").as("n_rows"), col("ecdf"))
      .orderBy("value")
  }

  /** Exact EQUI-DEPTH histogram: `nBuckets` buckets of (as close as ties
    * allow) equal row counts, each reporting its value range and actual
    * row count — the optimizer-statistics / feature-binning primitive
    * ([[ecdfTable]]'s bucketed readout). A distinct value v lands in
    * bucket ceil(cum(v)·k/n) where cum is the INCLUSIVE row count ≤ v —
    * integer arithmetic only ((cum·k + n − 1) DIV n), so the bucket cut
    * replays bit-identically in any engine; ties never split across
    * buckets (they share a value, so they share a bucket), which is why
    * per-bucket counts can deviate from n/k exactly where heavy ties sit.
    *
    * Scale shape: identical to [[ecdfTable]] — tie-collapse groupBy,
    * range partition, per-partition prefix sums, ≤`partitions`-row driver
    * offset barrier; the bucket aggregation runs over distinct values.
    * Output: (bucket 1..k, lo, hi, n_rows) ordered by bucket. */
  def equiDepthHistogram(df: DataFrame, value: Column, nBuckets: Int = 10,
      partitions: Int = 32): DataFrame = {
    require(nBuckets >= 1, "equiDepthHistogram needs nBuckets >= 1")
    val spark = df.sparkSession
    val hist = df.select(value.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("c"))
      .repartitionByRange(partitions, col("v"))
      // r15: no sortWithinPartitions — range partitioning alone fixes the
      // pid-to-value-order invariant the offsets rely on, and the scored
      // pass's window re-sorts its partition regardless, so the pre-sort
      // only made the snapshot materialization pay an extra pass
      .withColumn("__pid", spark_partition_id())
    val snap = Snapshot.eager(hist)
    val partTotals = snap.groupBy("__pid")
      .agg(sum(col("c")).as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val n = partTotals.map(_._2).sum
    import spark.implicits._
    if (n == 0L)
      return Seq.empty[(Int, Double, Double, Long)]
        .toDF("bucket", "lo", "hi", "n_rows")
    val offsets = partTotals.scanLeft((0, 0L)) {
      case ((_, acc), (pid, t)) => (pid, acc + t)
    }
    val offDf = partTotals.map(_._1).zip(offsets.map(_._2))
      .map { case (pid, off) => (pid, off) }
      .toSeq.toDF("__pid", "off")
    val w = Window.partitionBy("__pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    snap.join(broadcast(offDf), "__pid")
      .withColumn("__cum", col("off") + sum(col("c")).over(w))
      .withColumn("bucket", expr(
        s"CAST((__cum * $nBuckets + $n - 1) DIV $n AS INT)"))
      .groupBy("bucket")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("c")).as("n_rows"))
      .orderBy("bucket")
  }

  /** Pairwise VOCABULARY Jaccard between groups: |V_a ∩ V_b| / |V_a ∪ V_b|
    * over each group's distinct term set — the set-overlap complement to
    * [[jsdPairs]] (JSD weighs by frequency; vocab Jaccard asks only "do
    * these sources even use the same words?", the cheap first-pass
    * interchangeability screen). Output: (a, b, n_a, n_b, n_common,
    * jaccard rounded 6), ordered by (a, b).
    *
    * Scale shape: one explode+distinct collapses the corpus to (group,
    * term); vocab sizes are a ≤#groups broadcast; the intersection join is
    * TERM-keyed (per-term fan-out ≤ #groups², never corpus-sized), and the
    * union term needs no second pass — |∪| = |V_a| + |V_b| − |∩|.
    */
  def vocabJaccardPairs(docs: DataFrame, group: Column,
      text: Column): DataFrame = {
    // under-partitioned-scan guard before the per-char token explode
    // (size-floored; see graft.ops.Spread)
    val vocabRaw = graft.ops.Spread.forAmplification(docs)
      .select(group.cast("string").as("g"),
        explode(graft.text.TextAnalysis.tokens(text)).as("t"))
      .filter(length(col("t")) > 0)
      .distinct()
    // snapshot: feeds the size table and BOTH sides of the term join
    val vocab = Snapshot.eager(vocabRaw)
    val sizes = vocab.groupBy("g").agg(count(lit(1)).as("nv"))
    val inter = vocab.select(col("g").as("a"), col("t"))
      .join(vocab.select(col("g").as("b"), col("t")), Seq("t"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("g").as("a"), col("nv").as("n_a"))), "a")
      .join(broadcast(sizes.select(col("g").as("b"), col("nv").as("n_b"))), "b")
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6))
      .select("a", "b", "n_a", "n_b", "n_common", "jaccard")
      .orderBy("a", "b")
  }

  /** Exact 1-D Wasserstein (earth-mover) distance between numeric samples
    * `a` and `b`: W₁ = ∫ |F_a(x) − F_b(x)| dx over the empirical CDFs —
    * the magnitude-aware complement to [[ksStatistic]] (KS says the CDFs
    * differ; W₁ says by how much value-mass must move). Returns ONE row
    * (n_a, n_b, w1 rounded 6).
    *
    * Scale shape — same distributed-ECDF scaffold as [[ksStatistic]]: ties
    * collapse map-side, the value axis is range-partitioned, cumulative
    * counts are per-partition prefix sums + a ≤`partitions`-row offset
    * table. The ∫dx needs each value's SUCCESSOR, which `lead` can't see
    * across a partition edge — the per-partition min-value table (collected
    * with the same bounded barrier) supplies each partition's boundary
    * successor, so no single-partition window is ever planned.
    *
    * Cross-engine float contract: per-gap terms |ΔF|·Δx round to 8 and
    * DECIMAL-sum (order-independent), the total rounds to 6.
    */
  def wasserstein1d(a: DataFrame, b: DataFrame, value: Column,
      partitions: Int = 32): DataFrame = {
    val spark = a.sparkSession
    def side(df: DataFrame, ca: Int, cb: Int): DataFrame =
      df.select(value.cast("double").as("v"))
        .filter(col("v").isNotNull)
        .select(col("v"), lit(ca.toLong).as("__ia"), lit(cb.toLong).as("__ib"))
    // r14: spread an under-partitioned scan before the value-histogram
    // collapse — in the drift shape both union legs read the same one-split
    // file, so the partial aggregate would serialize on one core (no-op on
    // well-split inputs; counts are order-independent)
    val hist = graft.ops.Spread.forHeavyStage(
        side(a, 1, 0).unionByName(side(b, 0, 1)), col("v"))
      .groupBy("v")
      .agg(sum(col("__ia")).as("ca"), sum(col("__ib")).as("cb"))
      .repartitionByRange(partitions, col("v"))
      // r15: no sortWithinPartitions — range partitioning alone fixes the
      // pid-to-value-order invariant the offsets rely on, and the scored
      // pass's window re-sorts its partition regardless, so the pre-sort
      // only made the snapshot materialization pay an extra pass
      .withColumn("__pid", spark_partition_id())
    val snap = Snapshot.eager(hist)
    val partTotals = snap.groupBy("__pid")
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"), min(col("v")).as("mn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val nA = partTotals.map(_._2).sum
    val nB = partTotals.map(_._3).sum
    import spark.implicits._
    if (nA == 0L || nB == 0L)
      // W1 is undefined against an empty sample — surface counts, null stat
      return Seq((nA, nB)).toDF("n_a", "n_b")
        .withColumn("w1", lit(null).cast("double"))
    val offsets = partTotals.scanLeft((0, 0L, 0L)) {
      case ((_, accA, accB), (pid, ta, tb, _)) => (pid, accA + ta, accB + tb)
    }
    // each partition's boundary successor = the NEXT partition's min value
    // (partitions are value-ranged, so pid order is value order); the last
    // partition has none — its final row's gap term is 0 anyway (F_a=F_b=1)
    val nextMins = partTotals.indices.map { i =>
      if (i + 1 < partTotals.length) Some(partTotals(i + 1)._4) else None
    }
    val offDf = partTotals.indices.map { i =>
      (partTotals(i)._1, offsets(i)._2, offsets(i)._3, nextMins(i))
    }.toDF("__pid", "offa", "offb", "nextv")
    val w = Window.partitionBy("__pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wl = Window.partitionBy("__pid").orderBy("v")
    snap.join(broadcast(offDf), "__pid")
      .withColumn("fa", (col("offa") + sum(col("ca")).over(w)).cast("double") / nA)
      .withColumn("fb", (col("offb") + sum(col("cb")).over(w)).cast("double") / nB)
      .withColumn("nv", coalesce(lead(col("v"), 1).over(wl), col("nextv")))
      .filter(col("nv").isNotNull)
      .withColumn("__t",
        round(abs(col("fa") - col("fb")) * (col("nv") - col("v")), 8)
          .cast("decimal(28,8)"))
      .agg(round(sum(col("__t")).cast("double"), 6).as("w1"))
      .select(lit(nA).as("n_a"), lit(nB).as("n_b"), col("w1"))
  }

  /** Two-sample Cramér–von Mises statistic: T = nm/(n+m)² · Σ_z
    * (F_a(z) − F_b(z))² over every observation z of the COMBINED sample
    * (ties weighted by their multiplicity) — the L² member of the EDF
    * drift family beside [[ksStatistic]] (sup) and [[wasserstein1d]] (L¹):
    * more sensitive than KS to broad mid-distribution shifts, less to a
    * single extreme gap. Returns ONE row (n_a, n_b, cvm rounded 6).
    *
    * Scale shape: identical distributed-ECDF scaffold as KS — tie-collapse
    * groupBy, range-partitioned per-partition prefix sums, ≤`partitions`-
    * row offset barrier. Per-value terms (fa−fb)²·(ca+cb) round to 8 and
    * DECIMAL-sum (order-independent); the nm/(n+m)² scaling is one final
    * scalar multiply.
    */
  def cvmStatistic(a: DataFrame, b: DataFrame, value: Column,
      partitions: Int = 32): DataFrame = {
    val spark = a.sparkSession
    def side(df: DataFrame, ca: Int, cb: Int): DataFrame =
      df.select(value.cast("double").as("v"))
        .filter(col("v").isNotNull)
        .select(col("v"), lit(ca.toLong).as("__ia"), lit(cb.toLong).as("__ib"))
    // r14: spread an under-partitioned scan before the value-histogram
    // collapse — in the drift shape both union legs read the same one-split
    // file, so the partial aggregate would serialize on one core (no-op on
    // well-split inputs; counts are order-independent)
    val hist = graft.ops.Spread.forHeavyStage(
        side(a, 1, 0).unionByName(side(b, 0, 1)), col("v"))
      .groupBy("v")
      .agg(sum(col("__ia")).as("ca"), sum(col("__ib")).as("cb"))
      .repartitionByRange(partitions, col("v"))
      // r15: no sortWithinPartitions — range partitioning alone fixes the
      // pid-to-value-order invariant the offsets rely on, and the scored
      // pass's window re-sorts its partition regardless, so the pre-sort
      // only made the snapshot materialization pay an extra pass
      .withColumn("__pid", spark_partition_id())
    val snap = Snapshot.eager(hist)
    val partTotals = snap.groupBy("__pid")
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nA = partTotals.map(_._2).sum
    val nB = partTotals.map(_._3).sum
    import spark.implicits._
    if (nA == 0L || nB == 0L)
      return Seq((nA, nB)).toDF("n_a", "n_b")
        .withColumn("cvm", lit(null).cast("double"))
    val offsets = partTotals.scanLeft((0, 0L, 0L)) {
      case ((_, accA, accB), (pid, ta, tb)) => (pid, accA + ta, accB + tb)
    }
    val offDf = partTotals.map(_._1).zip(offsets.map(o => (o._2, o._3)))
      .map { case (pid, (oa, ob)) => (pid, oa, ob) }
      .toSeq.toDF("__pid", "offa", "offb")
    val w = Window.partitionBy("__pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scale = nA.toDouble * nB.toDouble /
      ((nA + nB).toDouble * (nA + nB).toDouble)
    snap.join(broadcast(offDf), "__pid")
      .withColumn("fa", (col("offa") + sum(col("ca")).over(w)).cast("double") / nA)
      .withColumn("fb", (col("offb") + sum(col("cb")).over(w)).cast("double") / nB)
      .withColumn("__t", round(
        (col("fa") - col("fb")) * (col("fa") - col("fb")) *
          (col("ca") + col("cb")).cast("double"), 8).cast("decimal(28,8)"))
      .agg(round(sum(col("__t")).cast("double") * scale, 6).as("cvm"))
      .select(lit(nA).as("n_a"), lit(nB).as("n_b"), col("cvm"))
  }

  /** Pairwise Jensen-Shannon divergence between the unigram term
    * distributions of each group (e.g. corpus source) — the symmetric,
    * bounded [0, ln 2] corpus-similarity matrix a mixing pipeline reads to
    * see which sources are textually interchangeable and which add
    * diversity. JSD(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2; terms
    * absent from one side contribute only through the present side (the
    * 0·ln0 limit is 0), so no epsilon flooring is needed.
    *
    * Cross-engine float contract: per-term contributions are rounded to 8
    * decimals and DECIMAL-summed (order-independent), totals rounded to 6.
    *
    * Scale shape: one explode+groupBy collapses the corpus to (group, term)
    * frequencies; group totals are a ≤#groups broadcast join; the pair
    * expansion joins the probability table once per pair SIDE (keyed on the
    * tiny pair list) and full-outer-joins on (pair, term) — work is
    * O(vocab × pairs), never O(corpus × pairs).
    */
  def jsdPairs(docs: DataFrame, group: Column, text: Column): DataFrame = {
    val tf = graft.ops.Spread.forAmplification(docs)
      .select(group.as("g"), explode(graft.text.TextAnalysis.tokens(text)).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("g", "t").agg(count(lit(1)).as("c"))
    val tot = tf.groupBy("g").agg(sum(col("c")).as("n"))
    val p = tf.join(broadcast(tot), "g")
      .select(col("g"), col("t"), (col("c").cast("double") / col("n")).as("p"))
    // pair list built on the driver: ≤#groups rows collected (the same
    // bounded barrier as any dynamic-partition list), avoiding a
    // cross-join plan for what is a handful of group names
    val spark = docs.sparkSession
    import spark.implicits._
    val gs = tot.select(col("g").cast("string")).as[String].collect().sorted
    val pairs = (for {
      i <- gs.indices; j <- (i + 1) until gs.length
    } yield (gs(i), gs(j))).toDF("a", "b")
    val left = broadcast(pairs).join(p.withColumnRenamed("g", "a"), "a")
      .select(col("a"), col("b"), col("t"), col("p").as("pa"))
    val right = broadcast(pairs).join(p.withColumnRenamed("g", "b"), "b")
      .select(col("a"), col("b"), col("t"), col("p").as("pb"))
    val full = left.join(right, Seq("a", "b", "t"), "full_outer")
      .select(col("a"), col("b"),
        coalesce(col("pa"), lit(0.0)).as("pa"),
        coalesce(col("pb"), lit(0.0)).as("pb"))
    val m = (col("pa") + col("pb")) / 2
    val term = round(
      lit(0.5) * when(col("pa") > 0, col("pa") * log(col("pa") / m)).otherwise(0.0) +
      lit(0.5) * when(col("pb") > 0, col("pb") * log(col("pb") / m)).otherwise(0.0), 8)
    full.select(col("a"), col("b"), term.as("term"))
      .groupBy("a", "b")
      .agg(round(sum(col("term").cast("decimal(28,8)")).cast("double"), 6).as("jsd"))
      .orderBy("a", "b")
  }
}
