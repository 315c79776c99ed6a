package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed statistics: group-wise OLS regression, chi-squared
  * independence, Welch's t, MAD robust outliers, Benford first-digit audit.
  * The inferential complement to the drift suite (ops/Drift) — where PSI/KS
  * ask "did the distribution move?", these ask "is the relationship /
  * difference real, and which rows break it?".
  *
  * Float determinism contract (so a DuckDB oracle hash-matches): every
  * data-sized sum runs over DECIMAL casts (order-independent across any
  * partitioning), derived statistics are computed from those exact sums
  * with a mirrored operation order, and results round to 6. Each operator
  * is one map-side-combined aggregation over data rows; all ratio math
  * runs on report-sized frames.
  */
object Stats {

  /** Per-group simple linear regression of `y` on `x` by the closed-form
    * normal equations: returns (groupCols*, n, slope, intercept, r2).
    *
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — groups with zero x
    * variance return null slope/intercept/r2 rather than ±Inf. All five
    * sums are DECIMAL(38,8) (exact; order-independent), so the doubles
    * derived from them are bit-identical on any engine replaying the same
    * formula. One shuffle (the groupBy, partial-aggregated map-side);
    * no second pass, no windows over data.
    */
  def regrByGroup(df: DataFrame, groupCols: Seq[String], x: Column,
      y: Column): DataFrame = {
    // products are DOUBLE multiplies cast to decimal (identical IEEE result
    // then identical half-up cast on any engine) — decimal×decimal would
    // hit engine-specific precision-overflow rescaling rules instead
    val xd = x.cast("double")
    val yd = y.cast("double")
    val agg = df
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(when(x.isNotNull && y.isNotNull, 1)).as("n"),
        sum(when(y.isNotNull, x.cast("decimal(28,8)"))).cast("double").as("sx"),
        sum(when(x.isNotNull, y.cast("decimal(28,8)"))).cast("double").as("sy"),
        sum((xd * yd).cast("decimal(38,8)")).cast("double").as("sxy"),
        sum(when(y.isNotNull, (xd * xd).cast("decimal(38,8)"))).cast("double").as("sxx"),
        sum(when(x.isNotNull, (yd * yd).cast("decimal(38,8)"))).cast("double").as("syy"))
    val n = col("n").cast("double")
    val covN = n * col("sxy") - col("sx") * col("sy")   // n²·cov
    val varXN = n * col("sxx") - col("sx") * col("sx")  // n²·var(x)
    val varYN = n * col("syy") - col("sy") * col("sy")
    val slope = covN / varXN
    agg
      .withColumn("slope", when(varXN > 0, round(slope, 6)))
      .withColumn("intercept",
        when(varXN > 0, round((col("sy") - slope * col("sx")) / n, 6)))
      .withColumn("r2",
        when(varXN > 0 && varYN > 0, round(covN * covN / (varXN * varYN), 6)))
      .drop("sx", "sy", "sxy", "sxx", "syy")
  }

  /** Pearson chi-squared test of independence between two categorical
    * columns: one row (chi2, dof, n). The contingency table is ONE
    * map-side-combined groupBy over data; expected counts and the statistic
    * come from marginal windows over that ≤|A|·|B|-row table. Observed
    * zeros for present-marginal pairs are handled by densifying the
    * (a, b) grid from the marginals (a cross of two report tables), so
    * chi2 matches the textbook definition, not just the support. Terms are
    * rounded to 8 before the decimal total (mirrorable order-independent
    * sum), chi2 rounds to 6. */
  def chiSquareIndependence(df: DataFrame, a: Column, b: Column): DataFrame = {
    val obs = df.filter(a.isNotNull && b.isNotNull)
      .select(a.as("a"), b.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val ma = obs.groupBy("a").agg(sum(col("o")).as("na"))
    val mb = obs.groupBy("b").agg(sum(col("o")).as("nb"))
    val grid = ma.crossJoin(broadcast(mb)) // report × report
    val dense = grid.join(obs, Seq("a", "b"), "left").na.fill(Map("o" -> 0L))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nTot = sum(col("o")).over(all)
    val e = col("na").cast("double") * col("nb").cast("double") / nTot.cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    val ka = size(collect_set(col("a")).over(all))
    val kb = size(collect_set(col("b")).over(all))
    dense
      .withColumn("chi2",
        round(sum(round(term, 8).cast("decimal(28,8)")).over(all).cast("double"), 6))
      .withColumn("dof", ((ka - 1) * (kb - 1)).cast("bigint"))
      .withColumn("n", nTot.cast("bigint"))
      .select("chi2", "dof", "n").limit(1)
  }

  /** Welch's unequal-variance t statistic between the rows where `side`
    * is true (group a) and false (group b): one row
    * (n_a, n_b, mean_a, mean_b, t_stat, dof) with the Welch–Satterthwaite
    * degrees of freedom. ONE aggregation over data (conditional decimal
    * sums); every derived double replays bit-identically from the exact
    * sums. Degenerate inputs (a group under 2 rows, both variances 0)
    * return null t/dof. */
  def welchTTest(df: DataFrame, side: Column, value: Column): DataFrame = {
    val v = value.cast("double")
    val vd = value.cast("decimal(28,8)")
    val v2d = (v * v).cast("decimal(38,8)")
    val agg = df.filter(value.isNotNull && side.isNotNull)
      .agg(
        count(when(side, 1)).as("n_a"),
        count(when(!side, 1)).as("n_b"),
        sum(when(side, vd)).cast("double").as("sa"),
        sum(when(!side, vd)).cast("double").as("sb"),
        sum(when(side, v2d)).cast("double").as("sa2"),
        sum(when(!side, v2d)).cast("double").as("sb2"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val meanA = col("sa") / na
    val meanB = col("sb") / nb
    val varA = (col("sa2") - col("sa") * col("sa") / na) / (na - 1)
    val varB = (col("sb2") - col("sb") * col("sb") / nb) / (nb - 1)
    val se2 = varA / na + varB / nb
    val dof = se2 * se2 /
      (varA * varA / (na * na * (na - 1)) + varB * varB / (nb * nb * (nb - 1)))
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0
    agg
      .withColumn("mean_a", round(meanA, 6))
      .withColumn("mean_b", round(meanB, 6))
      .withColumn("t_stat", when(ok, round((meanA - meanB) / sqrt(se2), 6)))
      .withColumn("dof", when(ok, round(dof, 6)))
      .select("n_a", "n_b", "mean_a", "mean_b", "t_stat", "dof")
  }

  /** Robust per-group outliers by Median Absolute Deviation: rows where
    * |x − median| > k·MAD, scored |x − median| / MAD (rounded 6). Exact
    * interpolated medians (percentile 0.5 — the q05 cross-engine contract);
    * two keyed aggregations + one join back on the group key, all
    * shuffle-aligned on `group` so AQE coalesces them into one exchange
    * chain. Groups with MAD = 0 flag nothing (score undefined — a
    * constant-valued group has no robust scale).
    *
    * Group-cardinality assumption (r15, the round-14 advice finding): the
    * per-group aggregates are broadcast UNCONDITIONALLY, so `group` must
    * be a low-cardinality dimension (the percentile buffers already imply
    * that — each group holds a full value buffer on one task). A
    * ~100M-distinct-group caller would OOM the broadcast before the
    * buffers did; use a plain keyed join for that shape. */
  def madOutliers(df: DataFrame, group: String, value: Column, k: Double = 3.0,
      out: String = "mad_score"): DataFrame = {
    val v = value.cast("double")
    val med = df.groupBy(group)
      .agg(percentile(v, lit(0.5)).as("__med"))
    // broadcast the ≤#groups-row aggregates explicitly (guide §3.1, the
    // trimmedMean build-side misestimate): the data side must stay streamed
    val withMed = df.join(broadcast(med), Seq(group))
    val mad = withMed.groupBy(group)
      .agg(percentile(abs(v - col("__med")), lit(0.5)).as("__mad"))
    withMed.join(broadcast(mad), Seq(group))
      .filter(col("__mad") > 0 && abs(v - col("__med")) > col("__mad") * k)
      .withColumn(out, round(abs(v - col("__med")) / col("__mad"), 6))
      .drop("__med", "__mad")
  }

  /** Benford first-digit audit over a positive numeric column: per digit
    * 1-9, observed count/share vs the Benford expectation log10(1+1/d),
    * with the chi-squared deviation total replicated on every row. The
    * first significant digit is taken from the DECIMAL(18,2) string
    * rendering (exact, never scientific notation — log10-based extraction
    * would misdigit at power-of-ten boundaries). One data pass; the digit
    * table is ≤9 rows. */
  def benford(df: DataFrame, value: Column): DataFrame = {
    val digit = regexp_extract(value.cast("decimal(18,2)").cast("string"),
      "[1-9]", 0)
    val hist = df.filter(value.isNotNull && value.cast("double") > 0)
      .select(digit.as("digit")).filter(col("digit") =!= "")
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nTot = sum(col("n")).over(all).cast("double")
    val p = col("n").cast("double") / nTot
    // explicit ln ratio — log(base, x) helpers differ across engines
    val q = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0))
    val term = (p - q) * (p - q) / q * nTot // chi2 contribution n·(p−q)²/q
    hist
      .withColumn("p_obs", round(p, 6))
      .withColumn("p_benford", round(q, 6))
      .withColumn("chi2_total",
        round(sum(round(term, 8).cast("decimal(28,8)")).over(all).cast("double"), 6))
      .orderBy("digit")
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * labelers (the inter-annotator / labeler-vs-heuristic QA check on an
    * annotation pipeline): one row (n, po, pe, kappa) where
    * po = Σ_c p_cc (observed agreement) and pe = Σ_c pA(c)·pB(c) (chance).
    *
    * ONE map-side-combined groupBy over data rows (the contingency table);
    * marginals, the diagonal, and all ratio math run on that report-sized
    * frame. The agreement and marginal-product sums are exact integers
    * (DECIMAL), so po/pe/kappa replay bit-identically from them. */
  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val obs = df.filter(a.isNotNull && b.isNotNull)
      .select(a.cast("string").as("a"), b.cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val ma = obs.groupBy("a").agg(sum(col("o")).as("na")).withColumnRenamed("a", "c")
    val mb = obs.groupBy("b").agg(sum(col("o")).as("nb")).withColumnRenamed("b", "c")
    val marg = ma.join(mb, Seq("c"), "full_outer")
      .na.fill(Map("na" -> 0L, "nb" -> 0L))
      .agg(
        sum(col("na")).as("n"),
        sum((col("na") * col("nb")).cast("decimal(38,0)")).as("pe_num"))
    val agree = obs.filter(col("a") === col("b"))
      .agg(coalesce(sum(col("o")), lit(0L)).as("n_agree"))
    val joined = marg.crossJoin(broadcast(agree)) // 1 row × 1 row
    val n = col("n").cast("double")
    val po = col("n_agree").cast("double") / n
    val pe = col("pe_num").cast("double") / (n * n)
    joined
      .withColumn("po", round(po, 6))
      .withColumn("pe", round(pe, 6))
      .withColumn("kappa", when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)))
      .select(col("n"), col("po"), col("pe"), col("kappa"))
  }

  /** Gini coefficient of the group-size distribution — the concentration
    * audit ("is the corpus 90% one domain?") run before fixing a source mix.
    * One row (n_groups, total, gini) with the sorted-rank formula
    * G = Σ_i (2i − n − 1)·x_i / (n·Σx), x ascending.
    *
    * The data pass is ONE keyed groupBy (sizes); ranks over the per-group
    * frame come from [[Ranked.withRankCumSum]]'s range-partition scaffold
    * (groups scale with data — a global rank window here would be a
    * single-partition sort of every group row). Integer-exact numerator
    * via DECIMAL; ties rank deterministically by group key. */
  def giniConcentration(df: DataFrame, group: Column): DataFrame = {
    val sizes = df.select(group.cast("string").as("g"))
      .filter(col("g").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("x"))
    Ranked.withRankCumSum(sizes, Seq(col("x").asc, col("g").asc), col("x"))
      .withColumn("i", col("__rank"))
      .withColumn("n", col("__n"))
      .agg(
        max(col("n")).as("n_groups"),
        sum(col("x")).as("total"),
        sum(((lit(2) * col("i") - col("n") - 1) * col("x")).cast("decimal(38,0)"))
          .as("num"))
      .withColumn("gini",
        when(col("total") > 0 && col("n_groups") > 0,
          round(col("num").cast("double") /
            (col("n_groups").cast("double") * col("total").cast("double")), 6)))
      .select(col("n_groups").cast("bigint").as("n_groups"),
        col("total").cast("bigint").as("total"), col("gini"))
  }

  /** Calibration curve for a [0,1) score against a boolean label — the
    * reliability diagram behind "is the quality classifier's 0.9 really a
    * 90% hit rate?". Buckets score into `nBuckets` equal bins; per bucket:
    * count, mean score, observed positive rate, and the (replicated)
    * overall Brier score. ONE map-side-combined groupBy over data rows;
    * the Brier window runs over the ≤nBuckets report table. Scores and
    * squared errors sum as DECIMAL (order-independent). */
  def calibrationCurve(df: DataFrame, score: Column, label: Column,
      nBuckets: Int = 10): DataFrame = {
    val sc = score.cast("double")
    val y = when(label, 1.0).otherwise(0.0)
    val bucket = least(floor(sc * nBuckets).cast("bigint"), lit(nBuckets - 1L))
    val hist = df.filter(score.isNotNull && label.isNotNull)
      .select(bucket.as("bucket"), sc.cast("decimal(28,10)").as("s"),
        y.cast("decimal(28,10)").as("y"),
        ((sc - y) * (sc - y)).cast("decimal(38,10)").as("se"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("s")).as("ss"),
        sum(col("y")).as("sy"), sum(col("se")).as("sse"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("mean_score",
        round(col("ss").cast("double") / col("n").cast("double"), 6))
      .withColumn("pos_rate",
        round(col("sy").cast("double") / col("n").cast("double"), 6))
      .withColumn("brier_total",
        round(sum(col("sse")).over(all).cast("double") /
          sum(col("n")).over(all).cast("double"), 6))
      .select("bucket", "n", "mean_score", "pos_rate", "brier_total")
      .orderBy("bucket")
  }

  /** Per-group TRIMMED mean: the mean of `value` within the group's own
    * [lo, hi] exact percentile bounds (inclusive) — the robust location
    * estimate reports quote when winsorizing would bias and the plain mean
    * is outlier-hostage. Returns (group, n_kept, trimmed_mean), mean from
    * DECIMAL-exact sums. Two keyed aggregations + one join back, all
    * shuffle-aligned on `group` (the madOutliers shape — including its
    * low-group-cardinality assumption: the bounds table is broadcast
    * unconditionally, see the madOutliers scaladoc). */
  def trimmedMean(df: DataFrame, group: String, value: Column,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val v = value.cast("double")
    // r14: project once and spread an under-partitioned scan — the exact
    // percentile builds a per-group value buffer row by row and the decimal
    // mean sums a BigDecimal per row; on a one-split input both phases
    // serialize on one core (Spread.forHeavyStage is a no-op on well-split
    // inputs). Both consumers read the SAME exchange (reused subtree), and
    // every aggregate here is partition-order independent.
    val base = graft.ops.Spread.forHeavyStage(
      df.select(col(group), v.as("__v")), col(group), col("__v"))
    // ONE array percentile per group (r15, the q05 buffer fusion): the two
    // scalar calls each built a full per-group value buffer; one buffer
    // serves both bounds bit-identically
    val bounds = base.groupBy(group)
      .agg(percentile(col("__v"), array(lit(lo), lit(hi))).as("__b"))
      .select(col(group), element_at(col("__b"), 1).as("__lo"),
        element_at(col("__b"), 2).as("__hi"))
    // explicit broadcast of the ≤#groups-row bounds table (guide §3.1): the
    // planner's size estimate had it BUILDING THE 600k-row base side
    // instead (BuildLeft in the r14 before-plan), which parks the entire
    // filter+mean stage on the bounds side's single post-aggregate task
    base.join(broadcast(bounds), Seq(group))
      .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
      .groupBy(group)
      .agg(
        count(lit(1)).as("n_kept"),
        round(sum(col("__v").cast("decimal(28,8)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("trimmed_mean"))
  }

  /** Bootstrap confidence interval of the mean by DETERMINISTIC Poisson
    * resampling: row i's multiplicity in resample b is a Poisson(1) variate
    * read off a 60-bit md5(seed|b|id) uniform through the inverse CDF
    * (capped at 4; P(X≥5) ≈ 0.37% folds into the cap) — a pure function of
    * (seed, b, id), so every engine and every partitioning replays the
    * same B resamples (the q151 md5-uniform idiom). Poisson bootstrap IS
    * the distributed bootstrap: true multinomial resampling needs global
    * coordination, per-row independent weights need none.
    *
    * Output: one row (n, mean, se, ci_lo, ci_hi) — full-sample mean,
    * standard error = stddev of the B resample means, CI = exact
    * percentiles of those means.
    *
    * Scale shape: ONE pass over data with a B-way map-side explode (CPU
    * only — the shuffle carries B partial rows per partition), then all
    * statistics run on the B-row means table. */
  def bootstrapMeanCI(df: DataFrame, idCol: String, value: Column,
      b: Int = 40, seed: String = "42",
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val x = value.cast("double")
    // spread an under-partitioned scan before the b-way resample explode
    // and its per-row md5 draws (see [[graft.ops.Spread.forAmplification]])
    val stacked = graft.ops.Spread.forHeavyAmplification(
        df.filter(value.isNotNull)
          .select(col(idCol).cast("string").as("__id"), x.as("__x")),
        col("__id"))
      .select(col("__id"), col("__x"),
        explode(sequence(lit(0), lit(b - 1))).as("__b"))
    val u = (conv(substring(md5(concat_ws("|", lit(seed),
      col("__b").cast("string"), col("__id"))), 1, 15), 16, 10)
      .cast("double") + 1.0) / lit(1.152921504606846976e18)
    // Poisson(1) inverse CDF at the exact cumulative doubles
    val w = when(u < 0.36787944117144233, 0)
      .when(u < 0.7357588823428847, 1)
      .when(u < 0.9196986029286058, 2)
      .when(u < 0.9810118431238462, 3)
      .otherwise(4)
    val means = stacked
      .select(col("__b"), w.as("__w"), col("__x"))
      .groupBy("__b")
      .agg(sum((col("__w") * col("__x")).cast("decimal(38,8)")).as("s"),
        sum(col("__w")).as("wn"))
      .filter(col("wn") > 0) // an empty resample has no mean
      .select((col("s").cast("double") / col("wn").cast("double")).as("m"))
    val stats = means.agg(
      count(lit(1)).as("__bn"),
      sum(col("m").cast("decimal(28,10)")).as("__sm"),
      sum((col("m") * col("m")).cast("decimal(38,10)")).as("__sm2"),
      round(percentile(col("m"), lit(lo)), 6).as("ci_lo"),
      round(percentile(col("m"), lit(hi)), 6).as("ci_hi"))
    val full = df.filter(value.isNotNull).agg(
      count(lit(1)).as("n"),
      round(sum(x.cast("decimal(28,8)")).cast("double") /
        count(lit(1)).cast("double"), 6).as("mean"))
    val bn = col("__bn").cast("double")
    val varM = (col("__sm2").cast("double") -
      col("__sm").cast("double") * col("__sm").cast("double") / bn) / (bn - 1)
    full.crossJoin(broadcast(stats)) // 1 row × 1 row
      .withColumn("se", when(col("__bn") >= 2, round(sqrt(varM), 6)))
      .select("n", "mean", "se", "ci_lo", "ci_hi")
  }

  /** Wald's Sequential Probability Ratio Test over a per-period
    * (trials, successes) series: the cumulative log-likelihood ratio
    * walk for H1: p = p1 vs H0: p = p0, with the classic decision
    * boundaries ln((1−β)/α) and ln(β/(1−α)) — the "stop the experiment
    * as soon as the evidence is in" monitor (fixed-horizon tests like
    * q208 must wait for their planned n; SPRT stops early in either
    * direction with controlled error rates).
    *
    * llr_t = X_t·ln(p1/p0) + (N_t − X_t)·ln((1−p1)/(1−p0)) on the
    * INTEGER cumulative sums — exact prefix counts, two engine-computed
    * log constants, round 6; the decision compares the rounded llr to the
    * rounded boundaries so the verdict is engine-stable. Windows run over
    * the ≤#periods series (the acf acceptance). Output per period:
    * (t, n_cum, x_cum, llr, decision ∈ accept_h0|accept_h1|continue). */
  def sprt(series: DataFrame, t: Column, x: Column, n: Column,
      p0: Double, p1: Double, alpha: Double = 0.05,
      beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      "sprt needs distinct p0, p1 in (0,1)")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "sprt needs alpha, beta in (0,1)")
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lWin = log(lit(p1) / lit(p0))
    val lLoss = log((lit(1.0) - lit(p1)) / (lit(1.0) - lit(p0)))
    val upper = round(log((lit(1.0) - lit(beta)) / lit(alpha)), 6)
    val lower = round(log(lit(beta) / (lit(1.0) - lit(alpha))), 6)
    series
      .select(t.as("t"), x.cast("bigint").as("x"), n.cast("bigint").as("n"))
      .filter(col("t").isNotNull && col("x").isNotNull && col("n").isNotNull)
      .withColumn("x_cum", sum(col("x")).over(w))
      .withColumn("n_cum", sum(col("n")).over(w))
      .withColumn("llr", round(col("x_cum").cast("double") * lWin +
        (col("n_cum") - col("x_cum")).cast("double") * lLoss, 6))
      .withColumn("decision",
        when(col("llr") >= upper, "accept_h1")
          .when(col("llr") <= lower, "accept_h0")
          .otherwise("continue"))
      .select("t", "n_cum", "x_cum", "llr", "decision")
      .orderBy("t")
  }

  /** Deterministic Poisson-bootstrap CI of an A/B UPLIFT (difference of
    * means): the [[bootstrapMeanCI]] machinery run on both sides of
    * `side` inside one stacked pass — each resample reweights EVERY row
    * with an md5-derived Poisson(1) multiplicity and reports
    * mean_A − mean_B; the CI is the percentile band of those B uplifts.
    * The experiment readout that answers "how big is the lift, ±what",
    * where q208's z-test only answers "is it nonzero".
    *
    * Resamples with an empty side drop (no uplift defined). Same
    * determinism contract as q180: multiplicities replay from
    * md5(seed|b|id) on any engine, sums are DECIMAL, round 6. One data
    * pass (b-fold stacked), everything after runs on the B-row frame. */
  def bootstrapUpliftCI(df: DataFrame, idCol: String, side: Column,
      value: Column, b: Int = 40, seed: String = "42",
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val x = value.cast("double")
    def nz(c: Column): Column = when(c =!= 0.0, c)
    // spread an under-partitioned scan before the b-way resample explode
    // and its per-row md5 draws (see [[graft.ops.Spread.forAmplification]])
    val stacked = graft.ops.Spread.forHeavyAmplification(
        df.filter(value.isNotNull && side.isNotNull)
          .select(col(idCol).cast("string").as("__id"), side.as("__side"),
            x.as("__x")), col("__id"))
      .select(col("__id"), col("__side"), col("__x"),
        explode(sequence(lit(0), lit(b - 1))).as("__b"))
    val u = (conv(substring(md5(concat_ws("|", lit(seed),
      col("__b").cast("string"), col("__id"))), 1, 15), 16, 10)
      .cast("double") + 1.0) / lit(1.152921504606846976e18)
    val w = when(u < 0.36787944117144233, 0)
      .when(u < 0.7357588823428847, 1)
      .when(u < 0.9196986029286058, 2)
      .when(u < 0.9810118431238462, 3)
      .otherwise(4)
    val uplifts = stacked
      .select(col("__b"), col("__side"), w.as("__w"), col("__x"))
      .groupBy("__b")
      .agg(
        sum(when(col("__side"), col("__w") * col("__x")).cast("decimal(38,8)"))
          .as("sa"),
        sum(when(col("__side"), col("__w"))).as("wa"),
        sum(when(!col("__side"), col("__w") * col("__x")).cast("decimal(38,8)"))
          .as("sb"),
        sum(when(!col("__side"), col("__w"))).as("wb"))
      .filter(col("wa") > 0 && col("wb") > 0)
      .select((col("sa").cast("double") / col("wa").cast("double") -
        col("sb").cast("double") / col("wb").cast("double")).as("u"))
    val stats = uplifts.agg(
      count(lit(1)).as("__bn"),
      sum(col("u").cast("decimal(28,10)")).as("__su"),
      sum((col("u") * col("u")).cast("decimal(38,10)")).as("__su2"),
      round(percentile(col("u"), lit(lo)), 6).as("ci_lo"),
      round(percentile(col("u"), lit(hi)), 6).as("ci_hi"))
    val full = df.filter(value.isNotNull && side.isNotNull).agg(
      count(when(side, 1)).as("n_a"),
      count(when(!side, 1)).as("n_b"),
      (sum(when(side, x).cast("decimal(28,8)")).cast("double") /
        nz(count(when(side, 1)).cast("double"))).as("__ma"),
      (sum(when(!side, x).cast("decimal(28,8)")).cast("double") /
        nz(count(when(!side, 1)).cast("double"))).as("__mb"))
    val bn = col("__bn").cast("double")
    val varU = (col("__su2").cast("double") -
      col("__su").cast("double") * col("__su").cast("double") /
        nz(bn)) / nz(bn - 1)
    full.crossJoin(broadcast(stats)) // 1 row × 1 row
      .withColumn("mean_a", round(col("__ma"), 6))
      .withColumn("mean_b", round(col("__mb"), 6))
      .withColumn("uplift", round(col("__ma") - col("__mb"), 6))
      .withColumn("se", when(col("__bn") >= 2, round(sqrt(varU), 6)))
      .select("n_a", "n_b", "mean_a", "mean_b", "uplift", "se",
        "ci_lo", "ci_hi")
  }

  /** Quantile-normalize `value` against a REFERENCE distribution: each row
    * maps to the reference quantile midpoint of its bucket — the feature
    * alignment that makes a drifted feature comparable to what the model
    * trained on ("this month's doc length, expressed in last month's
    * distribution"). Buckets are the reference's exact `buckets`-quantile
    * cutoffs (left-closed on interior cuts: bucket = #cuts ≤ v, so values
    * outside the reference range clamp to the edge buckets); the mapped
    * value is the reference percentile at the bucket midpoint, rounded 6.
    *
    * Scale shape: ONE aggregate over the reference collects 2·buckets
    * doubles to the driver (the winsorize-style bounded barrier); the
    * mapping is a pure literal-comparison projection on the data side —
    * codegen'd, no join, no shuffle.
    */
  def quantileNormalize(df: DataFrame, value: Column, reference: DataFrame,
      refValue: Column, buckets: Int = 10,
      out: String = "normalized"): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val rv = refValue.cast("double")
    val cutPs = (1 until buckets).map(_.toDouble / buckets)
    val midPs = (0 until buckets).map(i => (i + 0.5) / buckets)
    val row = reference.filter(rv.isNotNull)
      .agg(percentile(rv, typedLit(cutPs)).as("cuts"),
        percentile(rv, typedLit(midPs)).as("mids")).head()
    val cuts = row.getSeq[Double](0)
    val mids = row.getSeq[Double](1)
    val x = value.cast("double")
    val bucket = cuts.map(c => when(x >= lit(c), 1).otherwise(0))
      .reduce(_ + _)
    df.withColumn(out,
      when(x.isNotNull,
        round(element_at(typedLit(mids), bucket + 1), 6)))
  }

  /** Mutual information between two categorical columns, with marginal
    * entropies and the sqrt-normalized NMI — the feature-audit companion to
    * [[chiSquareIndependence]] ("how MUCH does knowing a tell you about
    * b?", in nats, where chi2 only says "are they dependent?").
    * One row (n, mi, h_a, h_b, nmi); nmi is null when either entropy is 0
    * (a constant column carries no information to normalize by).
    *
    * ONE map-side-combined groupBy over data (the contingency table);
    * marginals derive from it, the MI sum joins the ≤|A|·|B| cell table to
    * its two marginals (report-sized keyed joins), and every per-cell term
    * is rounded to 8 and DECIMAL-summed (the chi2 float contract). Only
    * observed cells contribute — the 0·ln0 limit is 0, no epsilon. */
  def mutualInformation(df: DataFrame, a: Column, b: Column): DataFrame = {
    val obs = df.filter(a.isNotNull && b.isNotNull)
      .select(a.cast("string").as("a"), b.cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val ma = obs.groupBy("a").agg(sum(col("o")).as("na"))
    val mb = obs.groupBy("b").agg(sum(col("o")).as("nb"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def entropy(m: DataFrame, cnt: String): DataFrame = {
      val n = sum(col(cnt)).over(all).cast("double")
      val p = col(cnt).cast("double") / n
      m.withColumn("__t", round(-p * log(p), 8).cast("decimal(28,8)"))
        .agg(round(sum(col("__t")).cast("double"), 6).as("h"),
          sum(col(cnt)).as("n"))
    }
    val miDf = {
      val joined = obs.join(ma, Seq("a")).join(mb, Seq("b"))
      val n = sum(col("o")).over(all).cast("double")
      val term = (col("o").cast("double") / n) *
        log((col("o").cast("double") * n) /
          (col("na").cast("double") * col("nb").cast("double")))
      joined.withColumn("__t", round(term, 8).cast("decimal(28,8)"))
        .agg(round(sum(col("__t")).cast("double"), 6).as("mi"))
    }
    val ha = entropy(ma, "na").select(col("h").as("h_a"), col("n").as("n"))
    val hb = entropy(mb, "nb").select(col("h").as("h_b"))
    ha.crossJoin(broadcast(hb)).crossJoin(broadcast(miDf)) // 1-row frames
      .withColumn("nmi",
        when(col("h_a") > 0 && col("h_b") > 0,
          round(col("mi") / sqrt(col("h_a") * col("h_b")), 6)))
      .select("n", "mi", "h_a", "h_b", "nmi")
  }

  /** Information-gain sweep: mutual information of MANY bucketed features
    * against one label in ONE data pass — the feature-selection audit
    * ("which of the 40 features predicts the label at all?") that looping
    * [[mutualInformation]] would charge F scans for. Each row stacks to its
    * (feature, bucket, label) triples map-side (the psiMultiReport shape);
    * marginals and the MI sum run per feature over the bounded cell table.
    * Output: (feature, n, mi, h_label, ig_ratio) ordered by feature, where
    * ig_ratio = mi / H(label) ∈ [0,1] (null for a constant label).
    */
  def infoGainSweep(df: DataFrame, label: Column,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "infoGainSweep needs at least one feature")
    val stacked = df.filter(label.isNotNull)
      .select(explode(array(features.map { case (n, e) =>
          struct(lit(n).as("feature"), e.cast("string").as("bucket"))
        }: _*)).as("fb"), label.cast("string").as("label"))
      .select(col("fb.feature").as("feature"), col("fb.bucket").as("bucket"),
        col("label"))
      .filter(col("bucket").isNotNull)
    val cells = stacked.groupBy("feature", "bucket", "label")
      .agg(count(lit(1)).as("o"))
    val mb = cells.groupBy("feature", "bucket").agg(sum(col("o")).as("nb"))
    val ml = cells.groupBy("feature", "label").agg(sum(col("o")).as("nl"))
    val wf = Window.partitionBy("feature")
    // label entropy PER FEATURE (bucket-null rows differ per feature, so
    // the label marginal is feature-relative)
    val hl = {
      val n = sum(col("nl")).over(wf).cast("double")
      val p = col("nl").cast("double") / n
      ml.withColumn("__t", round(-p * log(p), 8).cast("decimal(28,8)"))
        .groupBy("feature")
        .agg(round(sum(col("__t")).cast("double"), 6).as("h_label"),
          sum(col("nl")).as("n"))
    }
    val mi = {
      val joined = cells.join(mb, Seq("feature", "bucket"))
        .join(ml, Seq("feature", "label"))
      val n = sum(col("o")).over(wf).cast("double")
      val term = (col("o").cast("double") / n) *
        log((col("o").cast("double") * n) /
          (col("nb").cast("double") * col("nl").cast("double")))
      joined.withColumn("__t", round(term, 8).cast("decimal(28,8)"))
        .groupBy("feature")
        .agg(round(sum(col("__t")).cast("double"), 6).as("mi"))
    }
    hl.join(mi, Seq("feature"))
      .withColumn("ig_ratio",
        when(col("h_label") > 0, round(col("mi") / col("h_label"), 6)))
      .select("feature", "n", "mi", "h_label", "ig_ratio")
      .orderBy("feature")
  }

  /** ROC AUC by the Mann–Whitney rank-sum identity — the threshold-free
    * companion to [[calibrationCurve]]: AUC = P(score⁺ > score⁻) with ties
    * counted half. One row (n_pos, n_neg, auc), exact under ties via
    * average ranks: AUC = (2·Σ_pos avgRank − n⁺(n⁺+1)) / (2·n⁺·n⁻), with
    * 2·avgRank kept INTEGER (2·minRank + ties − 1) so the rank sum is an
    * exact DECIMAL and the single final division is the only float op.
    *
    * Scale shape — global score ranks WITHOUT a global sort: ties collapse
    * map-side (groupBy score), the score axis is range-partitioned, ranks
    * are per-partition prefix sums plus a ≤`partitions`-row offset table
    * collected to the driver (the ksStatistic / DenseId two-pass shape).
    * No single-partition window anywhere — the 100 TB posture. */
  def aucRankSum(df: DataFrame, score: Column, label: Column,
      partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val hist = df.filter(score.isNotNull && label.isNotNull)
      .select(score.cast("double").as("v"),
        when(label, 1L).otherwise(0L).as("__p"))
      .groupBy("v")
      .agg(sum(col("__p")).as("np"), sum(lit(1L) - col("__p")).as("nn"))
      .repartitionByRange(partitions, col("v"))
      // r15: no sortWithinPartitions — range partitioning alone fixes the
      // pid-to-value-order invariant the offsets rely on, and the scored
      // pass's window re-sorts its partition regardless, so the pre-sort
      // only made the snapshot materialization pay an extra pass
      .withColumn("__pid", spark_partition_id())
    // eager snapshot: traversed twice (offset totals, scored pass) and the
    // snapshot pins ONE partition layout for both
    val snap = Snapshot.eager(hist)
    val partTotals = snap.groupBy("__pid")
      .agg(sum(col("np") + col("nn")).as("t"),
        sum(col("np")).as("tp"), sum(col("nn")).as("tn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val nPos = partTotals.map(_._3).sum
    val nNeg = partTotals.map(_._4).sum
    import spark.implicits._
    if (nPos == 0L || nNeg == 0L)
      // AUC is undefined with a one-class sample — surface counts, null stat
      return Seq((nPos, nNeg)).toDF("n_pos", "n_neg")
        .withColumn("auc", lit(null).cast("double"))
    val offsets = partTotals.scanLeft((0, 0L)) {
      case ((_, acc), (pid, t, _, _)) => (pid, acc + t)
    }
    val offDf = partTotals.map(_._1).zip(offsets.map(_._2))
      .map { case (pid, off) => (pid, off) }
      .toSeq.toDF("__pid", "off")
    val w = Window.partitionBy("__pid").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = col("np") + col("nn")                    // tied-block size
    // 2·Σ_pos avgRank, exactly: np·(2·before + m + 1) summed as DECIMAL
    // (window materialized BEFORE the aggregate — Spark forbids nesting)
    val s2 = snap.join(broadcast(offDf), "__pid")
      .withColumn("__before", col("off") + sum(m).over(w) - m) // ranked below v
      .agg(sum((col("np") * (lit(2) * col("__before") + m + 1))
        .cast("decimal(38,0)")).as("s2"))
    // subtract the two ~n² terms in DECIMAL (exact), THEN go to double: a
    // double-space subtraction would catastrophically cancel at large n
    val posTerm = new java.math.BigDecimal(nPos).multiply(
      new java.math.BigDecimal(nPos + 1L))
    s2.select(
      lit(nPos).as("n_pos"), lit(nNeg).as("n_neg"),
      round((col("s2") - lit(posTerm).cast("decimal(38,0)")).cast("double") /
        (2.0 * nPos.toDouble * nNeg.toDouble), 6).as("auc"))
  }

  /** One-way ANOVA F-test of `value` across the levels of `group`: one row
    * (k, n, ss_between, ss_within, f_stat, eta2). The multi-group
    * generalization of [[welchTTest]] — "do ANY of the k group means
    * differ?" — plus eta² (SSB/SST), the effect-size share of variance the
    * grouping explains.
    *
    * Exactness: per-group n/Σv/Σv² are DECIMAL sums (order-independent);
    * the k-row rollup re-sums those doubles through DECIMAL casts and the
    * per-group s²/n terms round to 8 before their decimal total, so SSB =
    * Σ s_g²/n_g − S²/N and SSW = S2 − Σ s_g²/n_g replay bit-identically.
    * Degenerate inputs (k < 2, or zero within variance) → null f_stat.
    *
    * Scale shape: ONE map-side-combined groupBy over data rows; everything
    * after runs on the ≤k-row frame (one more tiny aggregation, no windows
    * over data, no driver barrier).
    */
  def anovaOneWay(df: DataFrame, group: Column, value: Column): DataFrame = {
    val v = value.cast("double")
    val per = df.filter(group.isNotNull && value.isNotNull)
      .groupBy(group.as("g"))
      .agg(
        count(lit(1)).as("n"),
        sum(value.cast("decimal(28,8)")).cast("double").as("s"),
        sum((v * v).cast("decimal(38,8)")).cast("double").as("s2"))
    val roll = per.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("n"),
      sum(col("s").cast("decimal(38,8)")).cast("double").as("ts"),
      sum(col("s2").cast("decimal(38,8)")).cast("double").as("ts2"),
      // Σ_g s_g²/n_g — the between-groups raw moment, rounded 8 per term
      sum(round(col("s") * col("s") / col("n").cast("double"), 8)
        .cast("decimal(38,8)")).cast("double").as("a"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssb = col("a") - col("ts") * col("ts") / nD
    val ssw = col("ts2") - col("a")
    val sst = col("ts2") - col("ts") * col("ts") / nD
    val ok = col("k") >= 2 && col("n") > col("k") && ssw > 0
    roll
      .withColumn("ss_between", round(ssb, 6))
      .withColumn("ss_within", round(ssw, 6))
      .withColumn("f_stat",
        when(ok, round((ssb / (kD - 1)) / (ssw / (nD - kD)), 6)))
      .withColumn("eta2", when(sst > 0, round(ssb / sst, 6)))
      .select("k", "n", "ss_between", "ss_within", "f_stat", "eta2")
  }

  /** Cramér's V association matrix over MANY categorical columns in ONE
    * data pass — the release-audit companion to [[infoGainSweep]]: which
    * feature pairs are redundant (V → 1) and which are independent (V → 0)?
    * For each unordered pair of `features`, the chi-squared statistic on the
    * densified contingency grid (the [[chiSquareIndependence]] math) and
    * V = sqrt(χ² / (n · min(k_a, k_b) − n)). Output per pair:
    * (col_a, col_b, n, chi2, dof, cramers_v), ordered by (col_a, col_b).
    *
    * Scale shape: each data row explodes to its P = F·(F−1)/2 pair cells
    * map-side (two short strings each — rows multiply before the combine,
    * bytes do not), ONE shuffle of the combined (pair, a, b) histogram;
    * marginals, the dense a×b grid (a broadcast of the per-pair b-marginal),
    * and all ratio math run on the bounded cell table, windowed per pair.
    */
  def cramersVSweep(df: DataFrame,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.size >= 2, "cramersVSweep needs at least two features")
    val pairs = for {
      i <- features.indices; j <- (i + 1) until features.size
    } yield (features(i), features(j))
    val cells = df.select(explode(array(pairs.map { case ((na, ea), (nb, eb)) =>
        struct(lit(na).as("ca"), lit(nb).as("cb"),
          ea.cast("string").as("a"), eb.cast("string").as("b"))
      }: _*)).as("p"))
      .select(col("p.ca").as("ca"), col("p.cb").as("cb"),
        col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("ca", "cb", "a", "b").agg(count(lit(1)).as("o"))
    // eager snapshot of the bounded cell table: it feeds the a-marginal,
    // the b-marginal AND the dense-grid join — without it each consumer
    // re-derives the aggregate from its own table scan (3 data passes)
    val obs = Snapshot.eager(cells)
    val ma = obs.groupBy("ca", "cb", "a").agg(sum(col("o")).as("na"))
    val mb = obs.groupBy("ca", "cb", "b").agg(sum(col("o")).as("nb"))
    val grid = ma.join(broadcast(mb), Seq("ca", "cb")) // per-pair report grid
    val dense = grid.join(obs, Seq("ca", "cb", "a", "b"), "left")
      .na.fill(Map("o" -> 0L))
    val wp = Window.partitionBy("ca", "cb")
    val nTot = sum(col("o")).over(wp).cast("double")
    val e = col("na").cast("double") * col("nb").cast("double") / nTot
    val od = col("o").cast("double")
    val ka = size(collect_set(col("a")).over(wp))
    val kb = size(collect_set(col("b")).over(wp))
    dense
      .withColumn("__t", round((od - e) * (od - e) / e, 8).cast("decimal(28,8)"))
      .withColumn("__ka", ka).withColumn("__kb", kb)
      .withColumn("__n", sum(col("o")).over(wp))
      .groupBy("ca", "cb")
      .agg(
        max(col("__n")).as("n"),
        round(sum(col("__t")).cast("double"), 6).as("chi2"),
        ((max(col("__ka")) - 1) * (max(col("__kb")) - 1)).cast("bigint").as("dof"),
        max(least(col("__ka"), col("__kb")) - 1).as("__m"))
      .withColumn("cramers_v",
        when(col("__m") >= 1 && col("n") > 0,
          round(sqrt(col("chi2") /
            (col("n").cast("double") * col("__m").cast("double"))), 6)))
      .drop("__m")
      .withColumnRenamed("ca", "col_a").withColumnRenamed("cb", "col_b")
      .orderBy("col_a", "col_b")
  }

  /** Spearman rank correlation between two numeric columns, exact under
    * ties (Pearson on average ranks): one row (n, rho rounded 6) — the
    * monotone-association companion to the Pearson matrix (A13): outlier-
    * robust, captures any monotone relation, agrees with Pearson only when
    * the relation is linear in rank space.
    *
    * Exactness: average ranks are kept as the INTEGER 2·rank = 2·(#values
    * below) + tiecount + 1 (the aucRankSum identity), so all five Pearson
    * sums are exact DECIMAL(38,0) integer sums; rho replays the identical
    * double formula from them on any engine. Pearson-on-ranks is invariant
    * to the common ×2 scaling.
    *
    * Scale shape — global ranks WITHOUT a global sort, per axis: ties
    * collapse map-side (groupBy value), the value axis range-partitions,
    * ranks are per-partition prefix sums + a ≤`partitions`-row offset
    * table (the ksStatistic/aucRankSum two-pass shape). The rank tables
    * (≤#distinct values) join back to rows by value — two keyed shuffles
    * of data, no single-partition window anywhere. */
  def spearman(df: DataFrame, x: Column, y: Column,
      partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    // r14: spread an under-partitioned scan BEFORE the snapshot — the
    // snapshot freezes the scan's partitioning, so a one-split input would
    // otherwise serialize both rank-histogram aggregates and the scoring
    // join's map side on one core for the whole query (no-op on well-split
    // inputs; ranks/sums are partition-order independent by construction)
    val dataRaw = graft.ops.Spread.forHeavyStage(
      df.select(x.cast("double").as("x"), y.cast("double").as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull),
      col("x"), col("y"))
    // r15: NO data snapshot. Two consumers (the stacked rank build and the
    // final scoring join) re-run the scan+filter+spread, but that subtree
    // is two pruned numeric columns through whole-stage codegen — measured
    // cheaper to recompute than to materialize and re-read through the
    // BlockManager at BOTH scales (sf0.1: 3.67 → 3.26 s; sf10 isolated
    // A/B: 22.7 s with the snapshot vs 14.9 s without — a 60M-row
    // localCheckpoint costs more than a second pruned columnar scan). The
    // r14 snapshot predates the stacked single-pass rank build, which
    // halved the consumer count.
    val data = dataRaw

    // r14: BOTH rank tables from ONE stacked pass — the per-axis builds
    // each paid a histogram aggregate, a repartitionByRange (whose range
    // sampling is its own job), a snapshot and an offsets collect; stacking
    // (axis, v) halves that. Range partitioning on (axis, v) keeps each
    // axis's values globally ordered; prefix sums window per (pid, axis)
    // and offsets scan per axis in pid order, so every rank is IDENTICAL
    // to the per-axis build (2·#below + tiecount + 1, exact integers).
    val hist = data.select(explode(array(
        struct(lit(0).as("axis"), col("x").as("v")),
        struct(lit(1).as("axis"), col("y").as("v")))).as("av"))
      .groupBy(col("av.axis").as("axis"), col("av.v").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .repartitionByRange(partitions, col("axis"), col("v"))
      // r15: no sortWithinPartitions — range partitioning alone fixes the
      // pid→value-order invariant the offsets rely on; the rank window
      // re-sorts its partition regardless, so the pre-sort only made the
      // snapshot materialization pay an extra spill-prone pass
      .withColumn("__pid", spark_partition_id())
    val hsnap = Snapshot.eager(hist)
    val partTotals = hsnap.groupBy("__pid", "axis")
      .agg(sum(col("cnt")).as("t"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    import spark.implicits._
    val offDf = partTotals.groupBy(_._2).toSeq.flatMap { case (axis, rows) =>
      val sorted = rows.sortBy(_._1)
      sorted.map(_._1).zip(
        sorted.scanLeft(0L) { case (acc, (_, _, t)) => acc + t })
        .map { case (pid, off) => (pid, axis, off) }
    }.toDF("__pid", "axis", "off")
    val w = Window.partitionBy("__pid", "axis").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = hsnap.join(broadcast(offDf), Seq("__pid", "axis"))
      .withColumn("__before", col("off") + sum(col("cnt")).over(w) - col("cnt"))
      .select(col("axis"), col("v"),
        (lit(2L) * col("__before") + col("cnt") + 1L).as("r2"))
    val rx = ranks.filter(col("axis") === 0).select(col("v").as("x"), col("r2").as("__rx"))
    val ry = ranks.filter(col("axis") === 1).select(col("v").as("y"), col("r2").as("__ry"))
    val dec = (c: Column) => c.cast("decimal(19,0)")
    val agg = data.join(rx, "x").join(ry, "y")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("__rx"))).cast("double").as("sx"),
        sum(dec(col("__ry"))).cast("double").as("sy"),
        sum(dec(col("__rx")) * dec(col("__ry"))).cast("double").as("sxy"),
        sum(dec(col("__rx")) * dec(col("__rx"))).cast("double").as("sxx"),
        sum(dec(col("__ry")) * dec(col("__ry"))).cast("double").as("syy"))
    val nD = col("n").cast("double")
    val covN = nD * col("sxy") - col("sx") * col("sy")
    val varX = nD * col("sxx") - col("sx") * col("sx")
    val varY = nD * col("syy") - col("sy") * col("sy")
    agg.select(col("n"),
      when(varX > 0 && varY > 0,
        round(covN / sqrt(varX * varY), 6)).as("rho"))
  }

  /** Two-regressor OLS y = b0 + b1·x1 + b2·x2 by the closed-form normal
    * equations (Cramér on the centered 2×2 system) — the first step past
    * [[regrByGroup]]'s simple regression when one confounder must be held
    * fixed. One row (n, b0, b1, b2, r2), null coefficients when the
    * centered design matrix is singular (collinear or constant regressors).
    *
    * Exactness: all nine raw sums are DECIMAL (order-independent); the
    * centered moments, determinant and coefficients replay the identical
    * double formula from them on any engine; round 6. One map-side-
    * combined aggregation over data rows, all algebra on the 1-row frame.
    */
  def ols2(df: DataFrame, y: Column, x1: Column, x2: Column): DataFrame = {
    val ok = y.isNotNull && x1.isNotNull && x2.isNotNull
    val (yd0, x1d0, x2d0) = (y.cast("double"), x1.cast("double"), x2.cast("double"))
    // r14: spread an under-partitioned scan before the 10-term decimal
    // moment aggregate (one BigDecimal chain per row per term serializes a
    // one-split input on one core; no-op on well-split inputs, sums are
    // order-independent by the DECIMAL contract)
    val base = graft.ops.Spread.forHeavyStage(
      df.filter(ok).select(yd0.as("__y"), x1d0.as("__x1"), x2d0.as("__x2")),
      col("__y"), col("__x1"), col("__x2"))
    val (yd, x1d, x2d) = (col("__y"), col("__x1"), col("__x2"))
    def s(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val agg = base.agg(
      count(lit(1)).as("n"),
      s(x1d).as("s1"), s(x2d).as("s2"), s(yd).as("sy"),
      s(x1d * x1d).as("s11"), s(x2d * x2d).as("s22"), s(x1d * x2d).as("s12"),
      s(x1d * yd).as("s1y"), s(x2d * yd).as("s2y"),
      s(yd * yd).as("syy"))
    val n = col("n").cast("double")
    val c11 = col("s11") - col("s1") * col("s1") / n
    val c22 = col("s22") - col("s2") * col("s2") / n
    val c12 = col("s12") - col("s1") * col("s2") / n
    val c1y = col("s1y") - col("s1") * col("sy") / n
    val c2y = col("s2y") - col("s2") * col("sy") / n
    val cyy = col("syy") - col("sy") * col("sy") / n
    val det = c11 * c22 - c12 * c12
    val b1 = (c22 * c1y - c12 * c2y) / det
    val b2 = (c11 * c2y - c12 * c1y) / det
    val b0 = (col("sy") - b1 * col("s1") - b2 * col("s2")) / n
    val okFit = col("n") >= 3 && det > 0
    agg.select(
      col("n"),
      when(okFit, round(b0, 6)).as("b0"),
      when(okFit, round(b1, 6)).as("b1"),
      when(okFit, round(b2, 6)).as("b2"),
      when(okFit && cyy > 0,
        round((b1 * c1y + b2 * c2y) / cyy, 6)).as("r2"))
  }

  /** Lorenz curve of group-size concentration at deciles — the visual
    * companion to [[giniConcentration]]: after the smallest d/10 of groups
    * (by size, id tie-break), what share of total mass do they hold? A
    * 45° line is perfect equality; the farther below, the more the corpus
    * concentrates in a few heavy groups. Output per decile 1..10:
    * (decile, n_groups, pop_share, mass_share) rounded 6.
    *
    * One data pass collapses rows to group sizes; ranks and running sums
    * over the per-group frame come from [[Ranked.withRankCumSum]]'s
    * range-partition scaffold (groups scale with data — no global
    * window). */
  def lorenzDeciles(df: DataFrame, group: Column): DataFrame = {
    val sizes = df.filter(group.isNotNull)
      .groupBy(group.as("g")).agg(count(lit(1)).as("sz"))
    Ranked.withRankCumSum(sizes, Seq(col("sz").asc, col("g").asc), col("sz"))
      .withColumn("decile", ceil(col("__rank") * 10 / col("__n")).cast("int"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_groups"),
        round(max(col("__rank")).cast("double") /
          max(col("__n")).cast("double"), 6).as("pop_share"),
        round(max(col("__cum")).cast("double") /
          max(col("__tot")).cast("double"), 6).as("mass_share"))
      .orderBy("decile")
  }

  /** Effective sample size under weighting, per group: ESS = (Σw)²/Σw²
    * (Kish) and the design effect n/ESS — the sampling-suite health check
    * that says how much signal a weighted corpus REALLY carries (heavy
    * weight skew → ESS ≪ n → the mixture behaves like far fewer docs).
    * One map-side-combined pass, decimal sums, round 6. */
  def effectiveSampleSize(df: DataFrame, group: Column,
      weight: Column): DataFrame = {
    val w = weight.cast("double")
    val agg = df.filter(group.isNotNull && weight.isNotNull && weight > 0)
      .groupBy(group.as("g"))
      .agg(
        count(lit(1)).as("n"),
        sum(w.cast("decimal(38,8)")).cast("double").as("sw"),
        sum((w * w).cast("decimal(38,8)")).cast("double").as("sw2"))
    agg.select(
      col("g"), col("n"),
      round(col("sw") * col("sw") / col("sw2"), 6).as("ess"),
      round(col("n").cast("double") * col("sw2") /
        (col("sw") * col("sw")), 6).as("deff"))
      .orderBy("g")
  }

  /** Two-proportion z-test between the subjects where `side` is true
    * (variant A) and false (variant B): conversion = `converted`, pooled
    * standard error, one row (n_a, n_b, conv_a, conv_b, p_a, p_b, z) —
    * the A/B experiment readout beside [[welchTTest]]'s mean comparison.
    * Null z when a group is empty or the pooled rate is degenerate (0 or
    * 1 — no variance, no test). All counts integer-exact; the z formula
    * replays identically from them; round 6. ONE aggregation pass.
    */
  def twoProportionZTest(df: DataFrame, side: Column,
      converted: Column): DataFrame = {
    val agg = df.filter(side.isNotNull && converted.isNotNull)
      .agg(
        count(when(side, 1)).as("n_a"),
        count(when(!side, 1)).as("n_b"),
        count(when(side && converted, 1)).as("conv_a"),
        count(when(!side && converted, 1)).as("conv_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pPool = (col("conv_a") + col("conv_b")).cast("double") / (na + nb)
    val se = sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / na + lit(1.0) / nb))
    val ok = col("n_a") > 0 && col("n_b") > 0 && pPool > 0 && pPool < 1
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      when(col("n_a") > 0, round(pa, 6)).as("p_a"),
      when(col("n_b") > 0, round(pb, 6)).as("p_b"),
      when(ok, round((pa - pb) / se, 6)).as("z"))
  }

  /** ABC (Pareto) classification of items by cumulative value share:
    * items ranked by value descending (id tie-break), class A while the
    * cumulative share is within `aCut` (default 0.8), B within `bCut`
    * (0.95), else C — the inventory-analysis standard ("which 20% of
    * parts carry 80% of revenue"). Output per item: (item, value, rank,
    * cum_share rounded 6, abc_class), ordered by rank.
    *
    * The CALLER aggregates data rows to the per-item value table; ranks
    * and prefix sums over that item-catalog-sized frame come from
    * [[Ranked.withRankCumSum]]'s range-partition scaffold (item catalogs
    * scale with data — no global window). Value sums are decimal-exact;
    * the class boundaries compare the ROUNDED share on both engines, so
    * the A/B/C cut is engine-stable.
    */
  def abcClasses(perItem: DataFrame, item: Column, value: Column,
      aCut: Double = 0.8, bCut: Double = 0.95): DataFrame = {
    val base = perItem.select(item.as("item"),
        value.cast("decimal(28,6)").as("v"))
      .filter(col("item").isNotNull && col("v").isNotNull)
    Ranked.withRankCumSum(base, Seq(col("v").desc, col("item").asc), col("v"))
      .withColumn("rank", col("__rank"))
      .withColumn("cum_share",
        round(col("__cum").cast("double") / col("__tot").cast("double"), 6))
      .withColumn("abc_class",
        when(col("cum_share") <= aCut, "A")
          .when(col("cum_share") <= bCut, "B")
          .otherwise("C"))
      .select("item", "rank", "cum_share", "abc_class")
      .orderBy("rank")
  }

  /** Cohen's d (with Hedges' g small-sample correction) per group: the
    * standardized mean difference between the `side`=true (A) and
    * `side`=false (B) rows of each group — the EFFECT-SIZE companion the
    * significance tests need (q208's z and [[welchTTest]]'s t say "is
    * the difference real"; d says "is it big enough to matter", the number
    * an experiment readout is incomplete without).
    *
    * d = (mean_A − mean_B) / s_pooled with the (n−1)-weighted pooled
    * sample SD; g = d · (1 − 3/(4(n_A+n_B)−9)). Rows with NULL side or
    * value drop (both engines). Determinism: Σx and Σx² per side as
    * DECIMAL(38,8); ratio math in double, round 6. Degenerate groups
    * (either side < 2 rows, zero pooled variance) emit null d/g.
    * Scale shape: ONE map-side-combined keyed aggregate over data — no
    * windows, no joins. Output: (group, n_a, n_b, mean_a, mean_b,
    * pooled_sd, d, g) ordered by group. */
  def cohensDByGroup(df: DataFrame, group: String, side: Column,
      value: Column): DataFrame = {
    val v = value.cast("double")
    def s(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val agg = df.filter(col(group).isNotNull && side.isNotNull &&
        value.isNotNull)
      .groupBy(col(group))
      .agg(
        count(when(side, 1)).as("n_a"),
        count(when(!side, 1)).as("n_b"),
        s(when(side, v)).as("__sa"), s(when(side, v * v)).as("__sa2"),
        s(when(!side, v)).as("__sb"), s(when(!side, v * v)).as("__sb2"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val meanA = col("__sa") / na
    val meanB = col("__sb") / nb
    val varA = (col("__sa2") - col("__sa") * col("__sa") / na) / (na - 1)
    val varB = (col("__sb2") - col("__sb") * col("__sb") / nb) / (nb - 1)
    // greatest(…, 0): float cancellation can push a constant-valued side's
    // variance a hair negative; sqrt(negative) is NaN and engines disagree
    // on NaN comparisons — clamp so pooled is always a real number
    val pooled = sqrt(greatest(
      ((na - 1) * varA + (nb - 1) * varB) / (na + nb - 2), lit(0.0)))
    val d = (meanA - meanB) / pooled
    val g = d * (lit(1.0) - lit(3.0) / (lit(4.0) * (na + nb) - 9.0))
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && pooled > 0
    agg.select(
        col(group), col("n_a"), col("n_b"),
        when(col("n_a") > 0, round(meanA, 6)).as("mean_a"),
        when(col("n_b") > 0, round(meanB, 6)).as("mean_b"),
        when(col("n_a") >= 2 && col("n_b") >= 2, round(pooled, 6))
          .as("pooled_sd"),
        when(ok, round(d, 6)).as("d"),
        when(ok, round(g, 6)).as("g"))
      .orderBy(group)
  }

  /** Mix-shift (Oaxaca-style) decomposition of a metric change between two
    * periods: overall Δ = Σ_g (w_B − w_A)·m_A  (MIX effect — the metric
    * moved because traffic shifted between segments)  +  Σ_g w_B·(m_B −
    * m_A)  (RATE effect — segments themselves changed), the identity that
    * answers the post-launch "did the number move, or did the mix move?"
    * question a plain before/after comparison cannot.
    *
    * `side` true = period A (baseline), false = period B. Per group:
    * weights w = group rows / period rows, means from DECIMAL sums; mix
    * and rate terms round 6. A group absent from a period keeps weight 0
    * there; its terms needing the missing mean emit null (documented —
    * entering/exiting segments have no defined within-segment change).
    * Scale shape: ONE keyed aggregate + a 1-row period-totals broadcast.
    * Output: (group, n_a, n_b, w_a, w_b, mean_a, mean_b, mix_effect,
    * rate_effect) ordered by group. */
  def mixShiftDecomposition(df: DataFrame, group: String, side: Column,
      value: Column): DataFrame = {
    val v = value.cast("double")
    def s(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val per = df.filter(col(group).isNotNull && side.isNotNull &&
        value.isNotNull)
      .groupBy(col(group))
      .agg(
        count(when(side, 1)).as("n_a"),
        count(when(!side, 1)).as("n_b"),
        s(when(side, v)).as("__sa"), s(when(!side, v)).as("__sb"))
    val tot = per.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    val wa = col("n_a").cast("double") / col("__ta").cast("double")
    val wb = col("n_b").cast("double") / col("__tb").cast("double")
    val ma = col("__sa") / col("n_a").cast("double")
    val mb = col("__sb") / col("n_b").cast("double")
    per.crossJoin(broadcast(tot))
      .select(
        col(group), col("n_a"), col("n_b"),
        round(wa, 6).as("w_a"), round(wb, 6).as("w_b"),
        when(col("n_a") > 0, round(ma, 6)).as("mean_a"),
        when(col("n_b") > 0, round(mb, 6)).as("mean_b"),
        when(col("n_a") > 0, round((wb - wa) * ma, 6)).as("mix_effect"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(wb * (mb - ma), 6)).as("rate_effect"))
      .orderBy(group)
  }

  /** CUPED variance reduction (Deng et al.): adjust the experiment metric
    * with a pre-experiment covariate, y* = y − θ(x − x̄), θ = cov(x,y)/
    * var(x) pooled over all rows — the standard trick that shrinks
    * experiment confidence intervals without touching the treatment
    * effect (E[y*] per arm shifts both arms identically). Everything is
    * closed-form from one pass of moments: adjusted mean per side =
    * ȳ_s − θ(x̄_s − x̄), adjusted variance per side = var(y)_s +
    * θ²·var(x)_s − 2θ·cov(x,y)_s.
    *
    * Determinism: all moment sums DECIMAL(38,8); round 6. Degenerate
    * inputs (var(x) = 0) emit θ null and raw values only. Scale shape:
    * one keyed aggregate by side + a 1-row pooled-moments broadcast.
    * Output per side: (side, n, mean_raw, mean_adj, theta, var_raw,
    * var_adj, var_reduction_pct) ordered by side desc (A first). */
  def cupedAdjustedMeans(df: DataFrame, side: Column, metric: Column,
      covariate: Column): DataFrame = {
    val y = metric.cast("double")
    val x = covariate.cast("double")
    def s(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val base = df.filter(side.isNotNull && metric.isNotNull &&
        covariate.isNotNull)
      .select(side.as("side"), y.as("y"), x.as("x"))
    val perSide = base.groupBy("side").agg(
      count(lit(1)).as("n"),
      s(col("y")).as("__sy"), s(col("y") * col("y")).as("__syy"),
      s(col("x")).as("__sx"), s(col("x") * col("x")).as("__sxx"),
      s(col("x") * col("y")).as("__sxy"))
    val pooled = base.agg(
      count(lit(1)).as("__pn"),
      s(col("x")).as("__px"), s(col("x") * col("x")).as("__pxx"),
      s(col("y")).as("__py"), s(col("x") * col("y")).as("__pxy"))
    val pn = col("__pn").cast("double")
    val varX = col("__pxx") / pn - (col("__px") / pn) * (col("__px") / pn)
    val covXY = col("__pxy") / pn - (col("__px") / pn) * (col("__py") / pn)
    val theta = covXY / varX
    val xbar = col("__px") / pn
    val nD = col("n").cast("double")
    val meanY = col("__sy") / nD
    val meanX = col("__sx") / nD
    val varY = col("__syy") / nD - meanY * meanY
    val varXs = col("__sxx") / nD - meanX * meanX
    val covS = col("__sxy") / nD - meanX * meanY
    val varAdj = varY + theta * theta * varXs - lit(2.0) * theta * covS
    val ok = varX > 0
    perSide.crossJoin(broadcast(pooled))
      .select(
        col("side"), col("n"),
        round(meanY, 6).as("mean_raw"),
        when(ok, round(meanY - theta * (meanX - xbar), 6)).as("mean_adj"),
        when(ok, round(theta, 6)).as("theta"),
        round(varY, 6).as("var_raw"),
        when(ok, round(varAdj, 6)).as("var_adj"),
        when(ok && varY > 0,
          round((varY - varAdj) / varY * 100.0, 6)).as("var_reduction_pct"))
      .orderBy(col("side").desc)
  }

  /** Weighted median per group: the smallest value whose cumulative weight
    * reaches half the group total (the lower weighted median — exact, not
    * interpolated). The size-aware center a mixing pipeline reads when
    * rows carry a mass (tokens, bytes, sampling weight) and the unweighted
    * median would let a million tiny rows outvote the heavy ones.
    *
    * Exactness: weights are DECIMAL throughout, the qualifying test
    * 2·cum ≥ total is an exact decimal comparison — no float boundary.
    * Scale shape: ties collapse map-side (groupBy (group, value)), the
    * cumulative window partitions BY GROUP over each group's distinct
    * values — distributed across groups, never a single-partition window.
    * Output: (group, n_values, total_weight, weighted_median).
    *
    * NULL groups are EXCLUDED (r15, the round-14 advice finding): the
    * offset/total re-attachment joins on the group column, and an equi
    * join rejects null keys — the explicit filter below makes that the
    * documented contract instead of a silent property of the join (the
    * group-window form this replaced kept a null-group row; callers that
    * need one should coalesce the group to a sentinel first). */
  def weightedMedian(df: DataFrame, group: String, value: Column,
      weight: Column, partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    // r14 rework (guide §2.5 — a dominant group is a one-task window):
    // the cumulative-weight window used to partition BY GROUP, so its
    // parallelism was #groups and every row of a hot group ran through one
    // task's DECIMAL accumulator (q195: 3 groups over 600k values = 3
    // cores busy). The cumulative weights now come from the
    // spearman/ksStatistic scaffold — range-partition the tie-collapsed
    // (group, v) histogram, per-partition DECIMAL prefix sums, plus a
    // ≤partitions·#groups-row offsets table collected once. Every __cum
    // is the identical exact decimal (decimal addition is associative and
    // the offsets replay the same v-order), so the qualifying filter and
    // the output are bit-identical to the group-window form.
    val base = df
      .select(col(group), value.cast("double").as("v"),
        weight.cast("decimal(28,6)").as("w"))
      .filter(col(group).isNotNull &&
        col("v").isNotNull && col("w").isNotNull && col("w") > 0)
      .groupBy(col(group), col("v")).agg(sum(col("w")).as("w"))
      .repartitionByRange(partitions, col(group), col("v"))
      // r15: no sortWithinPartitions — range partitioning alone fixes the
      // pid-to-value-order invariant the offsets rely on, and the scored
      // pass's window re-sorts its partition regardless, so the pre-sort
      // only made the snapshot materialization pay an extra pass
      .withColumn("__pid", spark_partition_id())
    val snap = Snapshot.eager(base)
    // one bounded collect: per-(pid, group) weight totals and value counts
    val partTotals = snap.groupBy("__pid", group)
      .agg(sum(col("w")).as("t"), count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.get(1), r.getDecimal(2), r.getLong(3)))
    // exclusive per-group prefix offsets in pid order (pid order IS value
    // order under range partitioning), exact java BigDecimal arithmetic
    val offRows = partTotals.groupBy(_._2).toSeq.flatMap { case (g, rows) =>
      val sorted = rows.sortBy(_._1)
      sorted.map(_._1).zip(
        sorted.scanLeft(java.math.BigDecimal.ZERO) {
          case (acc, (_, _, t, _)) => acc.add(t)
        }).map { case (pid, off) => (pid, g, off) }
    }
    val groupMeta = partTotals.groupBy(_._2).map { case (g, rows) =>
      (g, rows.map(_._3).foldLeft(java.math.BigDecimal.ZERO)(_.add(_)),
        rows.map(_._4).sum)
    }.toSeq
    val gCol = snap.schema(group).dataType
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows.map { case (pid, g, off) =>
        org.apache.spark.sql.Row(pid, g, off) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField(group, gCol),
        org.apache.spark.sql.types.StructField("off",
          org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)))))
    val totDf = spark.createDataFrame(
      spark.sparkContext.parallelize(groupMeta.map { case (g, t, c) =>
        org.apache.spark.sql.Row(g, t, c) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(group, gCol),
        org.apache.spark.sql.types.StructField("__tot",
          org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)),
        org.apache.spark.sql.types.StructField("__nv",
          org.apache.spark.sql.types.LongType))))
    val wc = Window.partitionBy(col("__pid"), col(group)).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    snap.join(broadcast(offDf), Seq("__pid", group))
      .withColumn("__cum", col("off") + sum(col("w")).over(wc))
      .join(broadcast(totDf), Seq(group))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(group)
      .agg(
        max(col("__nv")).as("n_values"),
        max(col("__tot")).cast("double").as("total_weight"),
        min(col("v")).as("weighted_median"))
      .orderBy(group)
  }

  /** Kaplan–Meier survival curve over a lifetime table (one row per
    * subject: integer `duration`, boolean `observed` — true = the terminal
    * event really happened, false = right-censored): for each duration t
    * with at least one observed event, (t, n_risk, n_events, n_censored,
    * survival) where n_risk counts subjects still alive entering t and
    * S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) — the churn-curve estimator that uses
    * censored subjects' partial information instead of dropping them.
    *
    * Exactness: the product is exp of the cumulative DECIMAL sum of
    * ln-terms rounded to 8 (the PSI/JSD log contract); a risk set that
    * dies out entirely (d = n) floors 1−d/n at 1e-12, driving S to 0 on
    * both engines. Censor-only rows don't change S and are filtered from
    * the output (they still deplete n_risk — the point of the estimator).
    *
    * Scale shape: the caller's lifetime table is subject-sized; this
    * collapses it to the ≤#distinct-durations frame in one
    * map-side-combined groupBy, and every window is over that bounded
    * report (durations are whole days of a finite horizon). */
  def kaplanMeier(lifetimes: DataFrame, duration: Column,
      observed: Column): DataFrame = {
    val base = lifetimes
      .filter(duration.isNotNull && observed.isNotNull)
      .select(duration.cast("bigint").as("t"),
        when(observed, 1L).otherwise(0L).as("__d"))
      .groupBy("t")
      .agg(sum(col("__d")).as("n_events"),
        sum(lit(1L) - col("__d")).as("n_censored"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val excl = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val incl = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val leaving = col("n_events") + col("n_censored")
    val nRisk = sum(leaving).over(all) -
      coalesce(sum(leaving).over(excl), lit(0L))
    val withRisk = base.withColumn("n_risk", nRisk)
    val term = round(log(greatest(
      lit(1.0) - col("n_events").cast("double") / col("n_risk").cast("double"),
      lit(1e-12))), 8)
    withRisk
      .withColumn("survival",
        round(exp(sum(term.cast("decimal(28,8)")).over(incl).cast("double")), 6))
      .filter(col("n_events") > 0)
      .select("t", "n_risk", "n_events", "n_censored", "survival")
      .orderBy("t")
  }

  /** Autocorrelation function of an already-aggregated series: for each lag
    * 1..maxLag, r_k = Σ_{t}(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)² over the series
    * ordered by `t` — the seasonality probe a monitoring pipeline runs on
    * its daily volume curve (lag-7 spike = weekly cycle). Output:
    * (lag, n_pairs, acf rounded 6), ordered by lag.
    *
    * The input `series` must already be collapsed to one row per period
    * (the CALLER owns the one data-rows pass); every frame here — the
    * global mean, the lag self-join, the per-lag sums — is report-sized
    * (≤#periods rows), so the global window is bounded, the same posture
    * as the Benford digit table. Exactness: ȳ from decimal sums; products
    * round to 8 before their per-lag decimal totals.
    */
  /** Sample cross-correlation between two aligned series at lags
    * −maxLag..maxLag: CCF(k) = Σ dx_t·dy_{t+k} / √(Σdx²·Σdy²) — the
    * lead/lag detector ("volume moves, does value follow two days
    * later?") that [[acfByLag]] is the self-paired special case of.
    * Positive lag: x leads y. Normalization uses the FULL-series second
    * moments (the standard sample CCF), so |ccf| ≤ 1 and lags are
    * comparable. Same determinism/scale contract as acfByLag: decimal
    * round-8 term sums, windows over the ≤#periods caller-aggregated
    * series. Output (lag, n_pairs, ccf) ordered by lag. */
  def crossCorrByLag(series: DataFrame, t: Column, x: Column, y: Column,
      maxLag: Int = 5): DataFrame = {
    require(maxLag >= 1, "crossCorrByLag needs maxLag >= 1")
    def nzc(c: Column): Column = when(c =!= 0.0, c)
    val base = series.select(t.as("t"), x.cast("double").as("x"),
        y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("x").isNotNull && col("y").isNotNull)
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def meanOf(c: Column): Column =
      sum(c.cast("decimal(28,8)")).over(all).cast("double") /
        count(lit(1)).over(all).cast("double")
    val withDev = base
      .withColumn("__dx", col("x") - meanOf(col("x")))
      .withColumn("__dy", col("y") - meanOf(col("y")))
    val withDenom = withDev
      .withColumn("__denom", sqrt(
        sum(round(col("__dx") * col("__dx"), 8).cast("decimal(28,8)"))
          .over(all).cast("double") *
        sum(round(col("__dy") * col("__dy"), 8).cast("decimal(28,8)"))
          .over(all).cast("double")))
    val wLead = Window.orderBy("t")
    val withLeads = (1 to maxLag).foldLeft(withDenom) { (acc, k) =>
      acc.withColumn(s"__ly_$k", lead(col("__dy"), k).over(wLead))
        .withColumn(s"__lx_$k", lead(col("__dx"), k).over(wLead))
    }
    // lag k>0: dx_t · dy_{t+k}; lag k<0: dy_t · dx_{t+|k|} (same pairs,
    // re-indexed); lag 0 is the plain product
    val terms = (-maxLag to maxLag).map { k =>
      val prod =
        if (k > 0) col("__dx") * col(s"__ly_$k")
        else if (k < 0) col("__dy") * col(s"__lx_${-k}")
        else col("__dx") * col("__dy")
      struct(lit(k).as("lag"), prod.as("prod"))
    }
    val grouped = withLeads
      .select(col("__denom"), explode(array(terms: _*)).as("l"))
      .select(col("l.lag").as("lag"), col("l.prod").as("prod"),
        col("__denom"))
      .filter(col("prod").isNotNull)
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(round(col("prod"), 8).cast("decimal(28,8)"))
          .cast("double") / nzc(max(col("__denom"))), 6).as("ccf"))
    // densify the lag axis: a lag with zero overlapping pairs (maxLag >=
    // series length) still surfaces as (lag, 0, null) — the documented
    // contract is every lag in -maxLag..maxLag, and silently missing rows
    // read as "forgot to compute", not "no data"
    val spark = series.sparkSession
    import spark.implicits._
    val lagAxis = (-maxLag to maxLag).toDF("lag")
    // broadcast the BUILD (right) side: a LEFT OUTER join can't broadcast
    // its preserved side, so hinting lagAxis would be silently ignored;
    // grouped is ≤ 2·maxLag+1 rows — trivially broadcastable
    lagAxis.join(broadcast(grouped), Seq("lag"), "left")
      .na.fill(Map("n_pairs" -> 0L))
      .orderBy("lag")
  }

  def acfByLag(series: DataFrame, t: Column, y: Column,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "acfByLag needs maxLag >= 1")
    val base = series.select(t.as("t"), y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val mean = sum(col("y").cast("decimal(28,8)")).over(all).cast("double") /
      count(lit(1)).over(all).cast("double")
    val wt = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withMean = base
      .withColumn("__mean", mean)
      .withColumn("__dev", col("y") - col("__mean"))
      .withColumn("__denom",
        sum(round(col("__dev") * col("__dev"), 8).cast("decimal(28,8)"))
          .over(all).cast("double"))
    // leads materialize as plain columns FIRST (window expressions are not
    // legal inside a generator), then one explode fans each row to its lags
    val wLead = Window.orderBy("t")
    val withLeads = (1 to maxLag).foldLeft(withMean) { (acc, k) =>
      acc.withColumn(s"__lead_$k", lead(col("__dev"), k).over(wLead))
    }
    val lagged = withLeads.select(
      col("__dev"), col("__denom"),
      explode(array((1 to maxLag).map { k =>
        struct(lit(k).as("lag"), col(s"__lead_$k").as("next_dev"))
      }: _*)).as("l"))
      .select(col("l.lag").as("lag"), col("__dev"), col("__denom"),
        col("l.next_dev").as("next_dev"))
      .filter(col("next_dev").isNotNull)
    lagged
      .withColumn("__num",
        round(col("__dev") * col("next_dev"), 8).cast("decimal(28,8)"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        when(max(col("__denom")) > 0,
          round(sum(col("__num")).cast("double") / max(col("__denom")), 6))
          .as("acf"))
      .orderBy("lag")
  }

  /** Brown–Forsythe test for equal spread across groups: one-way ANOVA on
    * the absolute deviations from each group's MEDIAN, z = |x − med_g| —
    * the robust Levene variant (median-centering survives heavy tails,
    * which mean-centered Levene does not). The homogeneity-of-variance
    * check run BEFORE trusting [[anovaOneWay]] / [[welchTTest]] pooled
    * assumptions: a large F here says the groups differ in SPREAD, so a
    * mean comparison should use the Welch path.
    *
    * Two data passes by necessity (medians first, then deviations —
    * exact medians can't fuse into one aggregation): pass 1 is a
    * per-group exact interpolated percentile (the q05 cross-engine
    * contract), pass 2 joins the ≤k-row median table back by BROADCAST
    * and feeds |x−med| (rounded 8 so decimal sums agree cross-engine)
    * into [[anovaOneWay]]'s single map-side-combined aggregation. Output:
    * (k, n, ss_between, ss_within, f_stat, eta2) — anova's shape on the
    * deviation variable. */
  def brownForsythe(df: DataFrame, group: Column, value: Column): DataFrame = {
    val base = df.filter(group.isNotNull && value.isNotNull)
      .select(group.as("g"), value.cast("double").as("v"))
    val med = base.groupBy("g")
      .agg(percentile(col("v"), lit(0.5)).as("__med"))
    val dev = base.join(broadcast(med), "g")
      .select(col("g"), round(abs(col("v") - col("__med")), 8).as("z"))
    anovaOneWay(dev, col("g"), col("z"))
  }

  /** Partial correlation r_xy·z — the Pearson correlation of `x` and `y`
    * with the linear effect of the confounder `z` removed:
    * (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²)). The "is the
    * quantity–price relationship real or is discount driving both"
    * screen. ONE map-side-combined aggregation collects all ten exact
    * DECIMAL moments; every r and the partial replay from them with a
    * mirrored operation order, rounded 6. Null when any marginal is
    * degenerate (zero variance, or |r·z| = 1). One row:
    * (n, r_xy, r_xz, r_yz, partial_r). */
  def partialCorrelation(df: DataFrame, x: Column, y: Column,
      z: Column): DataFrame = {
    // r14: spread before the 10-term decimal moment aggregate (the ols2
    // rationale; no-op on well-split inputs)
    val base = graft.ops.Spread.forHeavyStage(
      df.filter(x.isNotNull && y.isNotNull && z.isNotNull)
        .select(x.cast("double").as("x"), y.cast("double").as("y"),
          z.cast("double").as("z")),
      col("x"), col("y"), col("z"))
    def s(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val agg = base.agg(
      count(lit(1)).as("n"),
      s(col("x")).as("sx"), s(col("y")).as("sy"), s(col("z")).as("sz"),
      s(col("x") * col("x")).as("sxx"), s(col("y") * col("y")).as("syy"),
      s(col("z") * col("z")).as("szz"),
      s(col("x") * col("y")).as("sxy"), s(col("x") * col("z")).as("sxz"),
      s(col("y") * col("z")).as("syz"))
    val nD = col("n").cast("double")
    def varOf(saa: Column, sa: Column): Column = nD * saa - sa * sa
    // divide by NULL, never by zero: ANSI mode throws on /0 even inside an
    // untaken `when` branch once subexpression elimination hoists it
    def nz(c: Column): Column = when(c =!= 0.0, c)
    def r(sab: Column, sa: Column, sb: Column, saa: Column,
        sbb: Column): Column =
      (nD * sab - sa * sb) / nz(sqrt(varOf(saa, sa) * varOf(sbb, sb)))
    val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
    val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
    val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
    val ok = varOf(col("sxx"), col("sx")) > 0 &&
      varOf(col("syy"), col("sy")) > 0 && varOf(col("szz"), col("sz")) > 0
    val denom = sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    agg.select(col("n"),
      when(ok, round(rxy, 6)).as("r_xy"),
      when(ok, round(rxz, 6)).as("r_xz"),
      when(ok, round(ryz, 6)).as("r_yz"),
      when(ok && denom > 0, round((rxy - rxz * ryz) / nz(denom), 6))
        .as("partial_r"))
  }

  /** Weight-of-Evidence / Information-Value scorecard binning: the numeric
    * `value` is cut at its exact interpolated quantile edges (nBins
    * equal-frequency bins; edges rounded 6 so the cut replays identically
    * cross-engine), and each bin reports WoE = ln((bad_i/B)/(good_i/G))
    * plus its IV term — the credit-scorecard readout of how strongly a
    * feature separates a binary label (IV < 0.02 useless, > 0.3 strong).
    *
    * Bins with an empty side get null WoE and drop out of IV (the
    * unsmoothed textbook form — smoothing variants differ by vendor; the
    * null is the honest answer). Scale shape: ONE percentile aggregation
    * for the edge row (broadcast back — no global sort, no ntile funnel),
    * one combined groupBy over data; shares/WoE/IV run over the ≤nBins
    * report frame (windows bounded there). All counts integer-exact; IV
    * sums round-6 terms as DECIMAL. Output per bin: (bin, n, n_bad,
    * n_good, bad_share, good_share, woe, iv_term, iv_total) by bin. */
  def woeIv(df: DataFrame, value: Column, label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "woeIv needs at least two bins")
    val base = df.filter(value.isNotNull && label.isNotNull)
      .select(value.cast("double").as("v"), label.as("y"))
    val qs = (1 until nBins).map(_.toDouble / nBins)
    val edges = base.agg(
      transform(percentile(col("v"), typedlit(qs)), e => round(e, 6))
        .as("__edges"))
    val binned = base.crossJoin(broadcast(edges))
      .withColumn("bin",
        size(filter(col("__edges"), e => col("v") > e)).cast("bigint"))
    val per = binned.groupBy("bin").agg(
      count(lit(1)).as("n"),
      count(when(col("y"), 1)).as("n_bad"),
      count(when(!col("y"), 1)).as("n_good"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // null-denominator form: an all-one-class label yields null shares/WoE
    // instead of an ANSI divide-by-zero
    def nzL(c: Column): Column = when(c =!= 0L, c)
    val bS = col("n_bad").cast("double") / nzL(col("__B")).cast("double")
    val gS = col("n_good").cast("double") / nzL(col("__G")).cast("double")
    per
      .withColumn("__B", sum(col("n_bad")).over(all))
      .withColumn("__G", sum(col("n_good")).over(all))
      .withColumn("bad_share", round(bS, 6))
      .withColumn("good_share", round(gS, 6))
      .withColumn("woe",
        when(col("n_bad") > 0 && col("n_good") > 0, round(log(bS / gS), 6)))
      .withColumn("iv_term",
        when(col("woe").isNotNull, round((bS - gS) * col("woe"), 6)))
      .withColumn("iv_total",
        round(sum(col("iv_term").cast("decimal(28,6)")).over(all)
          .cast("double"), 6))
      .select("bin", "n", "n_bad", "n_good", "bad_share", "good_share",
        "woe", "iv_term", "iv_total")
      .orderBy("bin")
  }

  /** Two-sided normal tail probability 2·(1 − Φ(|z|)) by the
    * Abramowitz–Stegun 7.1.26 erf polynomial (|err| < 1.5e-7). The
    * SAME closed form replays in the DuckDB oracle — cross-engine
    * agreement needs only libm-grade exp/sqrt (sub-ulp), far inside the
    * round-6 quantum; the approximation error itself cancels because both
    * engines evaluate the identical polynomial. */
  def normalTwoSidedP(z: Column): Column = {
    val x = abs(z) / math.sqrt(2.0)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
      + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    // 1 − erf(x) IS poly·e^{−x²} in this form — emitted directly so the
    // oracle replays one expression, not a 1−(1−a) float detour
    poly * exp(-x * x)
  }

  /** Per-group two-proportion z-test family: within each group, compares
    * the conversion rate where `side` is true vs false — the "which
    * segments actually moved" fan-out of [[twoProportionZTest]]. One
    * map-side-combined aggregation over data rows; the z/ratio math runs
    * on the ≤#groups report frame. Degenerate groups (an empty side or a
    * pooled rate of 0/1) return null z. Counts are integer-exact; z
    * replays from them identically on any engine. */
  def twoProportionZByGroup(df: DataFrame, groupCols: Seq[String],
      side: Column, converted: Column): DataFrame = {
    val agg = df.filter(side.isNotNull && converted.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(when(side, 1)).as("n_a"),
        count(when(!side, 1)).as("n_b"),
        count(when(side && converted, 1)).as("conv_a"),
        count(when(!side && converted, 1)).as("conv_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pPool = (col("conv_a") + col("conv_b")).cast("double") / (na + nb)
    val se = sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / na + lit(1.0) / nb))
    val ok = col("n_a") > 0 && col("n_b") > 0 && pPool > 0 && pPool < 1
    agg.select(groupCols.map(col) ++ Seq(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      when(ok, (pa - pb) / se).as("z")): _*)
  }

  /** Benjamini–Hochberg step-up FDR adjustment over a FAMILY of tests
    * (a report-sized frame, one row per hypothesis): rank p ascending,
    * q_i = p_i·m/i, adjusted p = the reverse running minimum clamped to 1,
    * reject where adjusted p ≤ `alpha`. The multiple-comparisons guard a
    * segment-drift sweep needs before paging anyone — at 20 segments and
    * α=0.05 one raw-p "discovery" is EXPECTED under the null.
    *
    * Null p rows (degenerate tests) are dropped from the family (m counts
    * only testable hypotheses — the standard convention). Ordered windows
    * run over the ≤#hypotheses frame (the gini/lorenz acceptance); ties in
    * p are broken by the key columns for a deterministic row order, and
    * the reverse-cummin makes equal p values share one adjusted value, so
    * tie order never changes results. Output: keys*, p_raw, rank, p_bh
    * (round 6), reject — ordered by rank. */
  def bhAdjust(family: DataFrame, keyCols: Seq[String], p: Column,
      alpha: Double = 0.05): DataFrame = {
    val base = family.filter(p.isNotNull).withColumn("__p", p)
    val ordCols = col("__p") +: keyCols.map(col)
    val byP = Window.orderBy(ordCols: _*)
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val revCum = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("rank", row_number().over(byP).cast("bigint"))
      .withColumn("__m", count(lit(1)).over(all))
      .withColumn("__q",
        col("__p") * col("__m").cast("double") / col("rank").cast("double"))
      .withColumn("p_bh", round(least(min(col("__q")).over(revCum), lit(1.0)), 6))
      .withColumn("p_raw", round(col("__p"), 6))
      .withColumn("reject", col("p_bh") <= alpha)
      .select(keyCols.map(col) ++
        Seq(col("p_raw"), col("rank"), col("p_bh"), col("reject")): _*)
      .orderBy("rank")
  }
}
