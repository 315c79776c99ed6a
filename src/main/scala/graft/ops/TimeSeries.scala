package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic time-series structure over an already-aggregated series
  * (one row per period — the CALLER owns the single data-rows pass, as in
  * [[Stats.acfByLag]]): classical seasonal decomposition and CUSUM
  * changepoint location. Every frame here is report-sized (≤#periods), so
  * the global ordered windows are bounded — the same posture as the
  * Benford digit table, documented rather than range-partitioned.
  */
object TimeSeries {

  /** Divide by NULL, never by zero: ANSI mode throws on /0 even inside an
    * untaken `when` branch once subexpression elimination hoists it. */
  private def nz(c: Column): Column = when(c =!= 0.0, c)

  /** Classical additive decomposition y = trend + seasonal + residual:
    * trend is the centered `period`-point moving average (null at the
    * edges where the window is short), the seasonal term is the per-phase
    * mean of the detrended series re-centered to sum to zero across
    * phases, and the residual is what's left. The monitoring view that
    * separates "weekly rhythm" from "actual drift" before alerting on a
    * volume change.
    *
    * `phase` must be a deterministic 0..period-1 bucketing of `t` (e.g.
    * epoch-days mod 7). Output: (t, y, trend, seasonal, residual) rounded
    * to 6, ordered by t. Phase means are broadcast back — two tiny
    * aggregates, no second pass over the series.
    */
  def seasonalDecompose(series: DataFrame, t: Column, y: Column,
      phase: Column, period: Int = 7): DataFrame = {
    require(period >= 2, "seasonalDecompose needs period >= 2")
    val half = period / 2
    val base = series
      .select(t.as("t"), y.cast("double").as("y"), phase.cast("bigint").as("phase"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val wT = Window.orderBy("t").rowsBetween(-half, half)
    val withTrend = base
      .withColumn("__cnt", count(lit(1)).over(wT))
      .withColumn("__trend", when(col("__cnt") === period, avg(col("y")).over(wT)))
      .withColumn("__det", col("y") - col("__trend"))
    val pm = withTrend.groupBy("phase").agg(avg(col("__det")).as("__pm"))
    val center = pm.agg(avg(col("__pm")).as("__c"))
    withTrend
      .join(broadcast(pm), Seq("phase"), "left")
      .crossJoin(broadcast(center))
      .withColumn("trend", round(col("__trend"), 6))
      .withColumn("seasonal", round(col("__pm") - col("__c"), 6))
      .withColumn("residual",
        round(col("y") - col("__trend") - (col("__pm") - col("__c")), 6))
      .select("t", "y", "trend", "seasonal", "residual")
      .orderBy("t")
  }

  /** Holt linear (double-exponential) smoothing: per period the smoothed
    * level and trend after observing it — the forecasting state a capacity
    * planner reads off the volume curve (next-h forecast = level + h·trend).
    * l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1}), b_t = β(l_t − l_{t−1}) +
    * (1−β)b_{t−1}, initialized l_1 = y_1, b_1 = 0 (prefix-computable — no
    * lookahead). Output: (t, y, level, trend) rounded 6, ordered by t.
    *
    * Determinism: each row folds its PREFIX of the series through the
    * identical left-to-right recursion on both engines (the q160 EWMA
    * list-fold contract, with a (level, trend) struct as state) — same
    * op order, bit-identical doubles, round 6. The O(n²) prefix refolds
    * are over the ≤#periods report series, like every frame here — but
    * unlike the O(n) frames, misuse is QUADRATIC, so the report-size
    * contract is ENFORCED: a series longer than `maxRows` raises at
    * execution time (plan-embedded raise_error — no extra job, and the
    * in-bounds path's values are untouched) instead of silently folding
    * n² list prefixes over raw events.
    */
  def holtSmooth(series: DataFrame, t: Column, y: Column,
      alpha: Double = 0.5, beta: Double = 0.3,
      maxRows: Long = 100000L): DataFrame = {
    val wAll = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = series.select(t.as("t"), y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
      // the guard rides on y so column pruning can't eliminate it; the
      // otherwise-branch is the untouched column, so in-bounds results
      // are bit-identical to the unguarded fold
      .withColumn("y",
        when(count(lit(1)).over(wAll) > maxRows,
          raise_error(lit(s"holtSmooth: series exceeds maxRows=$maxRows " +
            "— aggregate to a report-sized (per-period) series first"))
            .cast("double"))
          .otherwise(col("y")))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vals = collect_list(col("y")).over(w)
    // the window list materializes FIRST (__vals); the fold references only
    // that column — a window expression inside aggregate() is not analyzable
    val folded = aggregate(
      expr("slice(__vals, 2, greatest(size(__vals) - 1, 0))"),
      struct(element_at(col("__vals"), 1).as("l"), lit(0.0).as("b")),
      (acc, x) => {
        val lNew = x * alpha + (acc.getField("l") + acc.getField("b")) * (1 - alpha)
        struct(lNew.as("l"),
          ((lNew - acc.getField("l")) * beta + acc.getField("b") * (1 - beta))
            .as("b"))
      })
    base.withColumn("__vals", vals)
      .withColumn("__st", folded)
      .select(col("t"), col("y"),
        round(col("__st.l"), 6).as("level"),
        round(col("__st.b"), 6).as("trend"))
      .orderBy("t")
  }

  /** Theil–Sen robust slope: the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(t_j − t_i), i < j — the outlier-proof trend line (one
    * wild day can't move it, unlike OLS), with the median-residual
    * intercept. One row (n, n_pairs, slope, intercept), rounded 6.
    *
    * The O(n²) pair join runs over the ≤#periods report series (the acf
    * acceptance); medians are the exact interpolated percentile (the q05
    * cross-engine contract). `t` must be numeric (epoch day/week).
    */
  def theilSen(series: DataFrame, t: Column, y: Column): DataFrame = {
    val base = series.select(t.cast("double").as("t"), y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val snap = Snapshot.eager(base)
    val pairs = snap.select(col("t").as("t1"), col("y").as("y1"))
      .join(snap.select(col("t").as("t2"), col("y").as("y2")),
        col("t1") < col("t2"))
      .select(((col("y2") - col("y1")) / (col("t2") - col("t1"))).as("sl"))
    val slope = pairs.agg(
      count(lit(1)).as("n_pairs"),
      percentile(col("sl"), lit(0.5)).as("__slope"))
    val nRow = snap.agg(count(lit(1)).as("n"))
    val withSlope = snap.crossJoin(broadcast(slope))
    withSlope
      .select((col("y") - col("__slope") * col("t")).as("__resid"),
        col("n_pairs"), col("__slope"))
      .agg(
        max(col("n_pairs")).as("n_pairs"),
        round(max(col("__slope")), 6).as("slope"),
        round(percentile(col("__resid"), lit(0.5)), 6).as("intercept"))
      .crossJoin(broadcast(nRow))
      .select(col("n"), col("n_pairs"), col("slope"), col("intercept"))
  }

  /** Per-group Theil–Sen robust slope: [[theilSen]] fanned out across a
    * group key in set-based form — the "one robust trend line PER
    * segment" sweep a release dashboard runs (which event types are
    * actually growing?). The pair join is EQUI on the group with the
    * t1 < t2 condition inside it, so pair work is Σ_g (periods_g)² —
    * bounded when the caller aggregates to a report-sized series per
    * group, and hash-partitioned by group, never a global product.
    * Output per group: (group, n, n_pairs, slope, intercept) ordered;
    * groups with < 2 periods yield null slope. */
  def theilSenByGroup(series: DataFrame, group: String, t: Column,
      y: Column): DataFrame = {
    val base = series.select(col(group).as("g"), t.cast("double").as("t"),
        y.cast("double").as("y"))
      .filter(col("g").isNotNull && col("t").isNotNull && col("y").isNotNull)
    val snap = Snapshot.eager(base)
    val slopes = snap.select(col("g"), col("t").as("t1"), col("y").as("y1"))
      .join(snap.select(col("g"), col("t").as("t2"), col("y").as("y2")),
        Seq("g"))
      .filter(col("t1") < col("t2"))
      .select(col("g"),
        ((col("y2") - col("y1")) / (col("t2") - col("t1"))).as("sl"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_pairs"),
        percentile(col("sl"), lit(0.5)).as("__slope"))
    snap.join(broadcast(slopes), Seq("g"), "left")
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        coalesce(max(col("n_pairs")), lit(0L)).as("n_pairs"),
        round(max(col("__slope")), 6).as("slope"),
        round(percentile(col("y") - col("__slope") * col("t"), lit(0.5)), 6)
          .as("intercept"))
      .withColumnRenamed("g", group)
      .orderBy(group)
  }

  /** Mann–Kendall trend test: S = Σ_{i<j} sign(y_j − y_i) with the
    * tie-corrected variance and the continuity-corrected z — the
    * nonparametric "is there ANY monotone trend" companion to
    * [[theilSen]]'s slope (the standard pairing). One row
    * (n, s, var_s, z): S and the variance numerator are INTEGER-exact
    * (no float pair math at all), z rounds to 6; |z| > 1.96 is the usual
    * 5% trend call. Pair join over the report-sized series.
    */
  def mannKendall(series: DataFrame, t: Column, y: Column): DataFrame = {
    val base = series.select(t.cast("double").as("t"), y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val snap = Snapshot.eager(base)
    val s = snap.select(col("t").as("t1"), col("y").as("y1"))
      .join(snap.select(col("t").as("t2"), col("y").as("y2")),
        col("t1") < col("t2"))
      .agg(coalesce(sum(signum(col("y2") - col("y1")).cast("bigint")), lit(0L))
        .as("s"))
    val ties = snap.groupBy("y").agg(count(lit(1)).as("tg"))
      .agg(coalesce(sum(col("tg") * (col("tg") - 1) * (lit(2) * col("tg") + 5)),
        lit(0L)).as("__tie_term"))
    val n = snap.agg(count(lit(1)).as("n"))
    val joined = s.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
    val nD = col("n").cast("double")
    val varS = (nD * (nD - 1) * (lit(2.0) * nD + 5) -
      col("__tie_term").cast("double")) / 18.0
    val z = when(col("s") > 0, (col("s").cast("double") - 1) / sqrt(varS))
      .when(col("s") < 0, (col("s").cast("double") + 1) / sqrt(varS))
      .otherwise(lit(0.0))
    joined.select(col("n"), col("s"),
      round(varS, 6).as("var_s"),
      when(varS > 0, round(z, 6)).as("z"))
  }

  /** OLS fit of y on t over the series with per-period regression
    * diagnostics — fitted value, residual, leverage h_ii = 1/n +
    * (t − t̄)²/S_tt, internally studentized residual, and Cook's distance
    * D_i = r_i²·h_ii / (p·(1 − h_ii)) with p = 2 — the "which day bent
    * the trend line" influence audit on top of the plain slope. Output
    * per period (t, y, fitted, resid, leverage, cooks_d), ordered by t;
    * null diagnostics when the fit is degenerate (n ≤ 2 or zero t
    * variance, or h_ii = 1).
    *
    * Exactness: slope/intercept from the five exact DECIMAL sums (the
    * regrByGroup contract); every diagnostic replays from those doubles
    * in mirrored order, rounded 6. All frames are ≤#periods report-sized
    * (the theilSen acceptance). */
  def olsInfluence(series: DataFrame, t: Column, y: Column): DataFrame = {
    val base = series.select(t.cast("double").as("t"), y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    def s(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val moments = base.agg(
      count(lit(1)).as("__n"),
      s(col("t")).as("__st"), s(col("y")).as("__sy"),
      s(col("t") * col("t")).as("__stt"), s(col("t") * col("y")).as("__sty"))
    val nD = col("__n").cast("double")
    val sttC = nD * col("__stt") - col("__st") * col("__st") // n·S_tt
    val slope = (nD * col("__sty") - col("__st") * col("__sy")) / nz(sttC)
    val intercept = (col("__sy") - slope * col("__st")) / nz(nD)
    val withFit = base.crossJoin(broadcast(moments))
      .withColumn("__slope", slope)
      .withColumn("__inter", intercept)
      .withColumn("__fit", col("__inter") + col("__slope") * col("t"))
      .withColumn("__e", col("y") - col("__fit"))
      // h_ii = 1/n + (t − t̄)²/S_tt; S_tt = (n·S_tt)/n
      .withColumn("__h",
        lit(1.0) / nz(nD) +
          (col("t") - col("__st") / nz(nD)) * (col("t") - col("__st") / nz(nD))
            / nz(sttC / nz(nD)))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val mse = sum(round(col("__e") * col("__e"), 8).cast("decimal(38,8)"))
      .over(all).cast("double") / nz(nD - 2)
    val okFit = col("__n") > 2 && sttC > 0
    withFit
      .withColumn("__mse", mse)
      .withColumn("fitted", when(okFit, round(col("__fit"), 6)))
      .withColumn("resid", when(okFit, round(col("__e"), 6)))
      .withColumn("leverage", when(okFit, round(col("__h"), 6)))
      .withColumn("cooks_d",
        when(okFit && col("__h") < 1 && col("__mse") > 0, round(
          (col("__e") * col("__e")
            / nz(col("__mse") * (lit(1.0) - col("__h"))))
            * col("__h") / nz(lit(2.0) * (lit(1.0) - col("__h"))), 6)))
      .select(col("t"), col("y"), col("fitted"), col("resid"),
        col("leverage"), col("cooks_d"))
      .orderBy("t")
  }

  /** Durbin–Watson statistic of the y-on-t OLS residuals:
    * DW = Σ(e_t − e_{t−1})² / Σe_t² — the standard "are the residuals
    * serially correlated" check (≈2 means none; → 0 positive; → 4
    * negative autocorrelation). A trend fit whose residuals autocorrelate
    * is under-modeling the series (seasonality, level shift) — run this
    * BEFORE trusting the q155/q215 slope's error bars. One row:
    * (n, slope, dw, rho1) with rho1 ≈ 1 − DW/2, rounded 6.
    *
    * Same exactness contract as [[olsInfluence]]: decimal moment sums,
    * mirrored double replay, lag window over the ≤#periods frame. */
  /** Per-GROUP simple OLS of y on t: one (n, slope, intercept, r2) row per
    * group — "which segment is trending, how fast, how well does a line
    * fit" in a single map-side-combined aggregation (the per-segment
    * completion of the global trend ops: [[theilSenByGroup]] is the robust
    * slope, this is the classical one with a goodness-of-fit).
    *
    * Determinism: all five moment sums are DECIMAL(38,8) (order
    * independent); slope/intercept/r2 round to 6. Degenerate groups emit
    * nulls (n < 2, zero t-variance; r2 additionally needs nonzero
    * y-variance). Scale shape: ONE keyed aggregate over the input —
    * no windows, no joins, no barriers; safe at any group count. */
  def olsByGroup(series: DataFrame, group: String, t: Column,
      y: Column): DataFrame = {
    val base = series.select(col(group).as("g"), t.cast("double").as("t"),
        y.cast("double").as("y"))
      .filter(col("g").isNotNull && col("t").isNotNull && col("y").isNotNull)
    def s(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val agg = base.groupBy("g").agg(
      count(lit(1)).as("n"),
      s(col("t")).as("__st"), s(col("y")).as("__sy"),
      s(col("t") * col("t")).as("__stt"),
      s(col("t") * col("y")).as("__sty"),
      s(col("y") * col("y")).as("__syy"))
    val nD = col("n").cast("double")
    val sttC = nD * col("__stt") - col("__st") * col("__st")
    val syyC = nD * col("__syy") - col("__sy") * col("__sy")
    val cov = nD * col("__sty") - col("__st") * col("__sy")
    val slope = cov / sttC
    val intercept = (col("__sy") - slope * col("__st")) / nD
    val okFit = col("n") >= 2 && sttC > 0
    agg.select(
        col("g").as(group), col("n"),
        when(okFit, round(slope, 6)).as("slope"),
        when(okFit, round(intercept, 6)).as("intercept"),
        when(okFit && syyC > 0,
          round(cov * cov / (sttC * syyC), 6)).as("r2"))
      .orderBy(group)
  }

  def durbinWatson(series: DataFrame, t: Column, y: Column): DataFrame = {
    val base = series.select(t.cast("double").as("t"), y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    def s(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val moments = base.agg(
      count(lit(1)).as("__n"),
      s(col("t")).as("__st"), s(col("y")).as("__sy"),
      s(col("t") * col("t")).as("__stt"), s(col("t") * col("y")).as("__sty"))
    val nD = col("__n").cast("double")
    val sttC = nD * col("__stt") - col("__st") * col("__st")
    val slope = (nD * col("__sty") - col("__st") * col("__sy")) / nz(sttC)
    val intercept = (col("__sy") - slope * col("__st")) / nz(nD)
    val resid = base.crossJoin(broadcast(moments))
      .withColumn("__slope", slope)
      .withColumn("__e", col("y") - (intercept + slope * col("t")))
    val w = Window.orderBy("t")
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    resid
      .withColumn("__de", col("__e") - lag(col("__e"), 1).over(w))
      .withColumn("__num",
        sum(round(col("__de") * col("__de"), 8).cast("decimal(38,8)"))
          .over(all).cast("double"))
      .withColumn("__den",
        sum(round(col("__e") * col("__e"), 8).cast("decimal(38,8)"))
          .over(all).cast("double"))
      .select(col("__n").as("n"),
        when(sttC > 0, round(col("__slope"), 6)).as("slope"),
        when(col("__den") > 0, round(col("__num") / col("__den"), 6))
          .as("dw"),
        when(col("__den") > 0,
          round(lit(1.0) - col("__num") / col("__den") / 2.0, 6))
          .as("rho1"))
      .limit(1)
  }

  /** Kendall tau-b rank correlation between two aligned series (x_t, y_t):
    * tau_b = (C − D) / √((n0 − n1)(n0 − n2)) with n0 = n(n−1)/2 and
    * n1/n2 the within-x / within-y tied-pair counts — the tie-corrected
    * "do the two metrics move together" companion to [[mannKendall]]
    * (which is Kendall of y against time). More robust than Pearson, no
    * distributional assumption, exact under ties.
    *
    * C − D, n0, n1, n2 are all INTEGER-exact (sign products summed as
    * bigint; tie counts from exact groupBys); only the final ratio is
    * float, rounded 6. The O(n²) pair join runs over the ≤#periods
    * caller-aggregated series (the theilSen acceptance). Callers should
    * round float-valued series before passing them so the pair signs are
    * engine-stable. Null tau when either variable is constant. One row:
    * (n, c_minus_d, tie_x_pairs, tie_y_pairs, tau_b). */
  def kendallTau(series: DataFrame, x: Column, y: Column): DataFrame = {
    val base = series.select(x.cast("double").as("x"), y.cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .withColumn("__i", monotonically_increasing_id())
    val snap = Snapshot.eager(base)
    val pairs = snap.select(col("__i").as("i1"), col("x").as("x1"), col("y").as("y1"))
      .join(snap.select(col("__i").as("i2"), col("x").as("x2"), col("y").as("y2")),
        col("i1") < col("i2"))
    val cd = pairs.agg(coalesce(sum(
      (signum(col("x2") - col("x1")) * signum(col("y2") - col("y1")))
        .cast("bigint")), lit(0L)).as("c_minus_d"))
    // tg·(tg−1) is even, summed as bigint; DIV keeps the /2 integer-exact
    def tiePairs(c: String, out: String): DataFrame =
      snap.groupBy(c).agg(count(lit(1)).as("tg"))
        .agg(coalesce(sum(col("tg") * (col("tg") - 1)), lit(0L)).as("__tp2"))
        .select(expr("__tp2 DIV 2").as(out))
    val n = snap.agg(count(lit(1)).as("n"))
    val joined = cd
      .crossJoin(broadcast(tiePairs("x", "tie_x_pairs")))
      .crossJoin(broadcast(tiePairs("y", "tie_y_pairs")))
      .crossJoin(broadcast(n))
    val n0 = (col("n") * (col("n") - 1) / 2).cast("double")
    val denom = sqrt((n0 - col("tie_x_pairs").cast("double")) *
      (n0 - col("tie_y_pairs").cast("double")))
    joined.select(col("n"), col("c_minus_d"),
      col("tie_x_pairs"), col("tie_y_pairs"),
      when(denom > 0, round(col("c_minus_d").cast("double") / nz(denom), 6))
        .as("tau_b"))
  }

  /** Period-over-period change table: per period the metric, the prior
    * period's value and the percent change — the WoW/MoM dashboard row.
    * `series` is one row per period (caller-aggregated); lag + division
    * run over that report frame. pct_change is null for the first period
    * and when the prior value is 0 (a 0→x jump has no finite percent).
    */
  def pctChange(series: DataFrame, t: Column, y: Column): DataFrame = {
    val base = series.select(t.as("t"), y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val w = Window.orderBy("t")
    base
      .withColumn("prev", lag(col("y"), 1).over(w))
      .withColumn("pct_change",
        when(col("prev").isNotNull && col("prev") =!= 0.0,
          round((col("y") - col("prev")) / col("prev"), 6)))
      .orderBy("t")
  }

  /** CUSUM changepoint locator: the period where the cumulative sum of
    * deviations from the series mean peaks in magnitude — the classic
    * "when did the level shift?" statistic (a flat series wanders near 0;
    * a mean shift at t* makes |CUSUM| peak exactly there). Returns ONE row
    * (n, mean, t_at_max, max_cusum, direction) with direction +1/-1 for
    * an upward/downward level shift after t*.
    *
    * Exactness: y is scaled to micro-units (·10⁶, exact for ≤6-decimal
    * values) and held as SCALE-0 decimals, so with S = Σy6 and P_i the
    * prefix sum, the numerator n·P_i − i·S of CUSUM_i·n is pure integer
    * arithmetic — the argmax comparison and its earliest-t tie-break are
    * exact on both engines (no float argmax ties, no decimal-rescale
    * divergence); the /n/10⁶ division happens once on the winning row. */
  /** Broken-trend readout: split the series at the max-|CUSUM| point (the
    * [[cusumChangepoint]] statistic) and fit an OLS line to each side —
    * "the trend didn't just shift level, its SLOPE changed at the break,
    * from a to b" — the one-row narrative a level-only changepoint can't
    * give. Composes the two existing primitives: the split is the exact
    * q194 argmax (ties break on earliest t), segments are before = t ≤
    * t*, after = t > t*; fits come from [[olsByGroup]] over the tagged
    * series; slope_delta subtracts the ROUNDED slopes (engine-stable).
    *
    * `t` must be NUMERIC (epoch days, not DATE — it feeds both the CUSUM
    * prefix order and the regression axis). Degenerate sides (< 2 points
    * or zero t-variance) emit null slopes, like olsByGroup. Scale shape:
    * all windows run over the ≤#periods caller-aggregated series; the
    * split is a 1-row broadcast. Output one row: (t_split, n_before,
    * n_after, slope_before, slope_after, slope_delta, r2_before,
    * r2_after). */
  def brokenTrend(series: DataFrame, t: Column, y: Column): DataFrame = {
    val base = series.select(t.as("t"), y.cast("double").as("y"))
      .filter(col("t").isNotNull && col("y").isNotNull)
    val split = cusumChangepoint(series, t, y)
      .select(col("t_at_max").as("__tsplit"))
    val tagged = base.crossJoin(broadcast(split))
      .withColumn("g",
        when(col("t") <= col("__tsplit"), "before").otherwise("after"))
    val fit = olsByGroup(tagged.select(col("g"), col("t"), col("y")),
      "g", col("t").cast("double"), col("y"))
    def pick(c: String, side: String): Column =
      max(when(col("g") === side, col(c)))
    fit.agg(
        coalesce(pick("n", "before"), lit(0L)).as("n_before"),
        coalesce(pick("n", "after"), lit(0L)).as("n_after"),
        pick("slope", "before").as("slope_before"),
        pick("slope", "after").as("slope_after"),
        pick("r2", "before").as("r2_before"),
        pick("r2", "after").as("r2_after"))
      .crossJoin(broadcast(split))
      .select(col("__tsplit").as("t_split"),
        col("n_before"), col("n_after"),
        col("slope_before"), col("slope_after"),
        round(col("slope_after") - col("slope_before"), 6).as("slope_delta"),
        col("r2_before"), col("r2_after"))
  }

  def cusumChangepoint(series: DataFrame, t: Column, y: Column): DataFrame = {
    val base = series
      .select(t.as("t"), (y.cast("double") * 1e6).cast("decimal(38,0)").as("y6"))
      .filter(col("t").isNotNull && col("y6").isNotNull)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = base
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__s", sum(col("y6")).over(all))
      .withColumn("__p", sum(col("y6")).over(wCum))
      .withColumn("__i", row_number().over(Window.orderBy("t")))
      .withColumn("__numer",
        col("__n").cast("decimal(38,0)") * col("__p") -
          col("__i").cast("decimal(38,0)") * col("__s"))
    scored
      .orderBy(abs(col("__numer")).desc, col("t"))
      .limit(1)
      .select(
        col("__n").as("n"),
        round(col("__s").cast("double") /
          col("__n").cast("double") / 1e6, 6).as("mean"),
        col("t").as("t_at_max"),
        round(abs(col("__numer")).cast("double") /
          col("__n").cast("double") / 1e6, 6).as("max_cusum"),
        (signum(col("__numer").cast("double")) * -1.0).cast("int").as("direction"))
  }
}
