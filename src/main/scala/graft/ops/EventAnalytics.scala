package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics: resample + forward-fill, funnel conversion,
  * cohort retention. All three reduce to ONE shuffle on the entity key —
  * the grids, windows and step aggregates run inside that partitioning.
  */
object EventAnalytics {

  /** Exact floor-division of epoch-microseconds by a positive bucket width,
    * built from column APIs (no SQL-string splicing — a column name needing
    * backticks can't inject or break the expression). `pmod` makes the
    * alignment floor-correct for negative (pre-1970) epochs where SQL `DIV`
    * truncates toward zero; the aligned value is an exact multiple of `us`,
    * and the division runs in DECIMAL so epoch-µs magnitudes never pass
    * through a lossy double.
    */
  private def floorDivMicros(tsCol: Column, us: Long): Column = {
    val m = unix_micros(tsCol)
    ((m - pmod(m, lit(us))).cast("decimal(28,0)") / lit(us)).cast("long")
  }

  /** pandas `resample('<bucket>').max().ffill()` distributed: per key,
    * bucket the timeline into `bucketSec` cells, aggregate each cell
    * (max), materialize the dense cell grid between the key's first and
    * last cell, and forward-fill empty cells from the last populated one.
    *
    * Buckets are epoch-second longs (cell start), not timestamps — exact
    * integer math end-to-end. The grid explode is per key; a key spanning
    * T seconds yields T/bucketSec rows, so pick the bucket to match the
    * retention horizon (the usual resample contract). `maxCellsPerKey`
    * bounds that grid: a single key whose span/bucket ratio exceeds it
    * (e.g. a years-long span at a 1-second bucket ≈ 3×10⁷ rows) fails
    * fast with a diagnosable error instead of silently exploding an
    * executor. One shuffle: cell agg, grid, join-back and ffill window
    * all partition by the key.
    */
  def resampleFfill(df: DataFrame, key: String, ts: String, value: String,
      bucketSec: Long, maxCellsPerKey: Long = 10000000L): DataFrame = {
    require(bucketSec > 0, s"bucketSec must be positive, got $bucketSec")
    val cells = df
      .withColumn("bucket", floorDivMicros(col(ts), bucketSec * 1000000L) * bucketSec)
      .groupBy(col(key), col("bucket"))
      .agg(max(col(value)).as("v"))
    val gridCells = (col("mx") - col("mn")) / bucketSec + 1
    val grid = cells.groupBy(col(key))
      .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
      // plan-embedded guard, no extra action: the offending key and its
      // cell count surface in the error message
      .withColumn("mn",
        when(gridCells > maxCellsPerKey, raise_error(concat(
          lit(s"resampleFfill: key "), col(key).cast("string"),
          lit(" spans "), gridCells.cast("long").cast("string"),
          lit(s" cells at bucketSec=$bucketSec, over maxCellsPerKey=$maxCellsPerKey; " +
            "widen the bucket or raise the cap"))))
          .otherwise(col("mn")))
      .select(col(key),
        explode(sequence(col("mn"), col("mx"), lit(bucketSec))).as("bucket"))
    val w = Window.partitionBy(key).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(cells, Seq(key, "bucket"), "left")
      .withColumn("v_ffill", last(col("v"), ignoreNulls = true).over(w))
  }

  /** Ordered-step funnel: for each entity, step i counts only if it occurs
    * strictly after step i-1 (min-qualifying-timestamp chaining). Returns
    * one row per step with entities reaching it and conversion from the
    * previous step.
    *
    * All step timestamps are window minimums over the SAME key partition —
    * one shuffle however many steps; the final report aggregates the
    * per-key step flags (map-side combined).
    */
  def funnel(df0: DataFrame, key: String, ts: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    // entity/time null contract: a row with a NULL key or NULL timestamp
    // belongs to no trackable entity journey — excluded, so the base count
    // (and thus every conversion denominator) covers real entities only
    val df = df0.filter(col(key).isNotNull && col(ts).isNotNull)
    val w = Window.partitionBy(key)
    val stepTs = steps.zipWithIndex.foldLeft(df) { case (acc, (step, i)) =>
      val cond =
        if (i == 0) col(typeCol) === step
        else col(typeCol) === step && col(ts) > col(s"__t${i - 1}")
      acc.withColumn(s"__t$i", min(when(cond, col(ts))).over(w))
    }
    val flags = steps.indices.map(i =>
      max(col(s"__t$i").isNotNull.cast("int")).as(s"__r$i"))
    val perKey = stepTs.groupBy(col(key)).agg(flags.head, flags.tail: _*)
    val counts = perKey.agg(
      count(lit(1)).as("n_keys"),
      steps.indices.map(i => sum(col(s"__r$i")).as(s"__n$i")): _*)
    val rows = steps.zipWithIndex.map { case (step, i) =>
      struct(lit(i + 1).as("step"), lit(step).as("event_type"),
        col(s"__n$i").as("n_entities"),
        round(col(s"__n$i").cast("double") /
          (if (i == 0) col("n_keys") else col(s"__n${i - 1}")), 6)
          .as("conversion"))
    }
    counts.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Rolling event-time RANGE aggregation: for every event, the count and
    * value-sum of the key's events in the trailing `windowSec` seconds
    * (inclusive of the current instant) — "7-day rolling activity" per
    * entity, the standard trailing-engagement feature.
    *
    * A RANGE frame over `unix_micros(ts)`, not a ROWS frame: simultaneous
    * events (ts ties) are frame PEERS, so every engine computing the same
    * frame sees the same row set regardless of tie order. One shuffle on
    * the key; the sum runs in DECIMAL so the total is order-independent.
    */
  def rollingRange(df0: DataFrame, key: String, ts: String, value: String,
      windowSec: Long): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive, got $windowSec")
    // entity/time null contract: a NULL key or NULL ts has no trailing
    // window (all NULL order keys would otherwise form one degenerate
    // RANGE peer group whose frame semantics differ across engines)
    val df = df0.filter(col(key).isNotNull && col(ts).isNotNull)
    val w = Window.partitionBy(key).orderBy(unix_micros(col(ts)))
      .rangeBetween(-windowSec * 1000000L, 0L)
    df.withColumn("n_window", count(lit(1)).over(w))
      .withColumn("sum_window",
        round(sum(col(value).cast("decimal(28,10)")).over(w).cast("double"), 6))
  }

  /** Rolling z-score anomaly detection: each event's value against the
    * mean/std of the SAME entity's `lookback` strictly-preceding events
    * ((ts, tieCol)-ordered, so timestamp ties replay identically). Returns
    * only the anomalous rows — |v − mean| > sigma·std with ≥ `minPrior`
    * prior points and positive variance — with the z-score rounded to 6.
    *
    * Cross-engine float contract: the trailing sums run over DECIMAL casts
    * (order-independent), and mean/variance/z are derived from those exact
    * sums with a mirrored operation order, so an external engine replaying
    * the same frame produces bit-identical doubles. Variance uses the
    * (Σx² − (Σx)²/n)/(n−1) form on the exact sums — not a streaming
    * estimator — because the frame is at most `lookback` rows.
    *
    * One key shuffle (the window); the filter is a projection. At 100 TB
    * this is the per-entity metric-anomaly sweep a monitoring pipeline
    * runs per release.
    */
  def rollingAnomalies(df: DataFrame, key: String, ts: String,
      valueCol: String, tieCol: String, lookback: Int = 10,
      minPrior: Int = 5, sigma: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieCol))
      .rowsBetween(-lookback.toLong, -1L)
    val v = col(valueCol).cast("double")
    val n = count(v).over(w)
    val s = sum(v.cast("decimal(28,8)")).over(w).cast("double")
    val s2 = sum((v * v).cast("decimal(38,8)")).over(w).cast("double")
    val mean = s / n
    val variance = (s2 - s * s / n) / (n - 1)
    df
      .withColumn("__n", n).withColumn("__mean", mean)
      .withColumn("__var", variance)
      .filter(col("__n") >= minPrior && col("__var") > 0 &&
        abs(v - col("__mean")) > sqrt(col("__var")) * sigma)
      .withColumn("z", round((v - col("__mean")) / sqrt(col("__var")), 6))
      .drop("__n", "__mean", "__var")
  }

  /** Last-touch attribution: each conversion (`convType` event) is credited
    * to the entity's most recent STRICTLY PRECEDING non-conversion event
    * type ("channel"); conversions with no prior touch credit `"(none)"`.
    * Returns per-channel conversions and DECIMAL-summed converted value.
    *
    * The carry is `last(channel, ignoreNulls)` over rows up to BUT NOT
    * including the current row, ordered by (ts, tieCol) — the tie column
    * (a unique event id) makes "most recent" well-defined when timestamps
    * collide, so replays and other engines attribute identically. One key
    * shuffle; the per-channel rollup map-side combines.
    */
  def lastTouchAttribution(df: DataFrame, key: String, ts: String,
      typeCol: String, valueCol: String, tieCol: String,
      convType: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df
      .withColumn("__touch",
        last(when(col(typeCol) =!= convType, col(typeCol)), ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .groupBy(coalesce(col("__touch"), lit("(none)")).as("channel"))
      .agg(
        count(lit(1)).as("n_conversions"),
        round(sum(col(valueCol).cast("decimal(28,10)")).cast("double"), 6)
          .as("attributed_value"))
  }

  /** Cohort retention: cohort = the entity's first-activity week, offset =
    * activity week - cohort week; counts distinct entities per cell.
    * Weeks are epoch-week longs (epoch seconds / 604800) — integer math,
    * no calendar functions to disagree across engines.
    */
  def cohortRetention(df0: DataFrame, key: String, ts: String): DataFrame = {
    val week = floorDivMicros(col(ts), 604800L * 1000000L)
    val w = Window.partitionBy(key)
    // entity/time null contract: NULL entities/timestamps form no cohort
    val df = df0.filter(col(key).isNotNull && col(ts).isNotNull)
    df.withColumn("week", week)
      .withColumn("cohort_week", min(col("week")).over(w))
      // (key, week) dedup rides the cohort groupBy's distinct aggregate —
      // no extra stage: countDistinct partially aggregates map-side
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("offset_weeks"))
      .agg(countDistinct(col(key)).as("n_entities"))
  }

  /** Exponentially-weighted moving average over each entity's last
    * `lookback`+1 events ((ts, tieCol)-ordered): the bounded-memory
    * smoother a metrics pipeline publishes per series. ewma_t =
    * α·x_t + (1−α)·ewma_{t−1}, seeded with the oldest value in the frame.
    *
    * Implementation is a windowed `collect_list` (frame order = ascending
    * (ts, tie), so oldest first) folded left with `aggregate` — NOT a
    * running carry, which window aggregates can't express, and NOT
    * pow(1−α, n)-weighted sums, which overflow/underflow for long series.
    * The fold's double-op order is explicit, so an external engine
    * replaying the same left fold (DuckDB list_reduce) is bit-identical.
    * One key shuffle; the frame is ≤ lookback+1 values per row.
    */
  def ewma(df: DataFrame, key: String, ts: String, valueCol: String,
      tieCol: String, alpha: Double = 0.3, lookback: Int = 9): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieCol))
      .rowsBetween(-lookback.toLong, 0L)
    val vals = collect_list(col(valueCol).cast("double")).over(w)
    val folded = aggregate(
      slice(vals, 2, lookback), // tail: frame holds ≤ lookback+1 values
      element_at(vals, 1),
      (acc, x) => x * alpha + acc * (1.0 - alpha))
    df.withColumn("ewma", round(folded, 6))
  }

  /** First-order Markov transition matrix of the entity event sequences:
    * for every (prev_type, next_type) adjacent pair ((ts, tieCol)-ordered
    * within entity), the count and the row-conditional probability
    * P(next | prev), rounded 6. The lag runs inside the entity key
    * shuffle; pair counting map-side combines; the conditional divides by
    * a prev-keyed window over the ≤|types|² report table. The LLM-pipeline
    * use: session-shape fingerprinting ("what follows what") for bot and
    * template detection at corpus scale.
    */
  /** Entity growth curve: per day — distinct active entities (DAU), NEW
    * entities (first ever seen that day), and the cumulative entity count.
    * The user-growth dashboard in one plan. `day` is epoch-seconds div
    * 86400 (the q33/q140 integer-time convention).
    *
    * Scale shape: two keyed aggregations over data (per-day distinct via
    * (day, key) collapse; first-seen via a key groupBy) joined on day; the
    * cumulative prefix sum is a global ordered window over the ≤#days
    * report table — never over data rows.
    */
  def growthCurve(df0: DataFrame, key: String, ts: String): DataFrame = {
    val day = floor(col(ts).cast("long") / lit(86400)).cast("long")
    // entity/time null contract: a NULL entity is not a user and a NULL ts
    // is not a day — counting either would inject a phantom first-seen
    // "user" into the cumulative curve
    val df = df0.filter(col(key).isNotNull && col(ts).isNotNull)
    val dau = df.select(day.as("day"), col(key).as("k"))
      .groupBy("day", "k").agg(count(lit(1)).as("__n"))
      .groupBy("day").agg(count(lit(1)).as("dau"))
    val newPerDay = df.select(day.as("day"), col(key).as("k"))
      .groupBy("k").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val all = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(newPerDay, Seq("day"), "left")
      .na.fill(Map("new_users" -> 0L))
      .withColumn("cum_users", sum(col("new_users")).over(all))
      .orderBy("day")
  }

  /** Per-subject lifetime table for survival analysis: one row per `key`
    * with (key, duration_days, observed) where duration_days is the whole
    * days between the subject's first and last event (exact µs integer
    * division) and observed=true marks a CHURN — the last event falls more
    * than `horizonDays` before the stream's global maximum timestamp, so
    * the lifetime truly ended; later lifetimes are right-censored (still
    * active at the observation edge).
    *
    * Scale shape: one map-side-combined groupBy over events; the global
    * max is a 1-row broadcast joined back — no second data pass, no
    * windows over data rows. Feeds [[Stats.kaplanMeier]].
    */
  def userLifetimes(df: DataFrame, key: String, ts: String,
      horizonDays: Int = 7): DataFrame = {
    val us = unix_micros(col(ts))
    val per = df.filter(col(ts).isNotNull)
      .groupBy(key)
      .agg(min(us).as("__first_us"), max(us).as("__last_us"))
    val gmax = per.agg(max(col("__last_us")).as("__gmax_us"))
    per.crossJoin(broadcast(gmax))
      .select(col(key),
        expr("(__last_us - __first_us) DIV 86400000000").as("duration_days"),
        (col("__last_us") <
          col("__gmax_us") - lit(horizonDays * 86400000000L)).as("observed"))
  }

  /** RFM segmentation: per subject the classic recency / frequency /
    * monetary triple plus 1–5 quintile scores (5 = best: most recent,
    * most frequent, highest spend) and the concatenated segment label.
    * `monetaryWhen` picks which rows carry spend (e.g. purchase events).
    *
    * Determinism: quintiles are NTILE(5) over a TOTAL order (metric +
    * subject id tie-break) — replicated exactly WITHOUT a global-sort
    * window: subjects scale with data, so `ntile(5).over(Window.orderBy
    * (…))` (three successive single-partition sorts of every subject row)
    * is the canonical scale killer. Instead each metric's exact rank comes
    * from [[RangeScan.rank]] (range partitions, per-partition running
    * counts, broadcast offsets), and the bucket is the closed-form standard
    * ntile of (rank, n): the first n mod 5 buckets take ceil(n/5) rows,
    * the rest floor(n/5) — bit-identical to NTILE(5) in both engines.
    * Recency's DESC order rides the same ascending scan on the negated
    * value. A null subject key breaks ties last (NULLS LAST, the oracle's
    * default order), in the rank and in the output. Scale shape: one
    * map-side-combined groupBy collapses events to the per-subject table;
    * one range-repartition of that table stacked ×3, one row per metric
    * (a distributed sort + ≤#partitions driver offset barrier); one keyed
    * groupBy puts each subject's three scores back on one row; the
    * stream-edge max is a 1-row broadcast.
    */
  def rfm(df: DataFrame, key: String, ts: String, value: Column,
      monetaryWhen: Column): DataFrame = {
    val us = unix_micros(col(ts))
    val per = df.filter(col(ts).isNotNull)
      .groupBy(key)
      .agg(
        max(us).as("__last_us"),
        count(lit(1)).as("frequency"),
        coalesce(sum(when(monetaryWhen, value.cast("decimal(28,6)"))),
          lit(0).cast("decimal(28,6)")).cast("double").as("monetary"))
    val gmax = per.agg(max(col("__last_us")).as("__gmax_us"))
    val base = per.crossJoin(broadcast(gmax))
      .withColumn("recency_days",
        expr("(__gmax_us - __last_us) DIV 86400000000"))
    // one scan ranks all three metrics: each subject is one row per metric
    // __m, and the order (__m, metric __m's value, key nulls last) puts
    // metric m's rows at ranks m·n+1 .. m·n+n (the other metrics' fields
    // are null)
    val metrics = Seq(-col("recency_days"), col("frequency"), col("monetary"))
    val scan = RangeScan.rank(
      base.withColumn("__m", explode(array(lit(0), lit(1), lit(2)))),
      struct(col("__m") +: metrics.zipWithIndex.map { case (v, m) =>
        when(col("__m") === m, v) } :+ col(key).isNull :+ col(key): _*))
    // the closed-form ntile below needs n as a plan literal
    val n = scan.total("__one") / 3
    def ntileOf(rk: String): Column = {
      val q = n / 5; val rem = n % 5
      if (rem == 0L) expr(s"CAST($rk DIV ${math.max(q, 1L)} + 1 AS INT)")
      else expr(s"CAST(CASE WHEN $rk < ${rem * (q + 1)} " +
        s"THEN $rk DIV ${q + 1} + 1 " +
        s"ELSE $rem + ($rk - ${rem * (q + 1)}) DIV ${math.max(q, 1L)} + 1 " +
        s"END AS INT)")
    }
    val scores = Seq("r", "f", "m").zipWithIndex.map { case (s, m) =>
      max(when(col("__m") === m, col("__b"))).as(s) }
    scan.df
      .withColumn("__rk", col("__rank") - 1 - col("__m") * n)
      .withColumn("__b", ntileOf("__rk"))
      .groupBy(col(key), col("recency_days"), col("frequency"), col("monetary"))
      .agg(scores.head, scores.tail: _*)
      .withColumn("rfm", concat(col("r"), col("f"), col("m")))
      .select(col(key), col("recency_days"), col("frequency"),
        col("monetary"), col("r"), col("f"), col("m"), col("rfm"))
      .orderBy(col(key).asc_nulls_last)
  }

  /** Funnel conversion latency: subjects whose first `fromStep` is later
    * followed by a `toStep`, with exact interpolated p50/p90 of the
    * conversion delay in seconds — the "how long from view to purchase"
    * number beside q139's conversion COUNTS. One row
    * (n_converted, p50_s, p90_s).
    *
    * Two subject-keyed aggregations (first-from, then first-to-after,
    * shuffle-aligned so AQE chains them) + a percentile over the
    * converted-subject report frame. */
  def funnelLatency(df: DataFrame, key: String, ts: String,
      typeCol: String, fromStep: String, toStep: String): DataFrame = {
    val us = unix_micros(col(ts))
    val firstFrom = df.filter(col(typeCol) === fromStep && col(ts).isNotNull)
      .groupBy(key).agg(min(us).as("__from_us"))
    val firstToAfter = df.filter(col(typeCol) === toStep && col(ts).isNotNull)
      .select(col(key), us.as("__to_us"))
      .join(firstFrom, Seq(key))
      .filter(col("__to_us") > col("__from_us"))
      .groupBy(key).agg(min(col("__to_us")).as("__to_us"),
        min(col("__from_us")).as("__from_us"))
    firstToAfter
      .select(((col("__to_us") - col("__from_us")).cast("double") / 1e6)
        .as("__delta_s"))
      .agg(
        count(lit(1)).as("n_converted"),
        round(element_at(percentile(col("__delta_s"),
          array(lit(0.5), lit(0.9))), 1), 6).as("p50_s"),
        round(element_at(percentile(col("__delta_s"),
          array(lit(0.5), lit(0.9))), 2), 6).as("p90_s"))
  }

  /** Inter-arrival statistics per event type: within each (type, subject)
    * stream, the gaps between consecutive events — count, mean, coefficient
    * of variation (CV ≈ 1 ⇒ Poisson-like memoryless arrivals, ≪1 ⇒
    * scheduled/heartbeat, ≫1 ⇒ bursty), and the exact interpolated median
    * gap. The point-process fingerprint bot detection and capacity models
    * read per event class.
    *
    * Exactness: gaps are exact µs-integer differences scaled to seconds
    * (6 decimals); their sums and squared sums are lossless
    * DECIMAL(38,12) (no rounding-mode hazard); mean/CV replay the
    * identical double formula, round 6. Scale: the lag runs inside the
    * (type, subject) key shuffle; aggregation map-side combines.
    */
  def interArrival(df: DataFrame, key: String, ts: String,
      typeCol: String, tieCol: String): DataFrame = {
    val us = unix_micros(col(ts))
    val w = Window.partitionBy(col(typeCol), col(key))
      .orderBy(col(ts), col(tieCol))
    val deltas = df.filter(col(ts).isNotNull)
      .withColumn("__prev", lag(us, 1).over(w))
      .filter(col("__prev").isNotNull)
      .withColumn("__d", (us - col("__prev")).cast("double") / 1e6)
    val agg = deltas.groupBy(typeCol)
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("__d").cast("decimal(38,12)")).cast("double").as("__s"),
        sum((col("__d") * col("__d")).cast("decimal(38,12)"))
          .cast("double").as("__s2"),
        percentile(col("__d"), lit(0.5)).as("__p50"))
    val n = col("n_gaps").cast("double")
    val mean = col("__s") / n
    val variance = (col("__s2") - col("__s") * col("__s") / n) / (n - 1)
    agg.select(col(typeCol), col("n_gaps"),
        round(mean, 6).as("mean_s"),
        when(col("n_gaps") >= 2 && mean > 0 && variance > 0,
          round(sqrt(variance) / mean, 6)).as("cv"),
        round(col("__p50"), 6).as("p50_s"))
      .orderBy(typeCol)
  }

  /** Entropy rate of the first-order Markov chain over event types:
    * H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ with π the empirical prev-state shares —
    * ONE number for "how predictable are sessions" (0 = deterministic
    * flows, ln k = uniform chaos); the scalar roll-up of
    * [[markovTransitions]]' matrix for dashboards and bot thresholds.
    * Returns (n_transitions, n_states, entropy_rate, max_entropy) —
    * n_states counts distinct PREDECESSOR states (the support of π) and
    * max_entropy = ln(n_states) is the uniform-chain ceiling for
    * normalization.
    *
    * Exactness: per-cell terms −π·p·ln p round to 8 and DECIMAL-sum over
    * the ≤|types|² cell table; one data pass (the lag inside the subject
    * shuffle), everything after is report-sized. */
  def markovEntropyRate(df: DataFrame, key: String, ts: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieCol))
    val pairs = df
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull && col(typeCol).isNotNull)
      .groupBy(col("__prev").as("a"), col(typeCol).as("b"))
      .agg(count(lit(1)).as("n"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byPrev = Window.partitionBy("a")
    val nTot = sum(col("n")).over(all)
    val pi = sum(col("n")).over(byPrev).cast("double") / nTot.cast("double")
    val p = col("n").cast("double") / sum(col("n")).over(byPrev).cast("double")
    val term = round(-pi * p * log(p), 8)
    pairs
      .withColumn("__t", term.cast("decimal(28,8)"))
      .withColumn("__n", nTot)
      .withColumn("__k", size(collect_set(col("a")).over(all)))
      .groupBy()
      .agg(
        max(col("__n")).as("n_transitions"),
        max(col("__k")).cast("bigint").as("n_states"),
        round(sum(col("__t")).cast("double"), 6).as("entropy_rate"),
        round(log(max(col("__k")).cast("double")), 6).as("max_entropy"))
  }

  /** Directly-follows PERFORMANCE graph (process mining): for each
    * (prev → next) event-type transition, how many times it happens and
    * how long it takes — count, mean gap and exact interpolated median
    * gap in seconds. The timing annotation on [[markovTransitions]]' edge
    * structure: where Markov says "what follows what", this says "and how
    * slowly" (the bottleneck-edge view).
    *
    * One data pass (the lag inside the subject shuffle), then a map-side-
    * combined groupBy on the ≤|types|² transition key; exact µs-integer
    * gaps, DECIMAL sums, round 6. */
  def transitionLatency(df: DataFrame, key: String, ts: String,
      typeCol: String, tieCol: String): DataFrame = {
    val us = unix_micros(col(ts))
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieCol))
    val gaps = df.filter(col(ts).isNotNull && col(typeCol).isNotNull)
      .withColumn("__prev_t", lag(col(typeCol), 1).over(w))
      .withColumn("__prev_us", lag(us, 1).over(w))
      .filter(col("__prev_t").isNotNull)
      .withColumn("__d", (us - col("__prev_us")).cast("double") / 1e6)
    gaps.groupBy(col("__prev_t").as("prev_type"),
        col(typeCol).as("next_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("__d").cast("decimal(38,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_s"),
        round(percentile(col("__d"), lit(0.5)), 6).as("p50_s"))
      .orderBy("prev_type", "next_type")
  }

  /** Process-variant analysis: the top-k complete event-type SEQUENCES
    * (per subject, (ts, tie)-ordered, joined with '>') by subject count —
    * "which session shapes dominate" (the process-mining variant table;
    * a new dominant variant after a release is a behavioral regression).
    * Output: (variant, n_subjects, n_steps) ordered by (count desc,
    * variant) — total-ordered so the k-cutoff is engine-stable.
    *
    * One groupBy collapses events to a per-subject sorted struct array
    * (bounded by per-subject activity), one more counts variants;
    * top-k is a TakeOrdered heap, never a global sort. */
  def processVariants(df: DataFrame, key: String, ts: String,
      typeCol: String, tieCol: String, k: Int = 10): DataFrame = {
    val seqs = df.filter(col(ts).isNotNull && col(typeCol).isNotNull)
      .groupBy(key)
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(ts).as("t"),
            col(tieCol).as("tie"), col(typeCol).as("e")))),
          x => x.getField("e")), ">").as("variant"))
    seqs.groupBy("variant")
      .agg(count(lit(1)).as("n_subjects"))
      .withColumn("n_steps",
        (size(split(col("variant"), ">", -1))).cast("bigint"))
      .orderBy(col("n_subjects").desc, col("variant"))
      .limit(k)
  }

  /** Day-over-day top-k leaderboard churn: per period the top-k subjects
    * by activity (count-desc, subject-asc tie-break — total order, so
    * engines agree), then the Jaccard overlap of CONSECUTIVE periods'
    * leaderboards — the "is the dashboard's top-10 stable or thrashing"
    * volatility readout behind ranking-based alerting.
    *
    * One combined (period, subject) count shuffle; the rank window
    * partitions BY PERIOD (distributed); the overlap join matches only
    * leaderboard rows (≤k per period) on (subject, next period). Output
    * per consecutive pair: (day_a, day_b, size_a, size_b, n_shared,
    * jaccard round-6), ordered by day_a. */
  def topKChurn(df: DataFrame, ts: Column, subject: Column,
      k: Int = 10): DataFrame = {
    require(k >= 1, "topKChurn needs k >= 1")
    val daily = df.filter(ts.isNotNull && subject.isNotNull)
      .groupBy(floorDivMicros(ts, 86400000000L).as("day"),
        subject.as("s"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("day").orderBy(col("cnt").desc, col("s"))
    val board = daily.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select("day", "s")
    val sizes = board.groupBy("day").agg(count(lit(1)).as("size"))
    val shared = board.select(col("day").as("day_a"), col("s"))
      .join(board.select((col("day") - 1).as("day_a"), col("s"),
        col("day").as("day_b")), Seq("day_a", "s"))
      .groupBy("day_a", "day_b").agg(count(lit(1)).as("n_shared"))
    val pairs = broadcast(sizes.select(col("day").as("day_a"),
        col("size").as("size_a")))
      .join(broadcast(sizes.select((col("day") - 1).as("day_a"),
        col("size").as("size_b"), col("day").as("day_b"))), Seq("day_a"))
    pairs.join(shared, Seq("day_a", "day_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("size_a") + col("size_b") - col("n_shared")).cast("double"), 6))
      .select("day_a", "day_b", "size_a", "size_b", "n_shared", "jaccard")
      .orderBy("day_a")
  }

  /** Audience overlap matrix: for every unordered pair of categories, the
    * EXACT count of subjects active in both, with Jaccard — the "how much
    * do these segments overlap" card behind dedup'd reach numbers (two
    * segments of 1M users each may be 900k shared). Zero-overlap pairs
    * appear with 0 (grid densified from the per-category frame).
    *
    * Scale shape: ONE distinct pass to (subject, category), then a keyed
    * self-join ON SUBJECT — each subject fans out to its own C(k,2) pairs
    * (k = categories the subject touches, ≤ #categories), never a
    * cross-product over subjects. The densify grid and ratio math run on
    * the ≤#categories² report frame. Counts integer-exact; Jaccard
    * rounds 6. Output: (cat_a, cat_b, n_a, n_b, n_both, jaccard). */
  def audienceOverlap(df: DataFrame, subject: Column,
      category: Column): DataFrame = {
    val pairs = df.filter(subject.isNotNull && category.isNotNull)
      .select(subject.as("k"), category.as("c")).distinct()
    val perCat = pairs.groupBy("c").agg(count(lit(1)).as("n"))
    val inter = pairs.select(col("k"), col("c").as("cat_a"))
      .join(pairs.select(col("k"), col("c").as("cat_b")), Seq("k"))
      .filter(col("cat_a") < col("cat_b"))
      .groupBy("cat_a", "cat_b").agg(count(lit(1)).as("n_both"))
    val grid = broadcast(perCat.select(col("c").as("cat_a"), col("n").as("n_a")))
      .join(broadcast(perCat.select(col("c").as("cat_b"), col("n").as("n_b"))),
        col("cat_a") < col("cat_b"))
    grid.join(inter, Seq("cat_a", "cat_b"), "left")
      .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
      .withColumn("jaccard", round(col("n_both").cast("double") /
        (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6))
      .select("cat_a", "cat_b", "n_a", "n_b", "n_both", "jaccard")
      .orderBy("cat_a", "cat_b")
  }

  /** Multi-window SLO burn rate (the SRE-handbook alert shape): per short
    * window the error rate over `budget` (burn = rate/budget; burn 1.0
    * consumes the error budget exactly at the sustainable pace), paired
    * with the enclosing long tumbling window's burn, and an alert only
    * when BOTH exceed `threshold` — the short window gives fast detection,
    * the long window suppresses one-bucket blips.
    *
    * ONE map-side-combined aggregation over events to the per-short-hour
    * frame; the long-window rollup and the join back run over report-sized
    * (≤#hours) tables, long side broadcast. Rates are bigint/bigint
    * divisions replayed identically cross-engine, round 6. Output per
    * short bucket: (hour, total, errors, burn_short, burn_long, alert),
    * ordered by hour. */
  def sloBurnRate(df: DataFrame, ts: Column, isError: Column,
      budget: Double, longBuckets: Int = 6,
      threshold: Double = 1.0): DataFrame = {
    require(budget > 0 && longBuckets >= 1, "sloBurnRate needs budget>0")
    val hourly = df.filter(ts.isNotNull)
      .groupBy(floorDivMicros(ts, 3600000000L).as("hour"))
      .agg(count(lit(1)).as("total"),
        count(when(isError, 1)).as("errors"))
    sloBurnFromHourly(hourly, budget, longBuckets, threshold)
  }

  /** The burn computation over an ALREADY-AGGREGATED hourly
    * (hour, total, errors) frame — shared by [[sloBurnRate]] and the
    * streaming monitor (streaming/SloStreams), whose upsert store holds
    * exactly this shape. Report-sized input; long side broadcast. */
  def sloBurnFromHourly(hourly: DataFrame, budget: Double,
      longBuckets: Int = 6, threshold: Double = 1.0): DataFrame = {
    require(budget > 0 && longBuckets >= 1, "sloBurnFromHourly needs budget>0")
    def block(h: Column): Column =
      ((h - pmod(h, lit(longBuckets.toLong))) / lit(longBuckets.toLong))
        .cast("long")
    val long = hourly
      .groupBy(block(col("hour")).as("__block"))
      .agg(sum(col("total")).as("__lt"), sum(col("errors")).as("__le"))
    hourly
      .join(broadcast(long), block(col("hour")) === col("__block"))
      .withColumn("burn_short",
        round(col("errors").cast("double") / col("total").cast("double")
          / budget, 6))
      .withColumn("burn_long",
        round(col("__le").cast("double") / col("__lt").cast("double")
          / budget, 6))
      .withColumn("alert",
        col("burn_short") > threshold && col("burn_long") > threshold)
      .select("hour", "total", "errors", "burn_short", "burn_long", "alert")
      .orderBy("hour")
  }

  /** Top-k contiguous n-step sequences (default trigrams) of the event
    * stream: per subject the time-ordered type sequence, every contiguous
    * window of `n` types counted with its distinct-subject support — the
    * sequential-pattern mining readout one level up from
    * [[markovTransitions]]' pairs (which flows dominate, not just which
    * transitions). One keyed window (partitioned BY SUBJECT — distributed),
    * one aggregation; top-k via TakeOrdered, no global sort. */
  def topSequences(df: DataFrame, key: String, ts: String, typeCol: String,
      tieCol: String, n: Int = 3, k: Int = 15): DataFrame = {
    require(n >= 2 && k >= 1, "topSequences needs n >= 2, k >= 1")
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieCol))
    val steps = (1 until n).foldLeft(
      df.filter(col(ts).isNotNull && col(typeCol).isNotNull)) { (acc, i) =>
      acc.withColumn(s"__s$i", lead(col(typeCol), i).over(w))
    }
    val stepCols = col(typeCol).as("s1") +:
      (1 until n).map(i => col(s"__s$i").as(s"s${i + 1}"))
    steps
      .filter((1 until n).map(i => col(s"__s$i").isNotNull).reduce(_ && _))
      .select(col(key).as("__k") +: stepCols: _*)
      .groupBy((1 to n).map(i => col(s"s$i")): _*)
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("__k")).as("n_subjects"))
      .orderBy(col("n_occurrences").desc +: (1 to n).map(i => col(s"s$i")): _*)
      .limit(k)
  }

  def markovTransitions(df: DataFrame, key: String, ts: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieCol))
    val pairs = df
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
    val byPrev = Window.partitionBy("prev_type")
    pairs
      .withColumn("p",
        round(col("n").cast("double") / sum(col("n")).over(byPrev), 6))
      .orderBy("prev_type", "next_type")
  }
}
