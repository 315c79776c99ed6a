package graft

import org.apache.spark.sql.functions._

import graft.ops.{Compaction, EventAnalytics, RankEval, Stats}

/** Unit semantics for the round-7 statistics/planning operators
  * (q155-q163): hand-computed answers on tiny frames plus plan-shape
  * guards where the scale contract is the point.
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double): Double = math.round(x * 1e6) / 1e6

  // --- regrByGroup -----------------------------------------------------

  test("regrByGroup: exact fit recovers slope/intercept with r2=1; " +
      "zero-x-variance group yields nulls") {
    val df = Seq(
      ("a", 1.0, 5.0), ("a", 2.0, 7.0), ("a", 3.0, 9.0),   // y = 2x + 3
      ("b", 4.0, 1.0), ("b", 4.0, 9.0))                     // no x variance
      .toDF("g", "x", "y")
    val got = Stats.regrByGroup(df, Seq("g"), $"x", $"y")
      .orderBy("g")
      .select($"g", $"n", $"slope", $"intercept", $"r2")
      .collect()
    assert(got(0).getLong(1) == 3L)
    assert(got(0).getDouble(2) == 2.0 && got(0).getDouble(3) == 3.0 &&
      got(0).getDouble(4) == 1.0)
    assert(got(1).isNullAt(2) && got(1).isNullAt(3) && got(1).isNullAt(4))
  }

  test("regrByGroup: plans one map-side-combined aggregate, no window " +
      "or join over data") {
    val plan = Stats.regrByGroup(
        spark.read.parquet(s"$sf001/lineitem.parquet"),
        Seq("l_returnflag"), $"l_quantity", $"l_extendedprice")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("partial_"), s"regression lost partial aggregation:\n$plan")
    assert(!plan.contains("WindowExec") && !plan.contains("Join"),
      s"regression plans a window/join over data:\n$plan")
  }

  // --- chiSquareIndependence -------------------------------------------

  test("chiSquare: independent table -> 0; hand 2x2 with an absent cell " +
      "densifies instead of dropping it") {
    // perfectly independent: o = na*nb/n for every cell
    val ind = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v"))
      .toDF("a", "b")
    val r0 = Stats.chiSquareIndependence(ind, $"a", $"b")
      .as[(Double, Long, Long)].head()
    assert(r0 == ((0.0, 1L, 4L)))

    // (y,v) never observed but both marginals exist: expected=1, term=1;
    // chi2 = 4/2 + 4/... hand: cells o={xu:1,xv:1,yu:2}, n=4,
    // na(x)=2,na(y)=2, nb(u)=3,nb(v)=1
    // e(xu)=1.5 e(xv)=0.5 e(yu)=1.5 e(yv)=0.5
    // chi2 = .25/1.5 + .25/.5 + .25/1.5 + .25/.5 = 1/3 + 1 = 4/3
    val dep = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "u"))
      .toDF("a", "b")
    val r1 = Stats.chiSquareIndependence(dep, $"a", $"b")
      .as[(Double, Long, Long)].head()
    assert(math.abs(r1._1 - 4.0 / 3) < 1e-5, s"chi2: ${r1._1}")
    assert(r1._2 == 1L && r1._3 == 4L)
  }

  // --- welchTTest ------------------------------------------------------

  test("welchTTest: hand-computed t/dof; degenerate single-row side " +
      "yields null t") {
    // a = {1,2,3} (mean 2, var 1), b = {5,7} (mean 6, var 2)
    // se2 = 1/3 + 1 = 4/3; t = -4/sqrt(4/3)
    // dof = (4/3)^2 / (1/(9*2) + 4/(4*1)) = (16/9)/(1/18+1) = 32/19
    val df = Seq((true, 1.0), (true, 2.0), (true, 3.0),
      (false, 5.0), (false, 7.0)).toDF("s", "v")
    val got = Stats.welchTTest(df, $"s", $"v")
      .as[(Long, Long, Double, Double, Double, Double)].head()
    assert(got._1 == 3L && got._2 == 2L)
    assert(got._3 == 2.0 && got._4 == 6.0)
    assert(got._5 == r6(-4.0 / math.sqrt(4.0 / 3)), s"t: ${got._5}")
    assert(got._6 == r6(32.0 / 19.0), s"dof: ${got._6}")

    val deg = Seq((true, 1.0), (false, 5.0), (false, 7.0)).toDF("s", "v")
    val row = Stats.welchTTest(deg, $"s", $"v")
      .select($"t_stat".isNull, $"dof".isNull).as[(Boolean, Boolean)].head()
    assert(row == ((true, true)))
  }

  // --- madOutliers -----------------------------------------------------

  test("madOutliers: flags only the >k*MAD rows; constant group (MAD=0) " +
      "flags nothing") {
    val df = Seq(
      ("g1", 1L, 10.0), ("g1", 2L, 11.0), ("g1", 3L, 12.0),
      ("g1", 4L, 13.0), ("g1", 5L, 100.0), // med 12, MAD 1, |100-12|=88 > 3
      ("g2", 6L, 5.0), ("g2", 7L, 5.0), ("g2", 8L, 999.0)) // med 5, MAD 0
      .toDF("g", "id", "v")
    val got = Stats.madOutliers(df, "g", $"v", k = 3.0)
      .select("id", "mad_score").as[(Long, Double)].collect().toSeq
    assert(got == Seq((5L, 88.0)))
  }

  // --- benford ---------------------------------------------------------

  test("benford: first significant digit from decimal rendering " +
      "(sub-1 values, power-of-ten boundaries); chi2 total replicated") {
    val df = Seq(0.5, 1000.0, 999.99, 0.02, 123.45, -7.0, 0.0)
      .toDF("v") // -7 and 0 excluded (positive-only audit)
    val got = Stats.benford(df, $"v")
      .select("digit", "n").as[(String, Long)].collect().toSeq
    assert(got == Seq(("1", 2L), ("2", 1L), ("5", 1L), ("9", 1L)))
    val chi2 = Stats.benford(df, $"v").select("chi2_total")
      .as[Double].head()
    assert(chi2 > 0)
  }

  // --- ewma ------------------------------------------------------------

  test("ewma: left fold from the oldest frame value; window capped at " +
      "lookback+1 events") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:${m}%02d:00")
    val df = Seq((1L, 1L, ts(1), 10.0), (2L, 1L, ts(2), 20.0),
      (3L, 1L, ts(3), 30.0)).toDF("event_id", "user_id", "ts", "value")
    val got = EventAnalytics.ewma(df, "user_id", "ts", "value",
        tieCol = "event_id", alpha = 0.3, lookback = 9)
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    assert(got(1L) == 10.0)
    assert(got(2L) == r6(20.0 * 0.3 + 10.0 * 0.7))
    assert(got(3L) == r6(30.0 * 0.3 + (20.0 * 0.3 + 10.0 * 0.7) * 0.7))

    // lookback=1: frame is (prev, current) only -> seed is the previous value
    val short = EventAnalytics.ewma(df, "user_id", "ts", "value",
        tieCol = "event_id", alpha = 0.3, lookback = 1)
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    assert(short(3L) == r6(30.0 * 0.3 + 20.0 * 0.7))
  }

  // --- markovTransitions -----------------------------------------------

  test("markov: adjacent pairs within entity, P(next|prev) sums to 1 " +
      "per prev state") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:${m}%02d:00")
    val df = Seq(
      (1L, 1L, ts(1), "a"), (2L, 1L, ts(2), "b"), (3L, 1L, ts(3), "a"),
      (4L, 2L, ts(1), "a"), (5L, 2L, ts(2), "b"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics.markovTransitions(df, "user_id", "ts",
        "event_type", tieCol = "event_id")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", "b", 2L, 1.0), ("b", "a", 1L, 1.0)))
  }

  // --- compaction ------------------------------------------------------

  test("planBins: next-fit running-sum packing; oversize item isolated; " +
      "order preserved within partition") {
    val df = Seq(
      ("p", 1L, 60L), ("p", 2L, 60L), ("p", 3L, 300L), ("p", 4L, 10L),
      ("q", 5L, 10L))
      .toDF("part", "id", "sz")
    val got = Compaction.planBins(df, Seq("part"), $"sz", $"id", 100L)
      .select("id", "bin").as[(Long, Long)].collect().toMap
    // running-before: 0, 60, 120, 420 -> bins 0, 0, 1, 4
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 4L, 5L -> 0L))

    val man = Compaction.binManifest(
        Compaction.planBins(df, Seq("part"), $"sz", $"id", 100L),
        Seq("part"), $"sz")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(man == Seq(("p", 0L, 2L, 120L), ("p", 1L, 1L, 300L),
      ("p", 4L, 1L, 10L), ("q", 0L, 1L, 10L)))
  }

  test("planBins: window is keyed by the partition columns — no global sort") {
    val plan = Compaction.planBins(
        spark.read.parquet(s"$sf001/documents.parquet"),
        Seq("source"), $"n_chars", $"doc_id", 100000L)
      .queryExecution.executedPlan.toString()
    val win = plan.linesIterator.filter(_.contains("windowspecdefinition"))
      .mkString("\n")
    assert(win.contains("source"), s"compaction window lost its partition key:\n$win")
    assert(!plan.contains("Exchange rangepartitioning"),
      "compaction degraded to a global range sort")
  }

  // --- ndcgAtK ---------------------------------------------------------

  test("ndcgAtK: perfect ranking -> 1; relevant item at rank 2 of 2 -> " +
      "hand value; no relevant -> 0/0") {
    val df = Seq(
      // g1: scores rank rel-first -> perfect
      ("g1", 1L, 9.0, 1.0), ("g1", 2L, 5.0, 0.0),
      // g2: the only relevant item ranks second
      ("g2", 3L, 9.0, 0.0), ("g2", 4L, 5.0, 1.0),
      // g3: nothing relevant
      ("g3", 5L, 9.0, 0.0))
      .toDF("g", "id", "score", "rel")
    val got = RankEval.ndcgAtK(df, "g", $"score", $"rel", $"id", k = 10)
      .orderBy("g").as[(String, Long, Double, Double)].collect().toSeq
    val dcg2 = 1.0 / (math.log(3.0) / math.log(2.0)) // rel at rank 2
    assert(got(0) == (("g1", 1L, 1.0, 1.0)))
    assert(got(1)._3 == r6(dcg2 / 1.0) && got(1)._4 == 0.5)
    assert(got(2) == (("g3", 0L, 0.0, 0.0)))
  }

  test("ndcgAtK: both rankings share one group-key exchange") {
    val plan = RankEval.ndcgAtK(
        spark.read.parquet(s"$sf001/documents.parquet"), "source",
        $"n_chars", when($"lang" === "en", 1.0).otherwise(0.0), $"doc_id")
      .queryExecution.executedPlan.toString()
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"ndcg plans $exchanges hash exchanges:\n$plan")
  }

  test("ndcgAtKGlobalIdeal: penalizes unretrieved relevant items where the " +
      "local ideal does not; equal when the top-k holds every relevant") {
    // k=1: score ranks the irrelevant doc first, one relevant doc below.
    // Local ideal only sees the retrieved {irrelevant} -> idcg=0 -> ndcg 0;
    // global ideal knows a relevant doc existed -> idcg=1, dcg=0 -> ndcg 0.
    // With BOTH relevant: local and global agree at 1.0.
    val df = Seq(
      ("g1", 1L, 9.0, 0.0), ("g1", 2L, 5.0, 1.0),
      ("g2", 3L, 9.0, 1.0), ("g2", 4L, 5.0, 1.0))
      .toDF("g", "id", "score", "rel")
    val glob = RankEval.ndcgAtKGlobalIdeal(df, "g", $"score", $"rel", $"id", k = 1)
      .orderBy("g").as[(String, Long, Double, Double)].collect().toSeq
    // g1: n_rel counts ALL relevant (1), ndcg 0 (missed it), mrr 0
    assert(glob(0) == (("g1", 1L, 0.0, 0.0)))
    // g2: retrieved top-1 is relevant; global ideal also 1 item -> ndcg 1
    assert(glob(1) == (("g2", 2L, 1.0, 1.0)))
    // and on a case where the retrieved set is complete, local == global
    val both = Seq(("g", 1L, 9.0, 1.0), ("g", 2L, 5.0, 0.0)).toDF("g", "id", "score", "rel")
    val l = RankEval.ndcgAtK(both, "g", $"score", $"rel", $"id", k = 10)
      .select("ndcg").as[Double].head()
    val g = RankEval.ndcgAtKGlobalIdeal(both, "g", $"score", $"rel", $"id", k = 10)
      .select("ndcg").as[Double].head()
    assert(l == g && l == 1.0)
  }

  // --- cohenKappa --------------------------------------------------------

  test("cohenKappa: perfect agreement -> 1; hand-computed partial agreement") {
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    val p = Stats.cohenKappa(perfect, $"a", $"b")
      .as[(Long, Double, Double, Double)].head()
    assert(p._1 == 3L && p._2 == 1.0 && p._4 == 1.0)
    // hand 2x2: agree on 20 of 30; marginals A:{x:13,y:17}, B:{x:17,y:13}
    // -> pe = (13*17 + 17*13)/900 = 442/900; kappa = (2/3 - pe)/(1 - pe)
    //  = (79/450)/(229/450) = 79/229
    val rows = Seq.fill(10)(("x", "x")) ++ Seq.fill(10)(("y", "y")) ++
      Seq.fill(7)(("y", "x")) ++ Seq.fill(3)(("x", "y"))
    val k = Stats.cohenKappa(rows.toDF("a", "b"), $"a", $"b")
      .as[(Long, Double, Double, Double)].head()
    assert(k._1 == 30L && k._2 == r6(20.0 / 30) && k._3 == r6(442.0 / 900) &&
      k._4 == r6(79.0 / 229))
  }

  test("cohenKappa: category present in only one rater still feeds the " +
      "chance term through the full-outer marginal join") {
    // b answers 'z' which a never uses: pe must use na(z)=0 (contribute 0),
    // not drop the category
    val df = Seq(("x", "x"), ("x", "z"), ("y", "y"), ("y", "y")).toDF("a", "b")
    val k = Stats.cohenKappa(df, $"a", $"b")
      .as[(Long, Double, Double, Double)].head()
    // n=4, agree=3, po=.75; marginals a:{x:2,y:2}, b:{x:1,y:2,z:1}
    // pe = (2*1 + 2*2 + 0*1)/16 = 6/16
    assert(k._1 == 4L && k._2 == 0.75 && k._3 == 0.375 &&
      k._4 == r6((0.75 - 0.375) / (1 - 0.375)))
  }

  // --- giniConcentration -------------------------------------------------

  test("gini: uniform sizes -> 0; hand-computed concentrated case; " +
      "textbook max approaches 1-1/n") {
    val uniform = (1 to 12).map(i => (s"g${i % 4}", i)).toDF("g", "v")
    val u = Stats.giniConcentration(uniform, $"g")
      .as[(Long, Long, Double)].head()
    assert(u == ((4L, 12L, 0.0)))
    // sizes 1,1,1,7: G = Σ(2i-n-1)x_i/(n·Σx) with x asc
    // = ((2-5)*1 + (4-5)*1 + (6-5)*1 + (8-5)*7)/(4*10) = 18/40 = 0.45
    val skewed = (Seq.fill(7)("big") ++ Seq("a", "b", "c")).toDF("g")
    val sk = Stats.giniConcentration(skewed, $"g")
      .as[(Long, Long, Double)].head()
    assert(sk == ((4L, 10L, 0.45)))
  }

  // --- calibrationCurve --------------------------------------------------

  test("calibrationCurve: bucket means/rates and Brier replicate by hand; " +
      "score 1.0 clamps into the top bucket") {
    val df = Seq(
      (0.05, true), (0.15, false), (0.15, true), (1.0, true))
      .toDF("score", "label")
    val got = Stats.calibrationCurve(df, $"score", $"label", nBuckets = 10)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    val brier = r6((math.pow(0.05 - 1, 2) + math.pow(0.15, 2) +
      math.pow(0.15 - 1, 2) + 0.0) / 4)
    assert(got == Seq(
      (0L, 1L, 0.05, 1.0, brier),
      (1L, 2L, 0.15, 0.5, brier),
      (9L, 1L, 1.0, 1.0, brier)))
  }

  // --- bootstrapMeanCI ---------------------------------------------------

  test("bootstrapMeanCI: CI brackets the sample mean, se positive, and the " +
      "result is a pure function of (seed, ids) — partitioning-invariant") {
    import graft.ops.Stats
    val df = (1 to 500).map(i => (i.toLong, (i % 97).toDouble)).toDF("id", "x")
    val r = Stats.bootstrapMeanCI(df, "id", $"x")
      .as[(Long, Double, Double, Double, Double)].head()
    val (n, mean, se, lo, hi) = r
    assert(n == 500L && se > 0.0)
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] misses mean $mean")
    assert(hi - lo < 20.0, s"CI implausibly wide: [$lo, $hi]")
    val r2 = Stats.bootstrapMeanCI(df.repartition(13), "id", $"x")
      .as[(Long, Double, Double, Double, Double)].head()
    assert(r == r2, "bootstrap depends on partitioning")
    val rSeed = Stats.bootstrapMeanCI(df, "id", $"x", seed = "7")
      .as[(Long, Double, Double, Double, Double)].head()
    assert(rSeed._4 != lo || rSeed._5 != hi, "seed has no effect")
  }

  // --- quantileNormalize -------------------------------------------------

  test("quantileNormalize: maps into reference midpoints, monotone in the " +
      "input, clamps outside the reference range, null passes through") {
    import graft.ops.Stats
    val ref = (1 to 100).map(_.toDouble).toDF("v")
    val data = Seq(Some(-50.0), Some(5.0), Some(55.0), Some(99.0),
      Some(500.0), None).toDF("x")
    val got = Stats.quantileNormalize(data, $"x", ref, $"v", buckets = 4)
      .select("x", "normalized").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // 4-quantile midpoints of 1..100: p12.5=13.375, p37.5=38.125,
    // p62.5=62.875, p87.5=87.625
    assert(got(Some(-50.0)) == Some(13.375))   // clamps to first bucket
    assert(got(Some(5.0)) == Some(13.375))
    assert(got(Some(55.0)) == Some(62.875))    // 55 >= p25, p50; < p75
    assert(got(Some(99.0)) == Some(87.625))
    assert(got(Some(500.0)) == Some(87.625))   // clamps to last bucket
    assert(got(None).isEmpty)                  // null in, null out
    // monotone: sorted inputs produce non-decreasing outputs
    val outs = Seq(-50.0, 5.0, 55.0, 99.0, 500.0).map(v => got(Some(v)).get)
    assert(outs == outs.sorted)
  }

  // --- mutualInformation -------------------------------------------------

  test("mutualInformation: independent -> 0; identical columns -> mi = h, " +
      "nmi = 1; constant column -> null nmi") {
    import graft.ops.Stats
    // perfectly independent 2x2
    val ind = Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")).toDF("a", "b")
    val ri = Stats.mutualInformation(ind, $"a", $"b")
      .as[(Long, Double, Double, Double, Option[Double])].head()
    assert(ri._1 == 4L && ri._2 == 0.0 && ri._5.contains(0.0))
    // identical columns: mi = h_a = h_b (= ln 2 for a fair coin), nmi = 1
    val same = Seq(("x", "x"), ("y", "y"), ("x", "x"), ("y", "y")).toDF("a", "b")
    val rs = Stats.mutualInformation(same, $"a", $"b")
      .as[(Long, Double, Double, Double, Option[Double])].head()
    assert(rs._2 == rs._3 && rs._3 == rs._4 && rs._5.contains(1.0))
    assert(math.abs(rs._2 - math.log(2.0)) < 1e-5)
    // constant b: h_b = 0 -> nmi undefined
    val const = Seq(("x", "k"), ("y", "k")).toDF("a", "b")
    val rc = Stats.mutualInformation(const, $"a", $"b")
      .as[(Long, Double, Double, Double, Option[Double])].head()
    assert(rc._2 == 0.0 && rc._4 == 0.0 && rc._5.isEmpty)
  }

  test("infoGainSweep: label-copy feature has ig_ratio 1, independent " +
      "feature 0; agrees with single-pair mutualInformation") {
    import graft.ops.Stats
    val df = Seq(
      ("x", "x", "u"), ("x", "x", "v"), ("y", "y", "u"), ("y", "y", "v"))
      .toDF("label", "copy", "indep")
    val got = Stats.infoGainSweep(df, $"label",
        Seq("copy" -> $"copy", "indep" -> $"indep"))
      .as[(String, Long, Double, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("copy")._5.contains(1.0) && got("copy")._3 == got("copy")._4)
    assert(got("indep")._3 == 0.0 && got("indep")._5.contains(0.0))
    // sweep MI for a feature == the dedicated pair operator's MI
    val single = Stats.mutualInformation(df, $"copy", $"label")
      .select("mi").as[Double].head()
    assert(got("copy")._3 == single)
  }

  // --- contractReport ----------------------------------------------------

  test("contractReport: null rates, exact distincts, and numeric means per " +
      "column per side; non-numeric mean is null") {
    import graft.ops.Drift
    val a = Seq((1L, Some("en"), Some(10L)), (2L, None, Some(20L)),
      (3L, Some("fr"), Some(30L))).toDF("id", "lang", "n")
    val b = Seq((4L, Some("en"), None), (5L, Some("en"), Some(40L)))
      .toDF("id", "lang", "n")
    val got = Drift.contractReport(a, b, Seq("lang", "n"))
      .collect().map(r => r.getString(0) -> r).toMap
    val lang = got("lang")
    assert(lang.getLong(1) == 3L && lang.getLong(2) == 2L)       // rows
    assert(lang.getDouble(3) == r6(1.0 / 3) && lang.getDouble(4) == 0.0) // null rates
    assert(lang.getLong(5) == 2L && lang.getLong(6) == 1L)       // ndv en/fr vs en
    assert(lang.isNullAt(7) && lang.isNullAt(8))                 // no numeric mean
    val n = got("n")
    assert(n.getDouble(3) == 0.0 && n.getDouble(4) == 0.5)
    assert(n.getLong(5) == 3L && n.getLong(6) == 1L)
    assert(n.getDouble(7) == 20.0 && n.getDouble(8) == 40.0)
  }

  // --- aucRankSum --------------------------------------------------------

  test("aucRankSum: perfect separation -> 1; reversed -> 0; all-tied -> 0.5; " +
      "hand-computed tie case; one-class -> null") {
    def auc(rows: Seq[(Double, Boolean)], parts: Int = 4): (Long, Long, Option[Double]) = {
      val r = Stats.aucRankSum(rows.toDF("s", "y"), $"s", $"y", partitions = parts)
        .collect().head
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }
    assert(auc(Seq((0.1, false), (0.2, false), (0.8, true), (0.9, true)))
      == ((2L, 2L, Some(1.0))))
    assert(auc(Seq((0.9, false), (0.8, false), (0.1, true), (0.2, true)))
      == ((2L, 2L, Some(0.0))))
    assert(auc(Seq((0.5, false), (0.5, true), (0.5, false), (0.5, true)))
      == ((2L, 2L, Some(0.5))))
    // hand case with a cross-class tie: scores (.1-), (.5-), (.5+), (.9+)
    // pairs: (+.5,-.1)=1, (+.5,-.5)=.5, (+.9,-.1)=1, (+.9,-.5)=1 -> 3.5/4
    assert(auc(Seq((0.1, false), (0.5, false), (0.5, true), (0.9, true)))
      == ((2L, 2L, Some(0.875))))
    assert(auc(Seq((0.1, true), (0.9, true))) == ((2L, 0L, None)))
  }

  test("aucRankSum: partition-count invariant (global ranks from offsets, " +
      "not per-partition ranks)") {
    val rows = (1 to 500).map(i =>
      ((i * 2654435761L % 1000).toDouble, i % 3 == 0))
    val r1 = Stats.aucRankSum(rows.toDF("s", "y"), $"s", $"y", partitions = 1)
      .select("auc").as[Double].head()
    val r8 = Stats.aucRankSum(rows.toDF("s", "y"), $"s", $"y", partitions = 8)
      .select("auc").as[Double].head()
    assert(r1 == r8, s"AUC depends on partitioning: $r1 vs $r8")
  }

  // --- anovaOneWay -----------------------------------------------------

  test("anovaOneWay: identical group means -> F ~ 0; hand-computed " +
      "two-group case; single group -> null F") {
    // groups with equal means and equal spread: SSB = 0 -> F = 0, eta2 = 0
    val same = Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    val r0 = Stats.anovaOneWay(same, $"g", $"v")
      .select("k", "n", "f_stat", "eta2")
      .as[(Long, Long, Double, Double)].head()
    assert(r0 == ((2L, 4L, 0.0, 0.0)))

    // hand case: a={1,2,3} mean 2, b={5,6,7} mean 6; grand mean 4
    // SSB = 3*(2-4)^2 + 3*(6-4)^2 = 24; SSW = 2 + 2 = 4
    // F = (24/1)/(4/4) = 24; eta2 = 24/28
    val two = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 5.0), ("b", 6.0), ("b", 7.0)).toDF("g", "v")
    val r1 = Stats.anovaOneWay(two, $"g", $"v")
      .select("ss_between", "ss_within", "f_stat", "eta2")
      .as[(Double, Double, Double, Double)].head()
    assert(r1 == ((24.0, 4.0, 24.0, r6(24.0 / 28.0))))

    // one group: k < 2 -> null F, eta2 still defined (0 here)
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val row = Stats.anovaOneWay(one, $"g", $"v").collect()(0)
    assert(row.isNullAt(row.fieldIndex("f_stat")))
  }

  // --- cramersVSweep ---------------------------------------------------

  test("cramersVSweep: identical columns -> V = 1, independent -> V = 0, " +
      "pair coverage is all-unordered-pairs") {
    val df = (0 until 40).map { i =>
      val x = if (i % 2 == 0) "u" else "w"
      (x, x, if (i % 4 < 2) "p" else "q") // c copies nothing of a: i%4 pattern
    }.toDF("a", "b", "c")
    val got = Stats.cramersVSweep(df, Seq(
        ("a", $"a"), ("b", $"b"), ("c", $"c")))
      .select("col_a", "col_b", "cramers_v")
      .as[(String, String, Double)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) ==
      Seq(("a", "b"), ("a", "c"), ("b", "c")))
    val m = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(m(("a", "b")) == 1.0, "identical columns must give V = 1")
    // a vs c: each a-level splits c evenly (i%2 vs i%4<2) -> independent
    assert(m(("a", "c")) == 0.0, "independent columns must give V = 0")
  }

  test("cramersVSweep: one data pass (single explode scan), grid join is " +
      "broadcast") {
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
    val plan = Stats.cramersVSweep(orders, Seq(
        ("p", $"o_orderpriority"), ("s", $"o_orderstatus"),
        ("b", floor($"o_totalprice" / 50000).cast("string"))))
      .queryExecution.executedPlan.toString()
    // the one data pass runs at snapshot time; the returned plan must do
    // all marginal/grid math over the materialized cell table, never
    // re-deriving it from the source (which would re-scan per consumer)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0, s"sweep re-scans the source table $scans times:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"marginal grid join should broadcast:\n$plan")
  }

  // --- acfByLag --------------------------------------------------------

  test("acfByLag: constant series -> null (zero variance); alternating " +
      "series -> lag-1 ~ -1, lag-2 ~ +1; pair counts shrink with lag") {
    val alt = (1 to 20).map(i => (i, if (i % 2 == 0) 1.0 else -1.0))
      .toDF("t", "y")
    val got = Stats.acfByLag(alt, $"t", $"y", maxLag = 2)
      .as[(Int, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1, 2))
    assert(got(0)._2 == 19L && got(1)._2 == 18L)
    // ACF of a pure alternation: r1 = -19/20, r2 = +18/20 (denominator
    // spans all n terms, numerator only the overlapping pairs)
    assert(got(0)._3 == r6(-19.0 / 20.0))
    assert(got(1)._3 == r6(18.0 / 20.0))

    val const = (1 to 10).map(i => (i, 5.0)).toDF("t", "y")
    val c = Stats.acfByLag(const, $"t", $"y", maxLag = 1).collect()(0)
    assert(c.isNullAt(c.fieldIndex("acf")),
      "zero-variance series must yield null acf")
  }

  // --- spearman --------------------------------------------------------

  test("spearman: monotone nonlinear -> 1, reversed -> -1, hand-computed " +
      "tied case, partition-count invariant") {
    val mono = (1 to 50).map(i => (i.toDouble, math.pow(i.toDouble, 3)))
      .toDF("x", "y")
    assert(Stats.spearman(mono, $"x", $"y")
      .as[(Long, Double)].head() == ((50L, 1.0)))

    val rev = (1 to 50).map(i => (i.toDouble, -i.toDouble)).toDF("x", "y")
    assert(Stats.spearman(rev, $"x", $"y")
      .as[(Long, Double)].head() == ((50L, -1.0)))

    // x=[1,1,2], y=[5,7,7]: avg ranks rx=[1.5,1.5,3], ry=[1,2.5,2.5]
    // Pearson on ranks = 0.75 / 1.5 = 0.5
    val tied = Seq((1.0, 5.0), (1.0, 7.0), (2.0, 7.0)).toDF("x", "y")
    assert(Stats.spearman(tied, $"x", $"y")
      .as[(Long, Double)].head() == ((3L, 0.5)))

    // constant column -> zero rank variance -> null
    val const = Seq((1.0, 5.0), (2.0, 5.0)).toDF("x", "y")
    val c = Stats.spearman(const, $"x", $"y").collect()(0)
    assert(c.isNullAt(c.fieldIndex("rho")))

    val rows = (1 to 300).map(i =>
      ((i * 2654435761L % 97).toDouble, (i * 40503L % 89).toDouble))
      .toDF("x", "y")
    val p1 = Stats.spearman(rows, $"x", $"y", partitions = 1)
      .as[(Long, Double)].head()
    val p8 = Stats.spearman(rows, $"x", $"y", partitions = 8)
      .as[(Long, Double)].head()
    assert(p1 == p8, s"spearman depends on partitioning: $p1 vs $p8")
  }

  // --- weightedMedian --------------------------------------------------

  test("weightedMedian: lower-median contract on hand cases, heavy row " +
      "outvotes many light rows, per-group independence") {
    // {1:w1, 2:w1, 3:w2}: tot=4, first value with 2*cum >= tot is 2
    val a = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 2.0))
      .toDF("g", "v", "w")
    assert(Stats.weightedMedian(a, "g", $"v", $"w")
      .as[(String, Long, Double, Double)].head() == (("g", 3L, 4.0, 2.0)))

    // even split: the LOWER median by contract
    val b = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0)).toDF("g", "v", "w")
    assert(Stats.weightedMedian(b, "g", $"v", $"w")
      .as[(String, Long, Double, Double)].head()._4 == 1.0)

    // one heavy row at 100 against ten light rows at 1..10
    val c = ((1 to 10).map(i => ("h", i.toDouble, 1.0)) :+ (("h", 100.0, 50.0)))
      .toDF("g", "v", "w")
    assert(Stats.weightedMedian(c, "g", $"v", $"w")
      .as[(String, Long, Double, Double)].head()._4 == 100.0)

    // groups are independent; zero/negative weights are dropped
    val d = Seq(("x", 1.0, 2.0), ("x", 9.0, 1.0), ("y", 5.0, 1.0),
      ("y", 7.0, 0.0)).toDF("g", "v", "w")
    val got = Stats.weightedMedian(d, "g", $"v", $"w")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("x", 2L, 3.0, 1.0), ("y", 1L, 1.0, 5.0)))
  }

  // --- ols2 ------------------------------------------------------------

  test("ols2: exact planted plane recovered with r2 = 1; collinear " +
      "regressors -> null coefficients") {
    // y = 2 + 3*x1 - 4*x2 exactly, on a non-degenerate design
    val rows = for (i <- 1 to 20; j <- 1 to 3)
      yield (i.toDouble, (j * 7 % 5).toDouble + i % 3,
        2.0 + 3.0 * i - 4.0 * ((j * 7 % 5).toDouble + i % 3))
    val df = rows.map { case (x1, x2, y) => (y, x1, x2) }.toDF("y", "x1", "x2")
    val got = Stats.ols2(df, $"y", $"x1", $"x2")
      .as[(Long, Double, Double, Double, Double)].head()
    assert(got == ((60L, 2.0, 3.0, -4.0, 1.0)), s"plane not recovered: $got")

    // x2 = 2*x1: singular centered system
    val coll = (1 to 10).map(i => (i.toDouble, i.toDouble, 2.0 * i))
      .toDF("y", "x1", "x2")
    val c = Stats.ols2(coll, $"y", $"x1", $"x2").collect()(0)
    assert(c.isNullAt(c.fieldIndex("b1")) && c.isNullAt(c.fieldIndex("r2")))
  }

  // --- lorenzDeciles / effectiveSampleSize -----------------------------

  test("lorenzDeciles: uniform sizes give the 45-degree line; one heavy " +
      "group bends the curve; shares end at 1") {
    val uni = (1 to 100).flatMap(g => Seq.fill(5)(g)).toDF("g")
    val u = Stats.lorenzDeciles(uni, $"g")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(u.size == 10 && u.forall { case (d, n, p, m) =>
      n == 10L && p == d / 10.0 && m == d / 10.0 })

    // 9 groups of 1 + 1 group of 91: the last decile holds 91% of mass
    val skew = ((1 to 9).map(g => (g, 1)) ++ Seq((10, 91)))
      .flatMap { case (g, k) => Seq.fill(k)(g) }.toDF("g")
    val sk = Stats.lorenzDeciles(skew, $"g")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(sk.last == ((10, 1L, 1.0, 1.0)))
    assert(sk(8)._4 == 0.09, s"first 9 deciles must hold 9%: ${sk(8)}")
  }

  test("effectiveSampleSize: equal weights -> ess = n, deff = 1; one " +
      "dominant weight -> ess near 1") {
    val eq = (1 to 50).map(i => ("g", 10.0)).toDF("g", "w")
    assert(Stats.effectiveSampleSize(eq, $"g", $"w")
      .as[(String, Long, Double, Double)].head() == (("g", 50L, 50.0, 1.0)))

    val dom = ((1 to 9).map(_ => ("h", 1.0)) :+ (("h", 1000.0))).toDF("g", "w")
    val e = Stats.effectiveSampleSize(dom, $"g", $"w")
      .as[(String, Long, Double, Double)].head()
    assert(e._3 < 1.2 && e._4 > 8.0, s"dominated sample not flagged: $e")
  }

  // --- twoProportionZTest / abcClasses ---------------------------------

  test("twoProportionZTest: hand-computed pooled z; degenerate pools " +
      "yield null z") {
    val rows = (Seq.fill(2)(("a", true)) ++ Seq.fill(2)(("a", false)) ++
      Seq.fill(1)(("b", true)) ++ Seq.fill(3)(("b", false)))
      .toDF("v", "c").select(($"v" === "a").as("side"), $"c".as("conv"))
    val got = Stats.twoProportionZTest(rows, $"side", $"conv")
      .as[(Long, Long, Long, Long, Double, Double, Double)].head()
    val pp = 3.0 / 8
    val se = math.sqrt(pp * (1 - pp) * (1.0 / 4 + 1.0 / 4))
    val wantZ = math.round((0.5 - 0.25) / se * 1e6) / 1e6
    assert(got == ((4L, 4L, 2L, 1L, 0.5, 0.25, wantZ)))

    // nobody converts anywhere: pooled rate 0 -> no test
    val none = Seq((true, false), (false, false)).toDF("side", "conv")
    val n = Stats.twoProportionZTest(none, $"side", $"conv").collect()(0)
    assert(n.isNullAt(n.fieldIndex("z")))
  }

  test("abcClasses: 80/15/5 splits to A/B/C on the rounded-share " +
      "boundaries; rank ties break by item") {
    val items = Seq(("x", 80.0), ("y", 15.0), ("z", 5.0)).toDF("i", "v")
    val got = Stats.abcClasses(items, $"i", $"v")
      .as[(String, Long, Double, String)].collect().toSeq
    assert(got == Seq(("x", 1L, 0.8, "A"), ("y", 2L, 0.95, "B"),
      ("z", 3L, 1.0, "C")))

    val tied = Seq(("b", 10.0), ("a", 10.0)).toDF("i", "v")
    val t = Stats.abcClasses(tied, $"i", $"v")
      .as[(String, Long, Double, String)].collect().toSeq
    assert(t.map(_._1) == Seq("a", "b"), "equal values must rank by item id")
  }

  test("pctChange: first row and zero-prior rows yield null; hand deltas") {
    import graft.ops.TimeSeries
    val s = Seq((1, 10.0), (2, 15.0), (3, 15.0), (4, 0.0), (5, 5.0))
      .toDF("t", "y")
    val got = TimeSeries.pctChange(s, $"t", $"y")
      .select($"t", $"pct_change").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSeq
    assert(got == Seq(1 -> None, 2 -> Some(0.5), 3 -> Some(0.0),
      4 -> Some(-1.0), 5 -> None))
  }

  // --- brownForsythe ---------------------------------------------------

  test("brownForsythe: identical spreads -> F = 0; wider group -> F > 0; " +
      "deviations measured from group MEDIANS") {
    val equal = Seq(("a", 0.0), ("a", 1.0), ("a", 2.0),
      ("b", 10.0), ("b", 11.0), ("b", 12.0)).toDF("g", "v")
    val r1 = Stats.brownForsythe(equal, $"g", $"v")
      .select($"k", $"n", $"f_stat").as[(Long, Long, Option[Double])].head()
    assert(r1._1 == 2L && r1._2 == 6L && r1._3 == Some(0.0))

    val spread = Seq(("a", 0.0), ("a", 1.0), ("a", 2.0),
      ("b", 0.0), ("b", 20.0), ("b", 40.0)).toDF("g", "v")
    val r2 = Stats.brownForsythe(spread, $"g", $"v")
      .select($"f_stat").as[Option[Double]].head()
    assert(r2.exists(_ > 0.0), s"unequal spread must give F > 0, got $r2")
  }

  // --- sprt / bootstrapUpliftCI / precisionRecallAtK --------------------

  test("sprt: all-success evidence accepts H1, all-failure accepts H0, " +
      "llr is the exact cumulative closed form") {
    val win = (1 to 5).map(t => (t.toLong, 10L, 10L)).toDF("t", "x", "n")
    val got = Stats.sprt(win, $"t", $"x", $"n", p0 = 0.2, p1 = 0.8)
      .select($"t", $"llr", $"decision")
      .as[(Long, Double, String)].collect().toSeq
    // each period adds 10*ln(4); boundary ln(19) ~ 2.944 crossed at t=1
    assert(got.head._2 == r6(10 * math.log(0.8 / 0.2)))
    assert(got.head._3 == "accept_h1" && got.forall(_._3 == "accept_h1"))

    val lose = (1 to 5).map(t => (t.toLong, 0L, 10L)).toDF("t", "x", "n")
    val g2 = Stats.sprt(lose, $"t", $"x", $"n", p0 = 0.2, p1 = 0.8)
      .select($"decision").as[String].collect()
    assert(g2.forall(_ == "accept_h0"))

    val mid = Seq((1L, 5L, 10L)).toDF("t", "x", "n")
    val g3 = Stats.sprt(mid, $"t", $"x", $"n", p0 = 0.45, p1 = 0.55)
      .select($"decision").as[String].head()
    assert(g3 == "continue", "balanced evidence must keep sampling")
  }

  test("bootstrapUpliftCI: constant-by-side values give a degenerate CI " +
      "at the exact uplift with zero se") {
    val df = (1 to 40).map(i => (i.toLong, i % 2 == 0,
      if (i % 2 == 0) 10.0 else 0.0)).toDF("id", "side", "v")
    val r = Stats.bootstrapUpliftCI(df, "id", $"side", $"v", b = 16)
      .as[(Long, Long, Double, Double, Double, Option[Double], Double,
        Double)].head()
    assert(r._1 == 20L && r._2 == 20L)
    assert(r._3 == 10.0 && r._4 == 0.0 && r._5 == 10.0)
    assert(r._6 == Some(0.0) && r._7 == 10.0 && r._8 == 10.0)
  }

  test("precisionRecallAtK: hand group — P@10, R@10, AP follow the " +
      "trec_eval convention; relevant item beyond k hurts recall only") {
    val rows = (1 to 12).map { i =>
      // scores descend with i; relevant at ranks 1, 3 and 12
      (i.toLong, 100.0 - i, if (i == 1 || i == 3 || i == 12) 1.0 else 0.0)
    }.map { case (id, sc, rel) => ("g", id, sc, rel) }
      .toDF("g", "id", "score", "rel")
    val r = RankEval.precisionRecallAtK(rows, "g", $"score", $"rel", $"id")
      .as[(String, Long, Long, Double, Double, Boolean, Double)].head()
    assert(r._2 == 3L && r._3 == 2L)
    assert(r._4 == 0.2 && r._5 == r6(2.0 / 3.0) && r._6)
    assert(r._7 == r6((1.0 + 2.0 / 3.0) / 3.0))
  }

  // --- crossCorrByLag --------------------------------------------------

  test("crossCorrByLag: self-pair gives ccf(0) = 1; a shifted copy puts " +
      "the peak at the shift lag") {
    val xs = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0)
    val self = xs.zipWithIndex.map { case (v, i) => (i.toLong, v, v) }
      .toDF("t", "x", "y")
    val s = Stats.crossCorrByLag(self, $"t", $"x", $"y", maxLag = 2)
      .as[(Int, Long, Option[Double])].collect()
      .map(r => r._1 -> r._3).toMap
    assert(s(0) == Some(1.0))

    // y_t = x_{t-2}: x LEADS y by 2 -> peak at lag +2
    val shifted = xs.indices.drop(2).map(i =>
      (i.toLong, xs(i), xs(i - 2))).toDF("t", "x", "y")
    val c = Stats.crossCorrByLag(shifted, $"t", $"x", $"y", maxLag = 3)
      .as[(Int, Long, Option[Double])].collect()
      .map(r => r._1 -> r._3.getOrElse(0.0)).toMap
    assert(c(2) == c.values.max, s"peak must sit at lag +2: $c")
  }

  // --- durbinWatson / olsInfluence -------------------------------------

  test("durbinWatson: exact line -> zero residuals, null DW; alternating " +
      "residuals -> DW near 4 (negative autocorrelation)") {
    val line = (1 to 12).map(t => (t.toDouble, 2.0 * t + 1)).toDF("t", "y")
    val r1 = graft.ops.TimeSeries.durbinWatson(line, $"t", $"y")
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    assert(r1._2 == Some(2.0) && r1._3.isEmpty && r1._4.isEmpty)

    val alt = (1 to 40).map(t =>
      (t.toDouble, t + (if (t % 2 == 0) 1.0 else -1.0))).toDF("t", "y")
    val r2 = graft.ops.TimeSeries.durbinWatson(alt, $"t", $"y")
      .as[(Long, Option[Double], Option[Double], Option[Double])].head()
    assert(r2._3.exists(_ > 3.0), s"alternating residuals: dw=${r2._3}")
    assert(r2._4.exists(_ < -0.5), s"rho1 must be strongly negative: ${r2._4}")
  }

  test("olsInfluence: a bumped middle point owns the residual, endpoints " +
      "own the leverage") {
    val pts = (1 to 11).map { t =>
      (t.toDouble, 2.0 * t + (if (t == 6) 30.0 else 0.0))
    }.toDF("t", "y")
    val got = graft.ops.TimeSeries.olsInfluence(pts, $"t", $"y")
      .as[(Double, Double, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().toSeq
    val byT = got.map(r => r._1 -> r).toMap
    val maxCook = got.maxBy(_._6.getOrElse(0.0))
    assert(maxCook._1 == 6.0, s"bumped day must own max Cook's D: $maxCook")
    assert(byT(1.0)._5.get > byT(6.0)._5.get,
      "endpoint leverage must exceed center leverage")
    assert(byT(11.0)._5.get == byT(1.0)._5.get,
      "symmetric endpoints share leverage")
  }

  // --- partialCorrelation ----------------------------------------------

  test("partialCorrelation: y = x + z gives partial r_xy.z = 1 after " +
      "removing the confounder; raw r_xy below 1; constant z -> null") {
    val z = Seq(1.0, -1.0, 2.0, 0.0, 3.0, -2.0, 1.0, 0.0)
    val df = z.zipWithIndex.map { case (zv, i) =>
      val x = (i + 1).toDouble; (x, x + zv, zv)
    }.toDF("x", "y", "z")
    val r = Stats.partialCorrelation(df, $"x", $"y", $"z")
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].head()
    assert(r._1 == 8L)
    assert(r._5 == Some(1.0), s"partial r must be exactly 1, got ${r._5}")
    assert(r._2.exists(v => v > 0 && v < 1), s"raw r_xy should be <1: ${r._2}")

    val const = Stats.partialCorrelation(
      df.select($"x", $"y", lit(5.0).as("z")), $"x", $"y", $"z")
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].head()
    assert(const._5.isEmpty, "zero-variance confounder must yield null")
  }

  // --- woeIv -----------------------------------------------------------

  test("woeIv: hand 2-bin example — empty-side bin gets null WoE and " +
      "drops from IV; counts and shares exact") {
    val df = (1 to 10).map(v => (v.toDouble, v >= 4)).toDF("v", "y")
    val got = Stats.woeIv(df, $"v", $"y", nBins = 2)
      .select($"bin", $"n", $"n_bad", $"n_good", $"woe", $"iv_term",
        $"iv_total")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().toSeq
    // edges = [5.5]; bin0 = {1..5}: 2 bad 3 good; bin1 = {6..10}: all bad
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ==
      Seq((0L, 5L, 2L, 3L), (1L, 5L, 5L, 0L)))
    assert(got(1)._5.isEmpty && got(1)._6.isEmpty,
      "empty-good bin must yield null woe/iv_term")
    assert(got(0)._5 == Some(r6(math.log((2.0 / 7.0) / 1.0))))
    val ivTerm = r6((2.0 / 7.0 - 1.0) * r6(math.log(2.0 / 7.0)))
    assert(got(0)._6 == Some(ivTerm))
    assert(got.forall(_._7 == Some(ivTerm)), "iv_total repeats per bin")
  }

  // --- normalTwoSidedP / bhAdjust / kendallTau -------------------------

  test("normalTwoSidedP: 1 at z=0, ~0.05 at z=1.96, symmetric in sign") {
    val got = Seq(0.0, 1.959964, -1.959964, 3.0).toDF("z")
      .select(Stats.normalTwoSidedP($"z").as("p")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-8)
    assert(math.abs(got(1) - 0.05) < 1e-5)
    assert(got(1) == got(2), "two-sided p must ignore the sign of z")
    assert(got(3) < 0.004 && got(3) > 0.0)
  }

  test("bhAdjust: hand family of 4 — adjusted p is the reverse cummin " +
      "of p*m/rank, >= raw p, monotone in rank") {
    val fam = Seq(("a", 0.005), ("b", 0.011), ("c", 0.02), ("d", 0.8))
      .toDF("k", "p")
    val got = Stats.bhAdjust(fam, Seq("k"), $"p")
      .select($"k", $"p_raw", $"rank", $"p_bh", $"reject")
      .as[(String, Double, Long, Double, Boolean)].collect().toSeq
    assert(got.map(_._1) == Seq("a", "b", "c", "d"))
    assert(got.map(_._4) == Seq(0.02, 0.022, r6(0.02 * 4.0 / 3.0), 0.8))
    assert(got.map(_._5) == Seq(true, true, true, false))
    got.foreach { case (_, praw, _, pbh, _) => assert(pbh >= praw) }
    assert(got.map(_._4) == got.map(_._4).sorted, "p_bh must be monotone")
  }

  test("kendallTau: hand triples with and without ties; sign-flip " +
      "antisymmetry") {
    val plain = Seq((1.0, 1.0), (2.0, 3.0), (3.0, 2.0)).toDF("x", "y")
    val r1 = graft.ops.TimeSeries.kendallTau(plain, $"x", $"y")
      .as[(Long, Long, Long, Long, Option[Double])].head()
    assert(r1 == ((3L, 1L, 0L, 0L, Some(r6(1.0 / 3.0)))))

    val tied = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 2.0)).toDF("x", "y")
    val r2 = graft.ops.TimeSeries.kendallTau(tied, $"x", $"y")
      .as[(Long, Long, Long, Long, Option[Double])].head()
    assert(r2 == ((3L, 1L, 1L, 1L, Some(0.5))))

    val flipped = graft.ops.TimeSeries.kendallTau(
      plain.select($"x", (-$"y").as("y")), $"x", $"y")
      .as[(Long, Long, Long, Long, Option[Double])].head()
    assert(flipped._5 == Some(-r6(1.0 / 3.0)) && flipped._2 == -r1._2)

    val const = graft.ops.TimeSeries.kendallTau(
      plain.select($"x", lit(7.0).as("y")), $"x", $"y")
      .as[(Long, Long, Long, Long, Option[Double])].head()
    assert(const._5.isEmpty, "constant series must yield null tau")
  }

  test("kappa/gini/calibration: one map-side-combined data pass, windows " +
      "only over report-sized frames") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    for ((name, plan) <- Seq(
        "kappa" -> Stats.cohenKappa(docs, $"lang", $"source")
          .queryExecution.executedPlan.toString(),
        "gini" -> Stats.giniConcentration(docs, $"source")
          .queryExecution.executedPlan.toString(),
        "calibration" -> Stats.calibrationCurve(docs,
            ($"n_chars" % 1000).cast("double") / 1000.0, $"lang" === "en")
          .queryExecution.executedPlan.toString())) {
      assert(plan.contains("partial_"), s"$name lost partial aggregation:\n$plan")
    }
  }

  test("olsByGroup: exact fit recovers slope/intercept with r2=1; " +
      "degenerate groups emit nulls; one keyed pass, no window") {
    val rows = (0 until 5).map(t => ("up", t.toDouble, 2.0 * t + 1.0)) ++
      (0 until 5).map(t => ("flat", t.toDouble, 7.0)) ++
      Seq(("single", 0.0, 3.0))
    val got = graft.ops.TimeSeries.olsByGroup(
        rows.toDF("g", "t", "y"), "g", $"t", $"y")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("up") == ((5L, Some(2.0), Some(1.0), Some(1.0))))
    // zero y-variance: perfect zero slope but r2 undefined
    assert(got("flat") == ((5L, Some(0.0), Some(7.0), None)))
    // single point: zero t-variance, everything null
    assert(got("single") == ((1L, None, None, None)))
    val plan = graft.ops.TimeSeries.olsByGroup(
        rows.toDF("g", "t", "y"), "g", $"t", $"y")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("WindowExec") && plan.contains("partial_"),
      s"olsByGroup must be one map-side-combined aggregate:\n$plan")
  }

  test("RangeScan.rank: exact ranks and running sums in asc and " +
      "desc orders, invariant to input partitioning") {
    val rows = Seq(("a", 3L), ("b", 1L), ("c", 1L), ("d", 7L), ("e", 2L))
    def run(df: org.apache.spark.sql.DataFrame, desc: Boolean) = {
      val ord = if (desc) struct(-$"v", $"k") else struct($"v", $"k")
      graft.ops.RangeScan.rank(df, ord, Seq("v")).df
        .select($"k", $"__rank", $"__cum_v", $"__rows", $"__tot_v")
        .as[(String, Long, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    }
    val asc = run(rows.toDF("k", "v"), desc = false)
    // order: b(1) c(1) e(2) a(3) d(7); cums 1 2 4 7 14
    assert(asc == Seq(("b", 1L, 1L, 5L, 14L), ("c", 2L, 2L, 5L, 14L),
      ("e", 3L, 4L, 5L, 14L), ("a", 4L, 7L, 5L, 14L), ("d", 5L, 14L, 5L, 14L)))
    val desc = run(rows.toDF("k", "v"), desc = true)
    assert(desc.map(r => (r._1, r._2)) ==
      Seq(("d", 1L), ("a", 2L), ("e", 3L), ("b", 4L), ("c", 5L)))
    val repart = run(rows.toDF("k", "v").repartition(7), desc = false)
    assert(repart == asc, "rank/cumsum must not depend on input layout")
  }

  test("skyline2d: exact Pareto frontier with duplicate survivors, " +
      "partition-count invariant, empty input") {
    val pts = Seq((1.0, 5.0), (1.0, 5.0), (2.0, 3.0), (2.0, 4.0),
      (3.0, 3.0), (4.0, 1.0), (5.0, 2.0))
    val got = graft.ops.Skyline.skyline2d(pts.toDF("x", "y"), $"x", $"y",
        partitions = 3)
      .as[(Double, Double, Long)].collect().toSeq
    // (3,3) is beaten by (2,3) on x at equal y; (5,2) by (4,1) on both;
    // the duplicated (1,5) survives as one frontier row with count 2
    assert(got == Seq((1.0, 5.0, 2L), (2.0, 3.0, 1L), (4.0, 1.0, 1L)))
    val other = graft.ops.Skyline.skyline2d(pts.toDF("x", "y").repartition(5),
        $"x", $"y", partitions = 2)
      .as[(Double, Double, Long)].collect().toSeq
    assert(other == got, "skyline must not depend on partition layout")
    assert(graft.ops.Skyline.skyline2d(
      Seq.empty[(Double, Double)].toDF("x", "y"), $"x", $"y").count() == 0L)
  }

  test("mixShiftDecomposition: hand case satisfies the Oaxaca identity; " +
      "entering segments emit null effects") {
    val rows = Seq(("g1", true, 10.0), ("g1", true, 10.0),
      ("g1", false, 20.0),
      ("g2", true, 5.0), ("g2", true, 5.0),
      ("g2", false, 5.0), ("g2", false, 5.0), ("g2", false, 5.0),
      ("new", false, 9.0))
    val got = Stats.mixShiftDecomposition(rows.toDF("g", "side", "v"),
        "g", $"side", $"v")
      .as[(String, Long, Long, Double, Double, Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // ta=4, tb=5; g1: mix (1/5 - 1/2)*10 = -3.0, rate (1/5)*(20-10) = 2.0
    assert(got("g1")._8 == Some(-3.0) && got("g1")._9 == Some(2.0))
    val mixSum = got.values.flatMap(_._8).sum
    val rateSum = got.values.flatMap(_._9).sum
    // overall_B - overall_A = (20+5*3+9)/5 - (10*2+5*2)/4 = 44/5 - 7.5
    val delta = 44.0 / 5 - 7.5
    // "new" enters in B only: its mix/rate are null, so the identity holds
    // only up to the entering segment's contribution w_b*m_b = (1/5)*9
    assert(math.abs(mixSum + rateSum + (1.0 / 5) * 9.0 - delta) < 1e-9)
    assert(got("new")._8.isEmpty && got("new")._9.isEmpty)
  }

  test("cupedAdjustedMeans: perfectly-explained metric adjusts to equal " +
      "arm means and 100% variance reduction") {
    // y = 2x exactly: theta = 2, the entire A/B gap is covariate drift
    val rows = Seq((true, 1.0), (true, 2.0), (true, 3.0),
      (false, 4.0), (false, 5.0), (false, 6.0))
      .map { case (s, x) => (s, 2.0 * x, x) }
    val got = Stats.cupedAdjustedMeans(rows.toDF("side", "y", "x"),
        $"side", $"y", $"x")
      .as[(Boolean, Long, Double, Option[Double], Option[Double], Double,
        Option[Double], Option[Double])].collect().toSeq
    assert(got.map(_._1) == Seq(true, false), "A arm first")
    got.foreach { r =>
      assert(r._5 == Some(2.0), s"theta: $r")
      assert(r._4 == Some(7.0), s"adjusted mean must equalize arms: $r")
      assert(r._7 == Some(0.0) && r._8 == Some(100.0),
        s"perfect covariate must zero the adjusted variance: $r")
    }
  }

  test("brokenTrend: a clean level step splits exactly at the step; a " +
      "slope change reports the before/after fits consistently") {
    // step: y=0 days 0-9, y=10 days 10-19 -> max |CUSUM| uniquely at
    // day 9 (numer = -100i for i<=10, peak 1000); both sides flat
    val step = ((0 until 10).map(d => (d.toLong, 0.0)) ++
      (10 until 20).map(d => (d.toLong, 10.0))).toDF("day", "y")
    val s1 = graft.ops.TimeSeries.brokenTrend(step, $"day", $"y")
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])].head()
    assert(s1._1 == 9L && s1._2 == 10L && s1._3 == 10L, s1.toString)
    assert(s1._4 == Some(0.0) && s1._5 == Some(0.0) && s1._6 == Some(0.0))
    // zero y-variance per side: r2 undefined on both
    assert(s1._7.isEmpty && s1._8.isEmpty)
    // kink: flat then rising at slope 2 — wherever the CUSUM split lands,
    // the reported delta must equal the difference of the reported fits
    // and the rising side must fit at least as steep as the flat side
    val kink = ((0 until 10).map(d => (d.toLong, 5.0)) ++
      (10 until 20).map(d => (d.toLong, 5.0 + 2.0 * (d - 9)))).toDF("day", "y")
    val s2 = graft.ops.TimeSeries.brokenTrend(kink, $"day", $"y")
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])].head()
    assert(s2._2 + s2._3 == 20L)
    assert(s2._4.get < s2._5.get, s2.toString)
    assert(s2._6 == Some(math.rint((s2._5.get - s2._4.get) * 1e6) / 1e6))
  }

  test("cohensDByGroup: hand-computed d and Hedges' g; one-sided and " +
      "constant groups emit nulls") {
    // A=(1,2,3) B=(4,5,6): means 2/5, both variances 1, pooled 1,
    // d=-3, g=-3*(1-3/(4*6-9))=-2.4
    val rows = Seq(("x", true, 1.0), ("x", true, 2.0), ("x", true, 3.0),
      ("x", false, 4.0), ("x", false, 5.0), ("x", false, 6.0),
      ("onlyA", true, 1.0), ("onlyA", true, 2.0),
      ("const", true, 5.0), ("const", true, 5.0),
      ("const", false, 5.0), ("const", false, 5.0))
    val got = Stats.cohensDByGroup(rows.toDF("g", "side", "v"),
        "g", $"side", $"v")
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._7, r._8))).toMap
    assert(got("x") == ((3L, 3L, Some(-3.0), Some(-2.4))))
    assert(got("onlyA") == ((2L, 0L, None, None)))
    // identical constants on both sides: pooled sd 0 -> d undefined
    assert(got("const") == ((2L, 2L, None, None)))
  }
}
