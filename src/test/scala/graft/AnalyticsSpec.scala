package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.ops.{Drift, EventAnalytics, PageRank, Stats}

/** Unit semantics for the event-analytics + graph operators (q137-q140). */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val ts = (m: Int) => Timestamp.valueOf(f"2024-01-01 0${m / 60}%d:${m % 60}%02d:00")

  test("pagerank: ring graph converges to uniform ranks; mass sums to 1") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val ranks = PageRank.run(edges, iterations = 5).as[(String, Double)]
      .collect().toMap
    // symmetric out-degree-1 cycle: stationary distribution is uniform
    ranks.values.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-9))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
  }

  test("pagerank: a sink-heavy star ranks the hub above the leaves") {
    val edges = Seq(("l1", "hub"), ("l2", "hub"), ("l3", "hub"),
      ("hub", "l1")).toDF("src", "dst")
    val ranks = PageRank.run(edges, iterations = 10).as[(String, Double)]
      .collect().toMap
    assert(ranks("hub") > ranks("l2") && ranks("hub") > ranks("l3"))
  }

  test("resample+ffill: empty cells fill from the last populated cell, raw stays null") {
    val ev = Seq(
      (1L, ts(5), 10.0),   // hour 0 -> bucket 0
      (1L, ts(10), 30.0),  // hour 0 (max wins)
      (1L, ts(185), 7.0))  // hour 3 -> two empty cells between
      .toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts"))
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
    val got = EventAnalytics.resampleFfill(ev, "user_id", "ts", "value", 3600L)
      .orderBy("bucket")
      .select("bucket", "v", "v_ffill")
      .as[(Long, Option[Double], Double)].collect().toSeq
    assert(got == Seq(
      (base, Some(30.0), 30.0),
      (base + 3600, None, 30.0),
      (base + 7200, None, 30.0),
      (base + 10800, Some(7.0), 7.0)))
  }

  test("pagerank: 12 iterations — intra-loop checkpoint cadence keeps the plan bounded") {
    // ring graph: uniform stationary distribution, so the 12-iteration
    // result is exactly checkable; the run crosses the cadence (every 5)
    // twice, exercising the mid-loop lineage cuts
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")).toDF("src", "dst")
    val t0 = System.nanoTime()
    val ranks = PageRank.run(edges, iterations = 12).as[(String, Double)]
      .collect().toMap
    val elapsed = (System.nanoTime() - t0) / 1e9
    ranks.values.foreach(r => assert(math.abs(r - 0.25) < 1e-9))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
    // with unbounded lineage 12 nested join+agg rounds push analysis time
    // superlinear; the cadence keeps the whole run in interactive range
    assert(elapsed < 60.0, f"12-iteration pagerank took $elapsed%.1f s")
  }

  test("pagerank + a rank scan use the reliable checkpoint dir when one is configured") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
      // 12 iterations = intermediate checkpoints at i=5 and i=10 plus the
      // final one; each materialized checkpoint deletes its predecessor, so
      // exactly ONE rdd-* checkpoint dir may remain (the returned frame's)
      PageRank.run(edges, iterations = 12).count()
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(rddDirs == 1,
        s"expected 1 surviving checkpoint dir (the result's), found $rddDirs")
      graft.ops.RangeScan.rank(Seq(3, 1, 2).toDF("k"), $"k").df.count()
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(written > 0, "no reliable checkpoint files were written")
    } finally {
      // restore the shared session's localCheckpoint fallback for other
      // suites (checkpointDir is private[spark]; reflection is test-only)
      val f = sc.getClass.getDeclaredMethod("checkpointDir_$eq", classOf[Option[String]])
      f.invoke(sc, None)
    }
  }

  test("hits keeps one reliable checkpoint dir per role; a failed reclaim " +
      "of a superseded dir is logged, not thrown") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("ckpt_hits").toString
    sc.setCheckpointDir(dir)
    try {
      val edges = Seq(("a", "x"), ("b", "x"), ("a", "y")).toDF("src", "dst")
      val got = graft.ops.Hits.run(edges, iterations = 3).count()
      assert(got == 4)
      // the edge snapshot plus the latest hub and auth snapshots back the
      // result; the four superseded score snapshots were reclaimed
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(rddDirs == 3, s"expected 3 surviving checkpoint dirs, found $rddDirs")
      // a filesystem that cannot even be resolved is the harshest failure
      graft.ops.Snapshot.reclaim(spark, "nosuchfs://nowhere/rdd-0")
    } finally {
      val f = sc.getClass.getDeclaredMethod("checkpointDir_$eq", classOf[Option[String]])
      f.invoke(sc, None)
    }
  }

  test("resample+ffill: pre-1970 timestamps bucket with floor semantics, not truncation") {
    // -1800 s epoch: floor(-1800/3600) = -1 -> bucket -3600; truncation
    // toward zero would misplace it in bucket 0
    val ev = Seq(
      (1L, Timestamp.from(java.time.Instant.parse("1969-12-31T23:30:00Z")), 5.0),
      (1L, Timestamp.from(java.time.Instant.parse("1970-01-01T00:30:00Z")), 9.0))
      .toDF("user_id", "ts", "value")
    val got = EventAnalytics.resampleFfill(ev, "user_id", "ts", "value", 3600L)
      .orderBy("bucket").select("bucket", "v_ffill")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((-3600L, 5.0), (0L, 9.0)))
  }

  test("resample+ffill: a key spanning more cells than maxCellsPerKey fails fast") {
    val ev = Seq(
      (1L, Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")), 1.0),
      (1L, Timestamp.from(java.time.Instant.parse("2024-06-01T00:00:00Z")), 2.0))
      .toDF("user_id", "ts", "value")
    val e = intercept[Exception] {
      EventAnalytics.resampleFfill(ev, "user_id", "ts", "value",
        bucketSec = 1L, maxCellsPerKey = 1000L).count()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(_.contains("resampleFfill")), messages.mkString(" | "))
  }

  test("ksStatistic: identical samples -> 0; disjoint ranges -> 1; " +
      "known half-shift -> hand-computed sup") {
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val same = Drift.ksStatistic(a, a, $"v")
      .as[(Long, Long, Double)].head()
    assert(same == ((4L, 4L, 0.0)))

    val b = Seq(10.0, 11.0).toDF("v")
    val disjoint = Drift.ksStatistic(a, b, $"v")
      .as[(Long, Long, Double)].head()
    assert(disjoint == ((4L, 2L, 1.0)))

    // a={1,2,3,4}, b={3,4,5,6}: sup |Fa-Fb| at x=2 -> |0.5 - 0| = 0.5
    val c = Seq(3.0, 4.0, 5.0, 6.0).toDF("v")
    val shift = Drift.ksStatistic(a, c, $"v")
      .as[(Long, Long, Double)].head()
    assert(shift == ((4L, 4L, 0.5)))
  }

  test("ksStatistic: empty side -> null stat; many partitions agree with " +
      "the single-partition answer") {
    val a = Seq(1.0, 2.0).toDF("v")
    val empty = spark.emptyDataFrame.withColumn("v", lit(null).cast("double"))
    val r = Drift.ksStatistic(a, empty.filter(lit(false)), $"v")
      .select($"n_a", $"n_b", $"ks_stat".isNull).as[(Long, Long, Boolean)].head()
    assert(r == ((2L, 0L, true)))

    // prefix-sum correctness across many range partitions: 200 interleaved
    // values, partitions=8 vs partitions=1 must agree exactly
    val xs = (1 to 200).map(i => i.toDouble).toDF("v")
    val ys = (1 to 200).map(i => i.toDouble + 0.5).toDF("v")
    val p8 = Drift.ksStatistic(xs, ys, $"v", partitions = 8)
      .as[(Long, Long, Double)].head()
    val p1 = Drift.ksStatistic(xs, ys, $"v", partitions = 1)
      .as[(Long, Long, Double)].head()
    assert(p8 == p1, s"partitioned ECDF diverged: $p8 vs $p1")
    assert(p8._3 == 0.005) // sup is 1/200 at each interleave point
  }

  test("wasserstein1d: identical -> 0; constant shift -> the shift; " +
      "hand-computed mixed case; empty side -> null") {
    val a = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    assert(Drift.wasserstein1d(a, a, $"v")
      .as[(Long, Long, Double)].head() == ((4L, 4L, 0.0)))

    // b = a + 10: W1 of a pure translation is exactly the shift
    val b = Seq(11.0, 12.0, 13.0, 14.0).toDF("v")
    assert(Drift.wasserstein1d(a, b, $"v")
      .as[(Long, Long, Double)].head() == ((4L, 4L, 10.0)))

    // a={0,1}, b={0,3}: |Fa-Fb| = 0 on [0,1), 0.5 on [1,3) -> W1 = 1.0
    val c = Seq(0.0, 1.0).toDF("v")
    val e = Seq(0.0, 3.0).toDF("v")
    assert(Drift.wasserstein1d(c, e, $"v")
      .as[(Long, Long, Double)].head() == ((2L, 2L, 1.0)))

    val empty = spark.emptyDataFrame.withColumn("v", lit(null).cast("double"))
    val r = Drift.wasserstein1d(a, empty.filter(lit(false)), $"v")
      .select($"n_a", $"n_b", $"w1".isNull).as[(Long, Long, Boolean)].head()
    assert(r == ((4L, 0L, true)))
  }

  test("wasserstein1d: partition-count invariant (boundary successors " +
      "supplied across range-partition edges)") {
    val xs = (1 to 200).map(i => i.toDouble).toDF("v")
    val ys = (1 to 200).map(i => i.toDouble + 0.5).toDF("v")
    val p8 = Drift.wasserstein1d(xs, ys, $"v", partitions = 8)
      .as[(Long, Long, Double)].head()
    val p1 = Drift.wasserstein1d(xs, ys, $"v", partitions = 1)
      .as[(Long, Long, Double)].head()
    assert(p8 == p1, s"partitioned W1 diverged: $p8 vs $p1")
    assert(p8._3 == 0.5) // a translation by 0.5
  }

  test("userLifetimes + kaplanMeier: hand-computed curve with censoring") {
    import java.sql.Timestamp
    // day-granular events over a 30-day horizon: gmax = day 30
    def t(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    val events = Seq(
      (1L, t(1)), (1L, t(3)),    // dur 2, last day 3 < 23 -> churned
      (2L, t(1)), (2L, t(3)),    // dur 2, churned -> d(2)=2
      (3L, t(1)), (3L, t(6)),    // dur 5, churned
      (4L, t(1)), (4L, t(28)),   // dur 27, last day 28 > 23 -> censored
      (5L, t(30))                // dur 0, defines gmax, censored
    ).toDF("user_id", "ts")
    val curve = Stats.kaplanMeier(
        EventAnalytics.userLifetimes(events, "user_id", "ts", horizonDays = 7),
        $"duration_days", $"observed")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // risk sets: t=0 {all 5, censored 1}, t=2 {4 at risk, 2 die},
    // t=5 {2 at risk, 1 dies}, t=27 censored only (not emitted)
    // S(2) = 1 - 2/4 = 0.5; S(5) = 0.5 * (1 - 1/2) = 0.25
    assert(curve == Seq((2L, 4L, 2L, 0L, 0.5), (5L, 2L, 1L, 0L, 0.25)))
  }

  test("kaplanMeier: no censoring reduces to the empirical survival " +
      "function; total-death risk set drives S to 0") {
    val lt = Seq((1L, true), (2L, true), (3L, true), (4L, true))
      .toDF("dur", "obs")
    val got = Stats.kaplanMeier(lt, $"dur", $"obs")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._5) == Seq(0.75, 0.5, 0.25, 0.0))
    assert(got.map(_._2) == Seq(4L, 3L, 2L, 1L)) // n_risk depletes one by one
  }

  test("basket pairLift: hand-computed support/confidence/lift, presence " +
      "dedup, lift ordering, and the basket-size cap") {
    import graft.ops.Baskets
    // b1{A,A,B} (duplicate A must dedup), b2{A,B}, b3{A,C}, b4{B}
    val rows = Seq(
      (1L, "A"), (1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"), (4L, "B"))
      .toDF("b", "i")
    val got = Baskets.pairLift(rows, $"b", $"i", minCount = 1L, k = 10)
      .as[(String, String, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    // N=4, n_A=3, n_B=3, n_C=1; (A,B):2, (A,C):1
    // lift(A,B) = 4*2/9 = 0.888889; lift(A,C) = 4*1/3 = 1.333333
    assert(got == Seq(
      ("A", "C", 1L, 3L, 1L, 0.25, 0.333333, 1.333333),
      ("A", "B", 2L, 3L, 3L, 0.5, 0.666667, 0.888889)))

    // minCount=2 drops the singleton pair
    val filtered = Baskets.pairLift(rows, $"b", $"i", minCount = 2L, k = 10)
      .select("item_a", "item_b").as[(String, String)].collect().toSeq
    assert(filtered == Seq(("A", "B")))

    // a basket over the size cap vanishes from N, supports and pairs
    val withBig = rows.unionByName(
      Seq((9L, "A"), (9L, "B"), (9L, "C"), (9L, "D")).toDF("b", "i"))
    val capped = Baskets.pairLift(withBig, $"b", $"i", minCount = 1L,
        k = 10, maxBasketSize = 3)
      .as[(String, String, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(capped == got, "oversized basket must not perturb the stats")
  }

  test("seasonalDecompose: pure trend -> zero seasonal/residual; planted " +
      "period-3 pattern recovered exactly; edges have null trend") {
    import graft.ops.TimeSeries
    // pure linear trend: centered MA reproduces it, nothing else remains
    val lin = (1 to 9).map(i => (i, i.toDouble)).toDF("t", "y")
    val l = TimeSeries.seasonalDecompose(lin, $"t", $"y",
        pmod($"t" - 1, lit(3)), period = 3)
      .as[(Int, Double, Option[Double], Double, Option[Double])]
      .collect().toSeq
    assert(l.head._3.isEmpty && l.last._3.isEmpty, "edge trend must be null")
    l.filter(_._3.isDefined).foreach { case (t, _, tr, s, r) =>
      assert(tr.get == t.toDouble && s == 0.0 && r.get == 0.0,
        s"pure trend decomposed wrong at t=$t: ($tr, $s, $r)")
    }

    // planted [5,8,5] cycle: trend 6 everywhere, seasonal (-1, 2, -1)
    val cyc = (1 to 9).map(i =>
      (i, Seq(5.0, 8.0, 5.0)((i - 1) % 3))).toDF("t", "y")
    val c = TimeSeries.seasonalDecompose(cyc, $"t", $"y",
        pmod($"t" - 1, lit(3)), period = 3)
      .as[(Int, Double, Option[Double], Double, Option[Double])]
      .collect().toSeq
    c.filter(_._3.isDefined).foreach { case (t, _, tr, s, r) =>
      val wantS = Seq(-1.0, 2.0, -1.0)((t - 1) % 3)
      assert(tr.get == 6.0 && s == wantS && r.get == 0.0,
        s"cycle decomposed wrong at t=$t: ($tr, $s, $r)")
    }
  }

  test("cusumChangepoint: level shift located exactly, direction signed, " +
      "argmax tie breaks to the earliest period") {
    import graft.ops.TimeSeries
    // flat 0s then flat 10s: |CUSUM| peaks at the last pre-shift period
    val up = Seq((1, 0.0), (2, 0.0), (3, 0.0), (4, 10.0), (5, 10.0), (6, 10.0))
      .toDF("t", "y")
    val u = TimeSeries.cusumChangepoint(up, $"t", $"y")
      .as[(Long, Double, Int, Double, Int)].head()
    assert(u == ((6L, 5.0, 3, 15.0, 1)), s"upward shift mislocated: $u")

    // downward shift flips the sign
    val down = Seq((1, 10.0), (2, 10.0), (3, 0.0), (4, 0.0)).toDF("t", "y")
    val dn = TimeSeries.cusumChangepoint(down, $"t", $"y")
      .as[(Long, Double, Int, Double, Int)].head()
    assert(dn._3 == 2 && dn._5 == -1, s"downward shift mislocated: $dn")

    // symmetric two-point series: equal |CUSUM| -> earliest t wins
    val tie = Seq((1, 1.0), (2, 2.0)).toDF("t", "y")
    val tt = TimeSeries.cusumChangepoint(tie, $"t", $"y")
      .as[(Long, Double, Int, Double, Int)].head()
    assert(tt._3 == 1, s"tie must break to the earliest period: $tt")
  }

  test("holtSmooth: constant series -> level = const, trend -> 0; hand " +
      "two-step recursion; linear ramp tracked") {
    import graft.ops.TimeSeries
    val const = (1 to 10).map(i => (i, 5.0)).toDF("t", "y")
    val c = TimeSeries.holtSmooth(const, $"t", $"y")
      .as[(Int, Double, Double, Double)].collect().toSeq
    assert(c.forall(r => r._3 == 5.0 && r._4 == 0.0), s"constant series: $c")

    // hand: y=[10, 20], alpha=.5, beta=.3: l1=10 b1=0;
    // l2 = .5*20 + .5*10 = 15; b2 = .3*(15-10) + .7*0 = 1.5
    val two = Seq((1, 10.0), (2, 20.0)).toDF("t", "y")
    val h = TimeSeries.holtSmooth(two, $"t", $"y")
      .as[(Int, Double, Double, Double)].collect().toSeq
    assert(h == Seq((1, 10.0, 10.0, 0.0), (2, 20.0, 15.0, 1.5)))

    // long linear ramp: trend estimate converges near the true slope
    val ramp = (1 to 60).map(i => (i, 3.0 * i)).toDF("t", "y")
    val last = TimeSeries.holtSmooth(ramp, $"t", $"y")
      .as[(Int, Double, Double, Double)].collect().last
    assert(math.abs(last._4 - 3.0) < 0.2, s"ramp trend off: ${last._4}")

    // the report-size contract is ENFORCED: the O(n²) prefix refold must
    // refuse a series longer than maxRows instead of quietly going
    // quadratic on raw events
    val over = (1 to 20).map(i => (i, i.toDouble)).toDF("t", "y")
    val e = intercept[Exception] {
      TimeSeries.holtSmooth(over, $"t", $"y", maxRows = 10).collect()
    }
    assert(e.getMessage.contains("maxRows"), s"wrong guard error: $e")
    // and an in-bounds series is untouched by the guard column
    val ok = TimeSeries.holtSmooth(two, $"t", $"y", maxRows = 2)
      .as[(Int, Double, Double, Double)].collect().toSeq
    assert(ok == Seq((1, 10.0, 10.0, 0.0), (2, 20.0, 15.0, 1.5)))
  }

  test("triangleCount: hand graphs — triangle, star, K4; direction/dup/" +
      "self-loop cleaning") {
    import graft.ops.Graphs
    def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) =
      Graphs.triangleCount(edges.toDF("s", "d"), $"s", $"d")
        .as[(Long, Long, Long)].head()

    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 1L))) == ((3L, 3L, 1L)))
    // star: no triangles
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L))) == ((4L, 3L, 0L)))
    // K4: 4 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) == ((4L, 6L, 4L)))
    // reversed duplicates, repeats and self-loops collapse away
    assert(tri(Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (3L, 1L),
      (2L, 2L))) == ((3L, 3L, 1L)))
  }

  test("kCorePeel: triangle + pendant chain peels to the 2-core in two " +
      "rounds and then holds (fixpoint visible as equal rows)") {
    import graft.ops.Graphs
    // A-B-C triangle, C-D pendant, D-E tail; 2-core = the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("s", "d")
    val got = Graphs.kCorePeel(edges, $"s", $"d", k = 2, rounds = 3)
      .orderBy("round").as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0, 5L, 5L), // cleaned input
      (1, 4L, 4L), // E (deg 1) dropped, D-E edge gone
      (2, 3L, 3L), // D fell to deg 1, dropped with C-D
      (3, 3L, 3L))) // fixpoint: the triangle is the 2-core
  }

  test("vocabJaccardPairs: identical vocab -> 1, disjoint -> 0, hand " +
      "half-overlap") {
    val docs = Seq(
      ("s1", "a b c d"), ("s2", "a b c d"),  // identical
      ("s3", "c d e f"),                     // half-overlap with s1
      ("s4", "x y z w")                      // disjoint from s1
    ).toDF("source", "text")
    val got = Drift.vocabJaccardPairs(docs, $"source", $"text")
      .select("a", "b", "jaccard").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("s1", "s2")) == 1.0)
    assert(got(("s1", "s3")) == r6d(2.0 / 6.0))
    assert(!got.contains(("s1", "s4")), "disjoint pair must not emit a row")
  }

  private def r6d(x: Double): Double = math.round(x * 1e6) / 1e6

  test("rfm: quintile scores follow the planted metric order; label " +
      "concatenates; non-purchase users get monetary 0") {
    import java.sql.Timestamp
    def t(day: Int, k: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-$day%02d 00:0$k%d:00")
    // user i: i events, last on day i, one purchase worth 10*i (user 1
    // never purchases)
    val rows = (1 to 5).flatMap { u =>
      (1 to u).map { k =>
        val et = if (k == 1 && u > 1) "purchase" else "view"
        (u.toLong, t(u, k), et, 10.0 * u)
      }
    }.toDF("user_id", "ts", "event_type", "value")
    val got = EventAnalytics.rfm(rows, "user_id", "ts", col("value"),
        col("event_type") === "purchase")
      .as[(Long, Long, Long, Double, Int, Int, Int, String)].collect().toSeq
    // 5 users, 5 quintiles: user 5 is best on all axes
    assert(got.map(r => (r._1, r._5, r._6, r._7, r._8)) == Seq(
      (1L, 1, 1, 1, "111"), (2L, 2, 2, 2, "222"), (3L, 3, 3, 3, "333"),
      (4L, 4, 4, 4, "444"), (5L, 5, 5, 5, "555")))
    assert(got.head._4 == 0.0, "non-purchaser must have monetary 0")
    assert(got.map(_._2) == Seq(4L, 3L, 2L, 1L, 0L)) // recency vs day-5 edge
  }

  test("rfm: scores equal NTILE(5) over (metric, user_id) with ties, a null " +
      "user and metric orders that disagree") {
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until 23).flatMap { i =>
      val u = if (i == 7) None else Some(i.toLong)
      (0 to i % 4).map { k =>
        (u, Timestamp.valueOf(f"2024-01-${1 + i * 5 % 9}%02d 00:0$k%d:00"),
          if (k == 0 && i % 3 != 0) "purchase" else "view", (i * 7 % 5).toDouble)
      }
    }.toDF("user_id", "ts", "event_type", "value")
    val got = EventAnalytics.rfm(rows, "user_id", "ts", col("value"),
      col("event_type") === "purchase")
    // ties and the output order put the null user last, as the q202
    // oracle's default NULLS LAST does
    val user = col("user_id").asc_nulls_last
    def ntile5(c: org.apache.spark.sql.Column) =
      ntile(5).over(Window.orderBy(c, user))
    val want = got.select(col("user_id"), ntile5(col("recency_days").desc).as("r"),
        ntile5(col("frequency")).as("f"), ntile5(col("monetary")).as("m"))
      .orderBy(user)
    assert(got.select("user_id", "r", "f", "m").collect().toSeq == want.collect().toSeq)
    assert(got.filter(col("user_id").isNull).count() == 1)
  }

  test("funnelLatency: first-view to first-later-purchase deltas, exact " +
      "interpolated percentiles, pre-view purchases don't convert") {
    import java.sql.Timestamp
    def s(sec: Int): Timestamp = Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    val rows = Seq(
      (1L, s(0), "view"), (1L, s(100), "purchase"), (1L, s(500), "purchase"),
      (2L, s(10), "view"), (2L, s(310), "purchase"),
      (3L, s(50), "purchase"), (3L, s(60), "view") // purchase precedes view
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.funnelLatency(rows, "user_id", "ts",
        "event_type", "view", "purchase")
      .as[(Long, Double, Double)].head()
    // deltas {100, 300}: p50 = 200, p90 = 280 (linear interpolation)
    assert(got == ((2L, 200.0, 280.0)), s"latency stats: $got")
  }

  test("cvmStatistic: identical -> 0; hand-computed disjoint case; " +
      "partition-count invariant") {
    val a = Seq(1.0, 2.0).toDF("v")
    assert(Drift.cvmStatistic(a, a, $"v")
      .as[(Long, Long, Double)].head() == ((2L, 2L, 0.0)))

    // a={1,2}, b={3,4}: terms 0.25+1+0.25+0 = 1.5, scale 4/16 -> 0.375
    val b = Seq(3.0, 4.0).toDF("v")
    assert(Drift.cvmStatistic(a, b, $"v")
      .as[(Long, Long, Double)].head() == ((2L, 2L, 0.375)))

    val xs = (1 to 200).map(_.toDouble).toDF("v")
    val ys = (1 to 200).map(_ + 0.5).toDF("v")
    val p8 = Drift.cvmStatistic(xs, ys, $"v", partitions = 8)
      .as[(Long, Long, Double)].head()
    val p1 = Drift.cvmStatistic(xs, ys, $"v", partitions = 1)
      .as[(Long, Long, Double)].head()
    assert(p8 == p1, s"partitioned CvM diverged: $p8 vs $p1")
  }

  test("interArrival: hand-computed gaps within a (type, user) stream; " +
      "single-event streams contribute nothing") {
    import java.sql.Timestamp
    def s(sec: Int): Timestamp = Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    val rows = Seq(
      (1L, 100L, s(0), "A"), (1L, 101L, s(10), "A"), (1L, 102L, s(30), "A"),
      (2L, 103L, s(5), "A"),            // different user: no cross-user gap
      (3L, 104L, s(0), "B")             // single event: no gaps for B
    ).toDF("user_id", "event_id", "ts", "event_type")
    val got = EventAnalytics.interArrival(rows, "user_id", "ts",
        "event_type", "event_id")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    // gaps for A: {10, 20}: mean 15, var 50, cv = sqrt(50)/15, p50 15
    assert(got.size == 1 && got.head._1 == "A")
    val (_, n, mean, cv, p50) = got.head
    assert(n == 2L && mean == 15.0 && p50 == 15.0)
    assert(cv == math.round(math.sqrt(50.0) / 15.0 * 1e6) / 1e6)
  }

  test("markovEntropyRate: deterministic alternation -> 0; fair coin " +
      "chain -> ln 2") {
    import java.sql.Timestamp
    def t(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val alt = (0 until 9).map(i =>
      (1L, i.toLong, t(i), if (i % 2 == 0) "A" else "B"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val a = EventAnalytics.markovEntropyRate(alt, "user_id", "ts",
        "event_type", "event_id")
      .as[(Long, Long, Double, Double)].head()
    assert(a == ((8L, 2L, 0.0, math.round(math.log(2) * 1e6) / 1e6)))

    // A->A, A->B, B->A, B->B each exactly twice: H = ln 2
    val seq2 = "AABBAABB A".replace(" ", "")
    val coin = seq2.zipWithIndex.map { case (c, i) =>
      (1L, i.toLong, t(i), c.toString)
    }.toDF("user_id", "event_id", "ts", "event_type")
    val b = EventAnalytics.markovEntropyRate(coin, "user_id", "ts",
        "event_type", "event_id")
      .as[(Long, Long, Double, Double)].head()
    assert(b._3 == math.round(math.log(2) * 1e6) / 1e6, s"coin chain: $b")
  }

  test("transitionLatency: per-edge gap stats, no cross-user gaps") {
    import java.sql.Timestamp
    def s(sec: Int): Timestamp = Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    val rows = Seq(
      (1L, 1L, s(0), "A"), (1L, 2L, s(10), "B"), (1L, 3L, s(40), "A"),
      (2L, 4L, s(100), "A"), (2L, 5L, s(120), "B"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = EventAnalytics.transitionLatency(rows, "user_id", "ts",
        "event_type", "event_id")
      .as[(String, String, Long, Double, Double)].collect().toSeq
    // edges: A->B gaps {10, 20} (users 1, 2), B->A gap {30}
    assert(got == Seq(("A", "B", 2L, 15.0, 15.0), ("B", "A", 1L, 30.0, 30.0)))
  }

  test("processVariants: identical sequences collapse to one variant; " +
      "order respects (ts, tie); top-k cutoff total-ordered") {
    import java.sql.Timestamp
    def s(sec: Int): Timestamp = Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    val rows = Seq(
      (1L, 1L, s(0), "A"), (1L, 2L, s(1), "B"),
      (2L, 3L, s(0), "A"), (2L, 4L, s(1), "B"),
      // same timestamps, tie decides order: event_id 6 ("C") before 7 ("D")
      (3L, 6L, s(0), "C"), (3L, 7L, s(0), "D"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = EventAnalytics.processVariants(rows, "user_id", "ts",
        "event_type", "event_id", k = 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("A>B", 2L, 2L), ("C>D", 1L, 2L)))
  }

  test("theilSen: exact line recovered through one wild outlier; " +
      "mannKendall: monotone series maxes S, flat series zeroes it") {
    import graft.ops.TimeSeries
    // y = 2t + 1 except a wild spike at t=5: the median slope ignores it
    val ts = (1 to 9).map(i => (i, if (i == 5) 500.0 else 2.0 * i + 1))
      .toDF("t", "y")
    val (n, np, slope, icept) = TimeSeries.theilSen(ts, $"t", $"y")
      .as[(Long, Long, Double, Double)].head()
    assert(n == 9L && np == 36L && slope == 2.0 && icept == 1.0,
      s"robust line lost to the outlier: ($slope, $icept)")

    // strictly increasing: S = n(n-1)/2; z > 0
    val mono = (1 to 10).map(i => (i, i.toDouble)).toDF("t", "y")
    val mk = TimeSeries.mannKendall(mono, $"t", $"y")
      .as[(Long, Long, Double, Double)].head()
    assert(mk._2 == 45L && mk._4 > 2.0, s"monotone trend missed: $mk")

    // constant: S = 0, z = 0 (vs > 0 via... all ties -> vs = 0 -> null z)
    val flat = (1 to 6).map(i => (i, 7.0)).toDF("t", "y")
    val fk = TimeSeries.mannKendall(flat, $"t", $"y").collect()(0)
    assert(fk.getLong(fk.fieldIndex("s")) == 0L)
    assert(fk.isNullAt(fk.fieldIndex("z")),
      "an all-tied series has zero variance and no z")
  }

  test("jsdPairs: identical distributions -> 0; disjoint vocab -> ln 2") {
    val docs = Seq(
      ("s1", "a b c"), ("s2", "a b c"), // identical unigram dists
      ("s3", "x y z")                   // disjoint from both
    ).toDF("source", "text")
    val got = Drift.jsdPairs(docs, $"source", $"text")
      .as[(String, String, Double)].collect().toSeq
    val ln2 = math.round(math.log(2.0) * 1e6) / 1e6
    assert(got == Seq(("s1", "s2", 0.0), ("s1", "s3", ln2), ("s2", "s3", ln2)))
  }

  test("funnel: steps must occur strictly in order per entity") {
    val ev = Seq(
      // u1: full ordered funnel
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      // u2: purchase BEFORE click -> stops at click
      (2L, "view", ts(1)), (2L, "purchase", ts(2)), (2L, "click", ts(3)),
      // u3: never views -> counts in no step
      (3L, "click", ts(1)))
      .toDF("user_id", "event_type", "ts")
    val got = EventAnalytics.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("step")
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1, "view", 2L, round(2.0 / 3)),
      (2, "click", 2L, 1.0),
      (3, "purchase", 1L, 0.5)))
  }

  test("cohort retention: offsets are relative to each entity's first week") {
    val wk = (w: Int, d: Int) => new Timestamp(
      (19723L + w * 7 + d) * 86400L * 1000L) // epoch-day aligned
    val ev = Seq(
      (1L, wk(0, 0)), (1L, wk(0, 1)), (1L, wk(2, 0)), // cohort w, offsets 0,0,2
      (2L, wk(1, 0)), (2L, wk(2, 0)))                 // cohort w+1, offsets 0,1
      .toDF("user_id", "ts")
    val got = EventAnalytics.cohortRetention(ev, "user_id", "ts")
      .orderBy("cohort_week", "offset_weeks")
      .as[(Long, Long, Long)].collect().toSeq
    val offsets = got.map { case (_, off, n) => (off, n) }
    assert(offsets == Seq((0L, 1L), (2L, 1L), (0L, 1L), (1L, 1L)))
  }

  test("psiTimeline: window matching the reference mix scores 0; a window " +
      "missing a bucket gets the densified eps term") {
    // overall ref: bucket 0 -> 4 rows, bucket 1 -> 2 rows (q = 2/3, 1/3)
    // w=1 matches ref exactly (2:1); w=2 is all-bucket-0 (densified 1:eps)
    val rows = Seq(
      (1L, 0L), (1L, 0L), (1L, 1L),
      (2L, 0L), (2L, 0L), (2L, 1L)).toDF("w", "bucket")
    val same = Drift.psiTimeline(rows, $"w", $"bucket")
      .as[(Long, Long, Double)].collect().toSeq
    assert(same == Seq((1L, 3L, 0.0), (2L, 3L, 0.0)))

    val skewed = Seq(
      (1L, 0L), (1L, 0L), (1L, 1L), (1L, 1L),
      (2L, 0L), (2L, 0L)).toDF("w", "bucket")
    val got = Drift.psiTimeline(skewed, $"w", $"bucket")
      .as[(Long, Long, Double)].collect()
      .map { case (w, _, psi) => (w, psi) }.toMap
    // hand-computed with the op's own rounding: per-term round 6, sum, round 6
    def term(p: Double, q: Double): Double = round((p - q) * math.log(p / q))
    val q0 = 4.0 / 6; val q1 = 2.0 / 6; val eps = 1e-6
    val w1 = round(term(0.5, q0) + term(0.5, q1))
    val w2 = round(term(1.0, q0) + term(eps, q1))
    assert(math.abs(got(1L) - w1) < 1e-9, s"w1: ${got(1L)} vs $w1")
    assert(math.abs(got(2L) - w2) < 1e-9, s"w2: ${got(2L)} vs $w2")
    assert(got(2L) > got(1L), "missing-bucket window must out-drift the near-ref one")
  }

  test("rollingAnomalies: spike vs trailing window flagged, stable value and " +
      "short history not") {
    val ev = (1 to 6).map(i =>
        (100L + i, 1L, ts(i), if (i % 2 == 0) 12.0 else 10.0)) ++ Seq(
      (107L, 1L, ts(7), 100.0),  // spike: prior mean 11, var 1.2 -> z ~ 81
      (108L, 1L, ts(8), 11.0),   // inlier continuation
      (201L, 2L, ts(1), 10.0), (202L, 2L, ts(2), 20.0),
      (203L, 2L, ts(3), 999.0))  // only 2 prior events -> below minPrior
    val df = ev.toDF("event_id", "user_id", "ts", "value")
    val got = EventAnalytics.rollingAnomalies(df, "user_id", "ts", "value",
        tieCol = "event_id")
      .select("event_id", "z").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(107L))
    // prior 6 values: s=66, s2=732, mean=11, var=(732-726)/5=1.2
    val expected = round((100.0 - 11.0) / math.sqrt(1.2))
    assert(got.head._2 == expected, s"z: ${got.head._2} vs $expected")
  }

  test("rollingAnomalies: window is keyed by entity, never a global sort") {
    val df = (1 to 100).map(i => (i.toLong, (i % 7).toLong, ts(i % 59), i * 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val plan = EventAnalytics.rollingAnomalies(df, "user_id", "ts", "value",
        tieCol = "event_id")
      .queryExecution.executedPlan.toString()
    val win = plan.linesIterator.filter(_.contains("windowspecdefinition"))
      .mkString("\n")
    assert(win.contains("user_id"), s"anomaly window lost its entity key:\n$win")
  }

  test("ecdfTable: exact ECDF with ties, partition-count invariant, " +
      "ends at exactly 1") {
    val xs = Seq(5.0, 1.0, 3.0, 3.0, 2.0, 5.0, 5.0, 4.0)
    val df = xs.toDF("v")
    val got = Drift.ecdfTable(df, $"v", partitions = 4)
      .as[(Double, Long, Double)].collect().toSeq
    assert(got == Seq((1.0, 1L, 0.125), (2.0, 1L, 0.25), (3.0, 2L, 0.5),
      (4.0, 1L, 0.625), (5.0, 3L, 1.0)))
    val other = Drift.ecdfTable(df.repartition(7), $"v", partitions = 2)
      .as[(Double, Long, Double)].collect().toSeq
    assert(other == got, "ECDF must not depend on the partition layout")
  }

  test("equiDepthHistogram: integer-exact cuts, ties stay in one bucket, " +
      "partition-count invariant, counts sum to n") {
    // 8 rows, 4 buckets of 2 — except the 3-way tie at 5.0 which must
    // land whole in its cum-rank bucket
    val xs = Seq(5.0, 1.0, 3.0, 3.0, 2.0, 5.0, 5.0, 4.0)
    val got = Drift.equiDepthHistogram(xs.toDF("v"), $"v",
        nBuckets = 4, partitions = 3)
      .as[(Int, Double, Double, Long)].collect().toSeq
    // cum(1)=1->b1, cum(2)=2->b1, cum(3)=4->b2, cum(4)=5->b3, cum(5)=8->b4
    assert(got == Seq((1, 1.0, 2.0, 2L), (2, 3.0, 3.0, 2L),
      (3, 4.0, 4.0, 1L), (4, 5.0, 5.0, 3L)))
    assert(got.map(_._4).sum == xs.size.toLong)
    val other = Drift.equiDepthHistogram(xs.toDF("v").repartition(5), $"v",
        nBuckets = 4, partitions = 2)
      .as[(Int, Double, Double, Long)].collect().toSeq
    assert(other == got, "histogram must not depend on partition layout")
    assert(Drift.equiDepthHistogram(Seq.empty[Double].toDF("v"), $"v")
      .count() == 0L)
  }

  test("topKChurn: consecutive-day leaderboard Jaccard with count-desc " +
      "subject-asc tie-break") {
    def at(day: Long, i: Int) =
      new java.sql.Timestamp(day * 86400000L + i * 1000L)
    // day 0 board (k=2): users 1 (3 events), 2 (2) ; user 3 (1) misses
    // day 1 board: users 2 (3 events), 3 (2)  -> shared {2}, jaccard 1/3
    val rows =
      (0 until 3).map(i => (at(0, i), 1L)) ++
      (0 until 2).map(i => (at(0, 10 + i), 2L)) ++ Seq((at(0, 20), 3L)) ++
      (0 until 3).map(i => (at(1, i), 2L)) ++
      (0 until 2).map(i => (at(1, 10 + i), 3L)) ++ Seq((at(1, 20), 4L))
    val got = EventAnalytics.topKChurn(rows.toDF("ts", "user_id"),
        $"ts", $"user_id", k = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, 2L, 2L, 1L, round(1.0 / 3.0))))
  }

  test("audienceOverlap: exact pairwise shared-subject counts, zero-" +
      "overlap pairs densified to 0") {
    val rows = Seq((1L, "a"), (1L, "b"), (2L, "a"), (3L, "b"), (4L, "a"),
      (4L, "c"), (4L, "a")) // duplicate (4,a) must not double-count
      .toDF("u", "c")
    val got = EventAnalytics.audienceOverlap(rows, $"u", $"c")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("a", "b", 3L, 2L, 1L, 0.25),
      ("a", "c", 3L, 1L, 1L, round(1.0 / 3.0)),
      ("b", "c", 2L, 1L, 0L, 0.0)))
  }

  test("topSequences: contiguous trigrams per user with distinct-subject " +
      "support; sequences never cross users") {
    val rows = Seq(
      (1L, 1L, ts(1), "a"), (2L, 1L, ts(2), "b"), (3L, 1L, ts(3), "c"),
      (4L, 1L, ts(4), "b"), (5L, 1L, ts(5), "c"),
      (6L, 2L, ts(1), "a"), (7L, 2L, ts(2), "b"), (8L, 2L, ts(3), "c"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics.topSequences(rows, "user_id", "ts",
        "event_type", tieCol = "event_id")
      .as[(String, String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", "b", "c", 2L, 2L),
      ("b", "c", "b", 1L, 1L),
      ("c", "b", "c", 1L, 1L)))
  }

  test("hits: hand bipartite graph — 2 unrolled iterations, L1-normalized " +
      "sides sum to 1, better-connected nodes score higher") {
    val edges = Seq(("a", "x"), ("b", "x"), ("a", "y")).toDF("src", "dst")
    val got = graft.ops.Hits.run(edges, iterations = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))
    // iter1: h=(2/3,1/3); a(x)=1, a(y)=2/3 -> (0.6, 0.4)
    // iter2: h raw=(1.0, 0.6) -> (0.625, 0.375); a raw=(1.0, 0.625)
    //        -> (0.615384615385, 0.384615384615)
    val byKey = got.map(t => (t._1, t._2) -> t._3).toMap
    assert(byKey(("hub", "a")) == 0.625 && byKey(("hub", "b")) == 0.375)
    assert(byKey(("auth", "x")) == 0.615384615385)
    assert(byKey(("auth", "y")) == 0.384615384615)
    val sums = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    sums.values.foreach(s => assert(math.abs(s - 1.0) < 1e-9))
  }

  test("sloBurnRate: short-window blip with a calm long window is " +
      "suppressed; sustained burn in both windows alerts") {
    def at(hour: Long, i: Int) = new Timestamp(hour * 3600000L + i * 1000L)
    // hour 0: 2/4 errors (burn 2.0) but block 0 overall 2/8 (burn 1.0,
    // not > 1) -> suppressed; hour 6: 4/4 errors, block 1 all-error -> alert
    val rows =
      (0 until 4).map(i => (at(0, i), i < 2)) ++
      (0 until 4).map(i => (at(1, i), false)) ++
      (0 until 4).map(i => (at(6, i), true))
    val df = rows.toDF("ts", "is_err")
    val got = EventAnalytics.sloBurnRate(df, $"ts", $"is_err", budget = 0.25)
      .as[(Long, Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      (0L, 4L, 2L, 2.0, 1.0, false),
      (1L, 4L, 0L, 0.0, 1.0, false),
      (6L, 4L, 4L, 4.0, 4.0, true)))
  }

  test("sloBurnRate: one map-side-combined pass over events, long side " +
      "broadcast") {
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val plan = EventAnalytics.sloBurnRate(graft.Tables.normalizeTs(ev),
        $"ts", $"event_type" === "error", budget = 0.25)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("partial_count"), s"slo burn lost partial agg:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"long window not broadcast:\n$plan")
  }

  private def round(x: Double): Double = math.round(x * 1e6) / 1e6
}
