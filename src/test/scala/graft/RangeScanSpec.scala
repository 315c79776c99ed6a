package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.ops.{RangeScan, Stats}

/** [[RangeScan.prefix]] against the naive global-window reference it
  * replaces: the same running sums, grand totals, row counts and boundary
  * successors, for every key arity, sum type and partition count —
  * including a hot key whose values span several range partitions. */
class RangeScanSpec extends SparkSpec {
  import spark.implicits._

  /** One row per (k1, k2, v): k1 = "h" is hot (60 values per k2), "x" and
    * "y" are small; `a` sums to bigint, `d` is decimal(28,6). */
  private lazy val fixture: DataFrame = {
    val rows = for {
      (k1, n) <- Seq(("h", 60), ("x", 5), ("y", 3))
      k2 <- 0 to 1
      i <- 1 to n
    } yield (k1, k2, i * 1.5 + k2, (i % 7 + 1).toLong,
      BigDecimal(i) * BigDecimal("1.250001"))
    rows.toDF("k1", "k2", "v", "a", "d")
      .withColumn("d", col("d").cast("decimal(28,6)"))
  }

  private def check(df: DataFrame, keys: Seq[String], partitions: Int): Unit = {
    val scan = RangeScan.prefix(df, keys, "v", Seq("a", "d"), partitions)
    val byKey = Window.partitionBy(keys.map(col): _*)
    val running = byKey.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = (keys :+ "v").map(col) ++ Seq("a", "d").flatMap(s =>
      Seq(col(s"__cum_$s"), col(s"__tot_$s"))) ++ Seq(col("__rows"), col("__succ"))
    val got = scan.df
      .withColumn("__succ", coalesce(lead(col("v"), 1).over(scan.window), col("__next")))
      .select(out: _*)
    val want = df
      .withColumn("__cum_a", sum(col("a")).over(running))
      .withColumn("__tot_a", sum(col("a")).over(byKey))
      .withColumn("__cum_d", sum(col("d")).over(running))
      .withColumn("__tot_d", sum(col("d")).over(byKey))
      .withColumn("__rows", count(lit(1)).over(byKey))
      .withColumn("__succ", lead(col("v"), 1).over(byKey.orderBy("v")))
      .select(out: _*)
    val ctx = s"keys=$keys partitions=$partitions"
    assert(got.schema("__cum_a").dataType == LongType, ctx)
    assert(got.schema("__cum_d").dataType == want.schema("__cum_d").dataType, ctx)
    assert(got.schema("__cum_d").dataType == DecimalType(38, 6), ctx)
    assert(got.collect().toSet == want.collect().toSet, ctx)

    val wantTotals = df.groupBy(keys.map(col): _*).agg(sum("a"), sum("d")).collect()
      .map(r => r.toSeq.take(keys.size) -> r.toSeq.drop(keys.size)).toMap
    assert(scan.totals == wantTotals, ctx)
    assert(scan.total("a") == df.agg(sum("a")).head().getLong(0), ctx)
  }

  for (keys <- Seq(Nil, Seq("k1"), Seq("k1", "k2")); partitions <- Seq(1, 3, 32))
    test(s"prefix matches the global-window reference: ${keys.size} key " +
        s"columns, $partitions partitions") {
      // without keys, v must be unique across the whole input: scan one
      // (k1, k2) slice
      val df = if (keys.isEmpty) fixture.filter($"k1" === "h" && $"k2" === 0) else fixture
      check(df, keys, partitions)
    }

  test("prefix: a hot key spans several range partitions") {
    for (partitions <- Seq(3, 32)) {
      val pids = RangeScan.prefix(fixture, Seq("k1"), "v", Seq("a"), partitions).df
        .filter($"k1" === "h").select("__pid").distinct().count()
      assert(pids > 1, s"hot key in $pids partition(s) at partitions=$partitions")
    }
  }

  test("prefix: an empty input has no totals and no rows") {
    val scan = RangeScan.prefix(fixture.filter(lit(false)), Seq("k1"), "v",
      Seq("a", "d"), 3)
    assert(scan.totals.isEmpty)
    assert(scan.total("a") == 0L)
    assert(scan.df.count() == 0L)
  }

  test("prefix rejects a sum that is not exact") {
    intercept[IllegalArgumentException] {
      RangeScan.prefix(fixture.withColumn("a", $"a".cast("double")), Nil, "v",
        Seq("a"), 3)
    }
  }

  test("weightedMedian: partition-count invariant on a dominant group") {
    // 600 values in the hot group, which 8 range partitions split; the
    // cold group sits in one
    val rows = (1 to 600).map(i => ("hot", (i * 37 % 600).toDouble, (i % 9 + 1).toDouble)) ++
      Seq(("cold", 1.0, 1.0), ("cold", 2.0, 5.0), ("cold", 3.0, 1.0))
    val df = rows.toDF("g", "v", "w")
    def run(p: Int): Seq[Row] =
      Stats.weightedMedian(df, "g", $"v", $"w", partitions = p).collect().toSeq
    val p1 = run(1)
    assert(run(8) == p1)
    // the lower weighted median on the driver: first value whose cumulative
    // weight reaches half the group total
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
      val sorted = rs.sortBy(_._2)
      val tot = sorted.map(_._3).sum
      val cums = sorted.map(_._3).scanLeft(0.0)(_ + _).tail
      Row(g, sorted.size.toLong, tot, sorted(cums.indexWhere(_ * 2 >= tot))._2)
    }
    assert(p1 == want)
  }
}
