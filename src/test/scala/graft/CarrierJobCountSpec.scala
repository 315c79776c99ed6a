package graft

import org.apache.spark.sql.DataFrame

import graft.io.Layout
import graft.obs.JobLog
import graft.ops.{Drift, EventAnalytics, Stats}
import graft.queries.WindowExtraQueries

/** Spark job counts of the prefix-scan carriers: the carrier call (its
  * snapshot and offsets collect run eagerly) plus one `collect()` of its
  * result, on a fixed fixture. The counts pin the number of barriers each
  * carrier pays, so a change to the shared scan that adds one fails here —
  * and they are the baseline a scan that folds its range sampling into the
  * snapshot has to beat. Jobs are recorded by [[JobLog.during]], so jobs of
  * other threads never count.
  */
class CarrierJobCountSpec extends SparkSpec {
  import spark.implicits._

  private def jobsOf(body: => DataFrame): Int = JobLog.during(spark)(body.collect())._2.size

  private lazy val xs = (1 to 400).map(i => (i % 97).toDouble).toDF("v")
  private lazy val ys = (1 to 300).map(i => (i % 53).toDouble + 0.5).toDF("v")
  private lazy val pairs = (1 to 400).map(i => ((i % 37).toDouble, (i * 7 % 41).toDouble))
    .toDF("x", "y")
  private lazy val weighted = (1 to 400)
    .map(i => (if (i % 5 == 0) "b" else "a", (i % 61).toDouble, (i % 7 + 1).toDouble))
    .toDF("g", "v", "w")
  private lazy val groups = (1 to 400).map(i => s"g${i * i % 61}").toDF("g")
  private lazy val items = (1 to 200).map(i => (s"i$i", BigDecimal(i % 23))).toDF("item", "v")
  private lazy val events = (1 to 400).map(i => (s"u${i % 71}",
      java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00"), (i % 13).toDouble,
      if (i % 3 == 0) "purchase" else "view"))
    .toDF("user_id", "ts", "value", "event_type")
  private lazy val docs = (1 to 400).map(i => (i.toLong, (i % 29).toLong)).toDF("doc_id", "w")

  // counts at the commit before the carriers shared RangeScan.prefix:
  // ks 10, w1 10, spearman 14, weightedMedian 13 — the shared scan added
  // no barrier, and weightedMedian's offsets and totals, once an RDD scan
  // each, now ride one local relation
  test("ksStatistic runs 10 Spark jobs") {
    assert(jobsOf(Drift.ksStatistic(xs, ys, $"v", partitions = 4)) == 10)
  }

  test("wasserstein1d runs 10 Spark jobs") {
    assert(jobsOf(Drift.wasserstein1d(xs, ys, $"v", partitions = 4)) == 10)
  }

  test("spearman runs 14 Spark jobs") {
    assert(jobsOf(Stats.spearman(pairs, $"x", $"y", partitions = 4)) == 14)
  }

  test("weightedMedian runs 12 Spark jobs") {
    assert(jobsOf(Stats.weightedMedian(weighted, "g", $"v", $"w", partitions = 4)) == 12)
  }

  // the rank callers, on RangeScan.rank since it replaced the DenseId and
  // Ranked scaffolds and balancedShards' zipWithIndex; counts before the
  // move: gini 10, lorenz 12, abc 10, rfm 24, q141 9, balancedShards 3.
  // rfm's three ranks now share one scan. q141 and balancedShards pay the
  // scan's window exchange (and balancedShards the range sample, snapshot
  // and offsets collect) that the per-partition ordinal paths did without.
  test("giniConcentration runs 10 Spark jobs") {
    assert(jobsOf(Stats.giniConcentration(groups, $"g")) == 10)
  }

  test("lorenzDeciles runs 12 Spark jobs") {
    assert(jobsOf(Stats.lorenzDeciles(groups, $"g")) == 12)
  }

  test("abcClasses runs 10 Spark jobs") {
    assert(jobsOf(Stats.abcClasses(items, $"item", $"v")) == 10)
  }

  test("rfm runs 15 Spark jobs") {
    assert(jobsOf(EventAnalytics.rfm(events, "user_id", "ts", $"value",
      $"event_type" === "purchase")) == 15)
  }

  test("q141 dense ids run 11 Spark jobs") {
    assert(jobsOf(WindowExtraQueries.q141DenseIds.fn(spark, sf001)) == 11)
  }

  test("balancedShards runs 8 Spark jobs") {
    assert(jobsOf(Layout.balancedShards(docs, "doc_id", "w", 8)) == 8)
  }
}
