package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining: which item pairs appear together in
  * the same basket more often than independence predicts? The classic
  * association-rule screen (support / confidence / lift) a merchandising or
  * corpus-mixing pipeline runs to find "bought-together" parts or
  * "co-occurring" tags.
  *
  * Scale shape: presence dedup + per-basket self-join are both keyed on the
  * basket id (two aligned shuffles AQE can chain; skew-join handles a
  * mega-basket), pair counts partial-aggregate map-side, and the item
  * supports are a vocab-sized broadcast probed twice. Pair work is
  * Σ|basket|² — bounded by the natural basket size (line items per order),
  * NEVER corpus² — and `maxBasketSize` hard-caps a pathological basket
  * before the quadratic step.
  */
object Baskets {

  /** Top-k item pairs by lift. Returns (item_a, item_b, n_ab, n_a, n_b,
    * support, confidence, lift) ordered by (lift desc, item_a, item_b) —
    * all three ratios rounded to 6, ordered AFTER rounding so the k-cutoff
    * is engine-independent.
    *
    *  - support    = n_ab / N   (N = #baskets)
    *  - confidence = n_ab / n_a (P(b | a), directional a→b with a < b)
    *  - lift       = N·n_ab / (n_a·n_b)  (>1 ⇒ positive association)
    *
    * `minCount` drops singleton pairs (lift of a once-seen pair is pure
    * noise); baskets larger than `maxBasketSize` are excluded entirely
    * (a degenerate basket containing half the catalog would both blow the
    * quadratic pair step and carry no association signal).
    */
  def pairLift(df: DataFrame, basket: Column, item: Column,
      minCount: Long = 2L, k: Int = 20,
      maxBasketSize: Int = 1000): DataFrame = {
    // r14: spread an under-partitioned scan before the presence distinct —
    // a one-split input serializes the partial-distinct map stage on one
    // core (no-op on well-split inputs; distinct is order-independent)
    val presenceRaw = graft.ops.Spread.forHeavyStage(
        df.filter(basket.isNotNull && item.isNotNull)
          .select(basket.as("b"), item.as("i")),
        col("b"), col("i"))
      .distinct()
    // snapshot: presence feeds N, the supports, and BOTH self-join sides
    val presence = Snapshot.eager(presenceRaw)
    val keptBaskets = presence.groupBy("b").agg(count(lit(1)).as("__bs"))
      .filter(col("__bs") <= maxBasketSize)
      .select("b")
    val sized = presence.join(keptBaskets, "b")
    val nBaskets = keptBaskets.agg(count(lit(1)).as("__N"))
    val supports = sized.groupBy(col("i")).agg(count(lit(1)).as("n_i"))
    val lhs = sized.select(col("b"), col("i").as("item_a"))
    val rhs = sized.select(col("b"), col("i").as("item_b"))
    val pairs = lhs.join(rhs, Seq("b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val withSupports = pairs
      .join(broadcast(supports.select(col("i").as("item_a"), col("n_i").as("n_a"))),
        "item_a")
      .join(broadcast(supports.select(col("i").as("item_b"), col("n_i").as("n_b"))),
        "item_b")
      .crossJoin(broadcast(nBaskets))
    val nD = col("__N").cast("double")
    withSupports
      .withColumn("support", round(col("n_ab").cast("double") / nD, 6))
      .withColumn("confidence",
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6))
      .withColumn("lift",
        round(nD * col("n_ab").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6))
      .select("item_a", "item_b", "n_ab", "n_a", "n_b",
        "support", "confidence", "lift")
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(k)
  }
}
