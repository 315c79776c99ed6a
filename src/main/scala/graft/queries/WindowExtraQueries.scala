package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Skew
import graft.sim.Similarity

/** Additional window-function + array-aggregate coverage, and the salted
  * skew-safe aggregation (verified equal to the direct aggregate).
  */
object WindowExtraQueries extends QueryGroup {

  /** lag/lead/rank/dense_rank over per-customer order history. */
  val q34WindowSuite = QueryDef(
    "q34_window_suite",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wr = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
        .withColumn("price_rank", rank().over(wr))
        .withColumn("price_dense_rank", dense_rank().over(wr))
        .filter(col("o_custkey") < 100)
        .select("o_custkey", "o_orderkey", "prev_price", "next_key",
          "price_rank", "price_dense_rank")
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, prev_price, next_key,
        price_rank, price_dense_rank
      FROM (SELECT o_custkey, o_orderkey,
        lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_key,
        CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS price_rank,
        CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS price_dense_rank
        FROM orders) WHERE o_custkey < 100
      ORDER BY o_custkey, o_orderkey"""))

  /** Array aggregates over embeddings: per-label count + exact-decimal mean
    * vector norm (norms via the codegen DotProduct; per-row round → decimal
    * sum keeps the average order-independent). */
  val q53EmbeddingStats = QueryDef(
    "q53_embedding_stats",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("v", Similarity.asDouble(col("embedding")))
        .withColumn("nrm", round(sqrt(Similarity.dot(col("v"), col("v"))), 6))
      e.groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          (sum(col("nrm").cast("decimal(28,6)")).cast("double") / count(lit(1)))
            .as("avg_norm"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"))
        .orderBy("label")
    },
    Some("""WITH e AS (SELECT label,
        ROUND(sqrt(list_dot_product(
          list_transform(embedding, x -> CAST(x AS DOUBLE)),
          list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) AS nrm
      FROM embeddings)
      SELECT label, COUNT(*) AS n,
        CAST(SUM(CAST(nrm AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_norm,
        ROUND(MIN(nrm), 6) AS min_norm, ROUND(MAX(nrm), 6) AS max_norm
      FROM e GROUP BY label ORDER BY label"""))

  /** Salted two-stage aggregation — identical result to the direct groupBy
    * (the oracle computes the direct form), skew-safe by construction. */
  val q35SaltedAgg = QueryDef(
    "q35_salted_agg",
    (s, d) => Skew.saltedSumCount(Tables.lineitem(s, d), "l_returnflag", "l_quantity")
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
      CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_value,
      COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag NULLS FIRST"""))

  /** Salted join — big side salted, small side replicated saltFactor× —
    * identical result to the direct equi join (the oracle computes the
    * direct form); the salt spreads one hot supplier key over 16 reducers.
    */
  val q69SaltedJoin = QueryDef(
    "q69_salted_join",
    (s, d) => {
      val big = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val small = Tables.supplier(s, d)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      Skew.saltedJoin(big, small, "suppkey")
        .groupBy("s_nationkey")
        .agg(
          sum(col("l_quantity").cast("decimal(28,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("s_nationkey")
    },
    Some("""SELECT s_nationkey,
      CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
      COUNT(*) AS cnt
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** Type-2 SCD build (ops/Scd.scala): per-user event_type history becomes
    * versioned validity intervals — consecutive duplicates collapse, each
    * change opens a version with [valid_from, valid_to) and is_current on
    * the open tail. One shuffle on user_id (both windows share the
    * partitioning). Timestamps exported as epoch micros for the
    * cross-engine compare; the %10 user slice bounds verify output. */
  val q135Scd2 = QueryDef(
    "q135_scd2",
    (s, d) => {
      import graft.ops.Scd
      val ev = Tables.events(s, d).filter(col("user_id") % 10 === 0)
      Scd.scd2(ev, Seq("user_id"), "event_type", "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("valid_from"),
          unix_micros(col("valid_to")).as("valid_to"),
          col("version"), col("is_current"))
        .orderBy("user_id", "version")
    },
    Some("""WITH ev AS (
        SELECT user_id, event_type, ts, event_id FROM events
        WHERE user_id % 10 = 0),
      ch AS (
        SELECT user_id, event_type, ts, event_id,
          lag(event_type) OVER w AS prev,
          row_number() OVER w AS rn
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      v AS (
        SELECT user_id, event_type, ts, event_id FROM ch
        WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
      SELECT user_id, event_type,
        epoch_us(ts) AS valid_from,
        epoch_us(lead(ts) OVER w) AS valid_to,
        CAST(row_number() OVER w AS BIGINT) AS version,
        (lead(ts) OVER w IS NULL) AS is_current
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, version"""))

  /** Dense surrogate-key assignment (ops.RangeScan.rank): row_number-over-
    * global-ORDER-BY semantics WITHOUT the single-partition global window —
    * range partitions + per-partition running counts + broadcast prefix
    * offsets. The oracle IS the global window (DuckDB can afford it at
    * sf0.01). */
  val q141DenseIds = QueryDef(
    "q141_dense_ids",
    (s, d) => graft.ops.RangeScan.rank(Tables.orders(s, d).select("o_orderkey"),
        col("o_orderkey")).df
      .select(col("o_orderkey"), (col("__rank") - 1).as("dense_id"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
        CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS dense_id
      FROM orders ORDER BY o_orderkey"""))

  override val defs: Seq[QueryDef] = Seq(q34WindowSuite, q53EmbeddingStats,
    q35SaltedAgg, q69SaltedJoin, q135Scd2, q141DenseIds)
}
