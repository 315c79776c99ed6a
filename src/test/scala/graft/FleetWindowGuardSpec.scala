package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._

/** Fleet-wide scale guard: NO registered query may plan a WindowExec with
  * an empty partition spec over a data-sized input. The single-partition
  * global window is the canonical 100 TB killer (every row through one
  * task), and per-query guards don't prevent the NEXT operator from
  * sneaking one in — round 7's q202 RFM shipped three global ntile sorts
  * over the per-user table exactly because only a handful of queries had
  * individual window guards.
  *
  * Every query in the registry is planned at sf0.001 and its physical plan
  * (descending through AQE wrappers and subqueries) is swept for
  * unpartitioned WindowExec / WindowGroupLimitExec nodes. Queries that
  * legitimately window a BOUNDED report frame (≤#days daily series,
  * ≤#buckets histograms, ≤#hypotheses test families, …) are whitelisted
  * below WITH the bound that justifies them; an entry that stops matching
  * fails the sweep too, so the whitelist cannot rot.
  */
class FleetWindowGuardSpec extends SparkSpec {

  /** Queries with a documented BOUNDED global window. The value names the
    * frame the window runs over — the reviewable claim that its row count
    * does not scale with data volume. Data-sized frames (per-user,
    * per-item, per-doc) are NOT acceptable here: q202's RFM, q167's gini,
    * q200's lorenz and q210's ABC all rank through RangeScan.rank's
    * range-partitioned prefix scan instead of being whitelisted. */
  private val allowedGlobalWindows: Map[String, String] = Map(
    "q03_value_counts_pct" -> "≤5 o_orderpriority category values",
    "q107_vocab_coverage" -> "top-k=20 rows post-limit",
    "q110_rrf_fusion" -> "top-k=20 ranker candidates post-limit",
    "q116_mix_tokens" -> "≤#sources mixture table",
    "q119_temperature_mix" -> "≤#sources mixture table",
    "q144_psi_drift" -> "≤#psi-buckets histogram",
    "q152_stratified_sample" -> "≤#strata allocation table",
    "q153_psi_timeline" -> "≤#days×#buckets timeline histogram",
    "q156_chi_square" -> "≤#cells contingency table",
    "q159_benford" -> "9 leading digits",
    "q165_psi_categorical" -> "≤#category-buckets histogram",
    "q168_calibration" -> "≤10 calibration bins",
    "q174_mutual_info" -> "≤#cells contingency table",
    "q176_growth_curve" -> "≤#days daily series",
    "q185_acf" -> "≤#days daily series",
    "q187_kaplan_meier" -> "≤#distinct-duration-days survival table",
    "q188_budget_waterfill" -> "≤#sources allocation table",
    "q193_seasonal" -> "≤#days daily series",
    "q194_cusum" -> "≤#days daily series",
    "q196_holt" -> "≤#days daily series",
    "q206_entropy_rate" -> "≤#event-type² transition matrix",
    "q209_wow" -> "≤#weeks weekly series",
    "q217_bh_fdr" -> "≤20 hypotheses (event_type × seg family)",
    "q225_woe_iv" -> "≤#woe-buckets table",
    "q228_durbin_watson" -> "≤#days daily residual series",
    "q229_ols_influence" -> "≤#days daily residual series",
    "q233_sprt" -> "≤#days daily series",
    "q240_gains_chart" -> "≤10 score bands",
    "q242_seasonal_anomaly" -> "≤#days daily series",
    "q243_cross_corr" -> "≤#days daily series (lag axis ≤11)",
    "q244_holt_backtest" -> "≤#days daily series",
    "q251_punch_card" -> "≤168 weekday×hour cells",
    "q260_broken_trend" -> "≤#days daily series (CUSUM split)",
    "q265_det_leaderboard" -> "≤|zoo| model rows (the leaderboard rank)",
    "q80_mix_rates" -> "≤#sources mixture table")

  private def globalWindows(p: SparkPlan): Seq[String] = {
    val here = p.collectWithSubqueries {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq("WindowExec[" +
          w.windowExpression.map(_.sql).mkString(";").take(100) + "]")
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Seq("WindowGroupLimitExec")
      case a: AdaptiveSparkPlanExec => globalWindows(a.executedPlan)
      case q: QueryStageExec => globalWindows(q.plan)
    }
    here.flatten
  }

  test("sweep: no unpartitioned WindowExec outside the documented " +
      "report-frame whitelist, across every registered query") {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val matchedAllowed = scala.collection.mutable.Set[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val wins =
        try globalWindows(fn(spark, sf001).queryExecution.executedPlan)
        catch { case e: Throwable =>
          offenders += s"$name: failed to plan (${e.getClass.getSimpleName}: ${e.getMessage})"
          Seq.empty
        }
      if (wins.nonEmpty) {
        if (allowedGlobalWindows.contains(name)) matchedAllowed += name
        else offenders += s"$name: ${wins.mkString(", ")}"
      }
    }
    val stale = allowedGlobalWindows.keySet -- matchedAllowed
    assert(offenders.isEmpty,
      s"unpartitioned global windows outside the whitelist:\n  " +
        offenders.mkString("\n  "))
    assert(stale.isEmpty,
      s"whitelist entries no longer matching any global window " +
        s"(remove them): ${stale.mkString(", ")}")
  }

  test("detector: a deliberately-injected global window is caught") {
    val df = spark.read.parquet(s"$sf001/events.parquet")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("ts")))
    val wins = globalWindows(df.queryExecution.executedPlan)
    assert(wins.nonEmpty, "sweep failed to flag a global row_number window")
  }

  test("detector: a partitioned window is NOT flagged") {
    val df = spark.read.parquet(s"$sf001/events.parquet")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts")))
    val wins = globalWindows(df.queryExecution.executedPlan)
    assert(wins.isEmpty, s"partitioned window wrongly flagged: $wins")
  }
}
