package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Null statistics + the data-dependent column prune.
  *
  * Reference: preprocessing.py:79-85 (clean_missing_data drops any column whose
  * null fraction exceeds a threshold — the schema becomes data-dependent),
  * :404 (isna().sum()), model/project.py:41-47 (missing report).
  *
  * All per-column stats are computed in a SINGLE pass (one aggregate over all
  * columns), not one job per column — at 100 TB a per-column loop of jobs would
  * re-scan the table N times.
  */
object MissingData {

  private def nullFrac(c: String): Column =
    avg(when(col(c).isNull, 1.0).otherwise(0.0)).as(c)

  private def nullCnt(c: String): Column =
    sum(when(col(c).isNull, 1L).otherwise(0L)).as(c)

  /** One row: null fraction per column (pandas `df.isnull().mean()`). */
  def nullFractions(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    df.agg(nullFrac(cs.head), cs.tail.map(nullFrac): _*)
  }

  /** One row: null count per column (pandas `df.isna().sum()`). */
  def nullCounts(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    df.agg(nullCnt(cs.head), cs.tail.map(nullCnt): _*)
  }

  /** The two-pass prune: aggregate → collect tiny row → project.
    * Returns (prunedDf, droppedColumns) so callers can log/pin the decision
    * (SURVEY §7.4-3: thread the surviving-column set explicitly).
    */
  def cleanMissingData(df: DataFrame, threshold: Double): (DataFrame, Seq[String]) = {
    val fracRow = nullFractions(df).head()
    val dropped = df.columns.toSeq.filter(c => fracRow.getAs[Double](c) > threshold)
    (df.drop(dropped: _*), dropped)
  }
}
