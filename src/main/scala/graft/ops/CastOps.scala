package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cast / impute / clip semantics. Reference: preprocessing.py:50, 91-102,
  * 459, 546-550, 556-580 (see SURVEY §2.7 F11-F14).
  */
object CastOps {

  /** pandas `pd.to_numeric(errors='coerce')` — parse failure yields null. */
  def toNumericCoerce(c: Column): Column = c.cast("string").try_cast("double")

  /** Intent of `replace_nan_with_false` (preprocessing.py:50). The reference's
    * actual `astype(bool)` maps NaN→True — a bug; we implement the *intent*
    * (null→false) and pin the divergence in tests (SURVEY §7.4-1).
    */
  def nullToFalse(c: Column): Column = coalesce(c.cast("boolean"), lit(false))

  /** notna() → int flag (preprocessing.py:246-248). */
  def notNullFlag(c: Column): Column = c.isNotNull.cast("int")

  /** Winsorize: clip to [lo, hi] (preprocessing.py:556-580). Bounds come from
    * an exact-percentile aggregate collected at the driver (two-pass shape,
    * SURVEY §3.2 barrier 3').
    */
  def clip(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  /** Compute [pLo, pHi] exact percentiles of `column` and clip it in place.
    * An all-null column has no percentiles — returned unchanged (pandas clip
    * with NaN bounds is likewise a no-op).
    */
  def winsorize(df: DataFrame, column: String, pLo: Double, pHi: Double): DataFrame =
    winsorizeMany(df, Seq((column, pLo, pHi)))

  /** Winsorize several columns with ONE aggregate pass: all bound pairs are
    * collected in a single job, then every clip fuses into one projection.
    * A per-column loop would scan the (100 TB) frame once per column.
    */
  def winsorizeMany(df: DataFrame, specs: Seq[(String, Double, Double)]): DataFrame = {
    if (specs.isEmpty) return df
    val aggs = specs.map { case (c, lo, hi) =>
      expr(s"percentile($c, array($lo, $hi))").as(s"__b_$c")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    specs.zipWithIndex.foldLeft(df) { case (acc, ((c, _, _), i)) =>
      val bounds = row.getSeq[Double](i)
      if (bounds == null) acc
      else acc.withColumn(c, clip(col(c), bounds(0), bounds(1)))
    }
  }
}
