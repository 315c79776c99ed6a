package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}

/** Exact running sums in a total order WITHOUT a global window — the
  * range-partitioned prefix scan behind the ECDF/KS/W₁/CvM drift
  * statistics, equi-depth histograms, AUC and Spearman ranks and the
  * weighted median. A global ordered window funnels every row through one
  * task; here the data stays distributed:
  *
  *   1. range-partition by `keys ++ order` and tag each row with its
  *      partition id `__pid` (pid order is (keys, order) order);
  *   2. take an eager snapshot, so the totals pass and the scored pass see
  *      one partition layout;
  *   3. collect the per-(`__pid`, keys) sums — the only driver barrier,
  *      ≤ partitions·#keys rows;
  *   4. turn them into exclusive offsets per key, in pid order, with exact
  *      `Long` / `java.math.BigDecimal` addition;
  *   5. broadcast the offsets back as a local relation;
  *   6. add each offset to a per-partition running sum over
  *      `Window.partitionBy(__pid +: keys).orderBy(order)`.
  *
  * No sortWithinPartitions before the snapshot: range partitioning alone
  * fixes the pid-to-order invariant the offsets rely on, and the scored
  * pass's window re-sorts its partition regardless, so a pre-sort would
  * only make the snapshot materialization pay an extra pass.
  */
object RangeScan {

  /** The scanned frame plus what the carriers read on the driver.
    *
    * `df` is the snapshot joined with its offsets: every input column, and
    *   - `__pid`: the row's range partition;
    *   - `__cum_<s>`: the inclusive running sum of each `sums` column `s`
    *     over the key's rows in `order`, typed as `sum(s)` (bigint, or the
    *     widened decimal), so it is exact;
    *   - `__tot_<s>`: the key's grand total of `s`, same type;
    *   - `__rows`: the key's row count;
    *   - `__next`: the smallest `order` value of the key's next partition,
    *     null in its last — the boundary successor that `lead` over
    *     `window` cannot see.
    * `window` is the per-partition, per-key order those sums run in.
    * `totals` maps each key (its values in `keys` order; empty with no
    * keys) to its grand totals in `sums` order; an empty input has none.
    */
  final case class Scan(df: DataFrame, window: WindowSpec,
      sums: Seq[String], totals: Map[Seq[Any], Seq[Any]]) {
    /** Grand total of a bigint `sums` column over all keys (0 when empty). */
    def total(s: String): Long = {
      val i = sums.indexOf(s)
      totals.values.map(_(i).asInstanceOf[Long]).sum
    }
  }

  /** Range-partitioned prefix scan of `df` (see the object doc). `df` should
    * hold one row per (keys, order) value — running sums over ties depend
    * on the order among the tied rows. Each `sums` column must sum to a
    * bigint or a decimal (exact addition). Rows with a null key drop out,
    * as in any equi-join: filter or coalesce keys first.
    */
  def prefix(df: DataFrame, keys: Seq[String], order: String,
      sums: Seq[String], partitions: Int): Scan = {
    val spark = df.sparkSession
    val snap = Snapshot.eager(
      df.repartitionByRange(partitions, (keys :+ order).map(col): _*)
        .withColumn("__pid", spark_partition_id()))
    val aggs = sums.map(s => sum(col(s)).as(s)) ++
      Seq(count(lit(1)).as("__rows"), min(col(order)).as("__min"))
    val perPart = snap.groupBy(("__pid" +: keys).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val schema = perPart.schema
    val zeros = sums.map(s => schema(s).dataType match {
      case LongType => 0L
      case _: DecimalType => java.math.BigDecimal.ZERO
      case t => throw new IllegalArgumentException(
        s"RangeScan.prefix sums must be integral or decimal; $s sums to $t")
    })
    def add(a: Any, b: Any): Any = (a, b) match {
      case (x: Long, y: Long) => x + y
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
      case (x, null) => x  // a partition whose values are all null
    }

    // row layout: __pid, keys…, sums…, __rows, __min
    val (nk, ns) = (keys.size, sums.size)
    val perKey = perPart.collect().toSeq.groupBy(_.toSeq.slice(1, 1 + nk)).map {
      case (key, rows) =>
        val parts = rows.sortBy(_.getInt(0))
        val offsets = parts.scanLeft(zeros) { (acc, r) =>
          acc.zip(r.toSeq.slice(1 + nk, 1 + nk + ns)).map { case (a, b) => add(a, b) }
        }
        (key, parts, offsets)
    }
    val totals = perKey.map { case (key, _, offsets) => key -> offsets.last }.toMap
    val offRows = perKey.toSeq.flatMap { case (key, parts, offsets) =>
      val keyRows = parts.map(_.getLong(1 + nk + ns)).sum
      parts.indices.map { i =>
        val next = parts.lift(i + 1).map(_.get(2 + nk + ns)).orNull
        Row.fromSeq((parts(i).get(0) +: key) ++ offsets(i) ++ offsets.last ++
          Seq(keyRows, next))
      }
    }
    val offSchema = StructType(("__pid" +: keys).map(schema(_)) ++
      sums.map(s => schema(s).copy(name = s"__off_$s")) ++
      sums.map(s => schema(s).copy(name = s"__tot_$s")) ++
      Seq(schema("__rows"), schema("__min").copy(name = "__next", nullable = true)))
    import scala.jdk.CollectionConverters._
    val offDf = spark.createDataFrame(offRows.asJava, offSchema)

    val window = Window.partitionBy(("__pid" +: keys).map(col): _*).orderBy(order)
    val running = window.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = sums.foldLeft(snap.join(broadcast(offDf), "__pid" +: keys)) { (acc, s) =>
      acc.withColumn(s"__cum_$s", col(s"__off_$s") + sum(col(s)).over(running))
    }
    Scan(scanned, window, sums, totals)
  }

  /** A rank is an inclusive running count: [[prefix]] of a constant 1 over
    * `order`, in the session's `spark.sql.shuffle.partitions` ranges (the
    * count a column-only `repartitionByRange` uses). `order` must be a total
    * order; a composite or descending one is a single `struct` key that
    * spells out where nulls go, e.g. `(v DESC, id)` is
    * `struct(v.isNull, -v, id)` (and a floating `v` needs `!isnan(v)` after
    * `v.isNull`: DESC puts NaN first). The frame gains `__rank` (1-based),
    * `__rows` (n), and `__cum_<s>` / `__tot_<s>` for each `sums` column;
    * the scan's own columns are dropped (so `window` no longer applies),
    * and `total("__one")` is n. The snapshot stores every column of `df`:
    * narrow it first.
    */
  def rank(df: DataFrame, order: Column, sums: Seq[String] = Nil): Scan = {
    val scan = prefix(df.withColumn("__o", order).withColumn("__one", lit(1L)),
      Nil, "__o", "__one" +: sums,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val scratch = Seq("__pid", "__o", "__one", "__next", "__tot___one") ++
      scan.sums.map("__off_" + _)
    scan.copy(df = scan.df.withColumnRenamed("__cum___one", "__rank").drop(scratch: _*))
  }
}
