package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators for curated-corpus output — the write-side half
  * of a 100 TB pipeline. Two concerns:
  *
  *  1. DATA SKIPPING: range-cluster the output on a filter/lookup key so each
  *     parquet file covers a narrow [min, max] slice of it. Readers filtering
  *     on that key then prune whole files from the footer statistics alone
  *     (Spark's parquet scan does this natively) — at corpus scale the
  *     difference between touching 1/1000th of the files and all of them.
  *
  *  2. SMALL-FILE COMPACTION: incremental appends leave thousands of tiny
  *     files; metadata pressure and per-file open cost then dominate reads.
  *     Compaction rewrites a directory to ~`targetBytes` files while
  *     PRESERVING the range clustering (repartitionByRange again, not
  *     coalesce — coalesce would concatenate unrelated ranges and destroy
  *     the skipping property).
  */
object Layout {

  /** Range-clustered, sorted-within-file parquet write: global range
    * partition on `clusterCols` (sampled range boundaries — even output file
    * sizes even under skew) + sortWithinPartitions so row groups inside each
    * file are also ordered (page-level statistics stay selective).
    */
  def clusteredWrite(df: DataFrame, path: String, numFiles: Int,
      clusterCols: String*): Unit = {
    val cols = clusterCols.map(col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Per-file [min, max] envelope of `column` plus row count — the skipping
    * metadata a reader's file prune would use, surfaced as a DataFrame (via
    * `input_file_name`, no footer parsing). Disjoint envelopes across files
    * == the clustering actually bought data skipping; LayoutSpec pins that.
    */
  def fileStats(spark: SparkSession, path: String, column: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"),
        min(col(column)).as("lo"), max(col(column)).as("hi"))

  /** Morton (Z-order) value of two bit-bounded non-negative ints: bits of
    * `x` land on even positions, `y` on odd — points close in BOTH
    * dimensions get close z values, so range-clustering on z yields files
    * whose [min, max] envelopes are narrow in both columns at once (the
    * multi-column data-skipping layout single-column clustering can't give).
    * Pure shift/and/or Column arithmetic — whole-stage codegen, and exactly
    * reproducible by any engine with integer bit ops (q83's oracle).
    */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Z-order-clustered write on two numeric columns: each column is min-max
    * scaled to `bits` bits (one tiny aggregate), interleaved into a z value,
    * and the output is range-partitioned + sorted on it. Readers filtering
    * on EITHER column (or both) prune files from footer stats; LayoutSpec
    * pins that both per-file envelopes stay narrow.
    */
  def zorderWrite(df: DataFrame, path: String, numFiles: Int,
      xCol: String, yCol: String, bits: Int = 16): Unit = {
    val r = df.agg(
      min(col(xCol)).cast("double").as("xlo"), max(col(xCol)).cast("double").as("xhi"),
      min(col(yCol)).cast("double").as("ylo"), max(col(yCol)).cast("double").as("yhi"))
      .head()
    // empty input: min/max are null — write the empty dataset (same
    // behavior as clusteredWrite on empty input) instead of NPE on getDouble
    if (r.isNullAt(0)) {
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val maxV = (1L << bits) - 1
    def scaled(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else ((col(c).cast("double") - lo) * maxV / (hi - lo)).cast("long")
    val z = zValue(
      scaled(xCol, r.getDouble(0), r.getDouble(1)),
      scaled(yCol, r.getDouble(2), r.getDouble(3)), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Compact a parquet directory to ~`targetBytes` output files, preserving
    * range clustering on `clusterCols`. File count is derived from the
    * directory's actual byte size (Hadoop FileSystem — works on HDFS/S3,
    * not just local disk), never hard-coded.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long, clusterCols: String*): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(inPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val numFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inPath)
    if (clusterCols.nonEmpty) clusteredWrite(df, outPath, numFiles, clusterCols: _*)
    else df.repartition(numFiles).write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Hash shard assignment: shard = md5(seed ‖ id) mod n. Fully parallel
    * (pure projection, no shuffle), deterministic across engines and
    * re-runs, balanced in EXPECTATION by count — the default 100 TB path
    * for spreading a corpus over training-output shards. Use
    * [[balancedShards]] when per-shard WEIGHT (token count) must balance
    * tightly.
    */
  def hashShards(df: DataFrame, idCol: String, nShards: Int,
      seed: String = "42"): DataFrame =
    df.withColumn("shard",
      pmod(conv(substring(md5(concat_ws("|", lit(seed),
        col(idCol).cast("string"))), 1, 8), 16, 10).cast("long"),
        lit(nShards.toLong)).cast("int"))

  /** Token-balanced shard assignment: rank documents by (weight desc, id)
    * and deal them serpentine over the shards — pass 0 left-to-right,
    * pass 1 right-to-left — so every shard receives one document per pass
    * and the heavy head spreads evenly (the deterministic near-LPT
    * heuristic). Per-shard totals then differ by at most one pass's spread.
    *
    * The global rank comes from [[graft.ops.RangeScan.rank]] (range
    * partitions, per-partition running counts, broadcast offsets) — no
    * single-partition window anywhere. The rank is deterministic because
    * (weight desc, id) is a total order regardless of where the sampled
    * range boundaries land; as in `ORDER BY weight DESC`, NaN weights come
    * first and null weights last.
    */
  def balancedShards(df: DataFrame, idCol: String, weightCol: String,
      nShards: Int): DataFrame = {
    val w = col(weightCol)
    val rank = col("__rank") - 1
    val n = lit(nShards.toLong)
    val pass = floor(rank / n)
    val pos = rank % n
    graft.ops.RangeScan.rank(df, struct(w.isNull, !isnan(w), -w, col(idCol))).df
      .withColumn("shard", when(pass % 2 === 0, pos).otherwise(n - 1 - pos).cast("int"))
      .drop("__rank", "__rows")
  }

  /** Deterministic pseudo-random training order inside a shard (or stream):
    * sort by this key instead of `rand()` — reproducible across retries,
    * AQE re-plans, and engines. */
  def shuffleKey(idCol: Column, seed: String = "42"): Column =
    md5(concat_ws("|", lit(seed), idCol.cast("string")))
}
