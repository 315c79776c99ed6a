package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.Schemas

/** The 26-column CSV interchange format between scraper and preprocessing.
  *
  * Reference: /root/reference/scraper/scraper.py:391-463 — headers renamed per
  * the mapping, columns with no source emitted as the literal string "NULL"
  * (scraper.py:460), nulls likewise.
  */
object ExportCsv {

  /** Project a properties-shaped DataFrame into the export header order.
    * Missing-source columns carry lit("NULL"); nulls become "NULL" to match
    * the reference's csv writer.
    */
  def toExport(properties: DataFrame): DataFrame = {
    val cols = Schemas.exportHeader.map {
      case (header, Some(src)) =>
        coalesce(col(src).cast("string"), lit("NULL")).as(header)
      case (header, None) => lit("NULL").as(header)
    }
    properties.select(cols: _*)
  }

  /** Write as a single headered CSV at a new `path` (the reference writes
    * one file); [[graft.jobs.ExportJob]] commits it with [[Commit.overwrite]].
    */
  def write(properties: DataFrame, path: String): Unit =
    toExport(properties).coalesce(1).write.option("header", "true").csv(path)

  /** S7: read an export CSV with pandas-style inference. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("nullValue", "NULL")
      .csv(path)
}
