package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.Commit
import graft.ops.EventAnalytics

/** Streaming multi-window SLO burn monitor: the production twin of the
  * batch [[graft.ops.EventAnalytics.sloBurnRate]]. Hourly (total, errors)
  * counts accumulate in a watermarked tumbling-window aggregation; each
  * CLOSED window upserts into a keyed hourly store, and the burn report
  * (short + enclosing long window, alert only when both exceed threshold)
  * is recomputed from that store and atomically swapped — so the report is
  * always a pure function of the stored hourly table, and watermark
  * replays CONVERGE instead of double-counting (the UpsertSink contract).
  *
  * Scale shape: streaming state is one count pair per open window (bounded
  * by the watermark horizon); the burn math runs over the report-sized
  * hourly store via [[EventAnalytics.sloBurnFromHourly]] — at a year of
  * retention that's 8 760 rows.
  */
object SloStreams {

  /** Watermarked hourly (w, total, errors) counts, append mode — one row
    * per closed hour. `isError` is any deterministic boolean over a row. */
  def hourlyCounts(events: DataFrame, tsCol: String, isError: Column,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour").as("win"))
      .agg(count(lit(1)).as("total"), count(when(isError, 1)).as("errors"))
      .select(col("win.start").as("w"), col("total"), col("errors"))

  /** One micro-batch of closed hourly rows → upsert the hourly store →
    * rebuild the burn report from the FULL store. Pure function of
    * (store state, batch); exposed for unit tests and crash-replay specs. */
  def applyBatch(batch: DataFrame, hourlyDir: String, reportDir: String,
      budget: Double, longBuckets: Int = 6, threshold: Double = 1.0): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    UpsertSink.applyBatch(spark, batch, hourlyDir, Seq("w"), "total")
    val stored = spark.read.parquet(hourlyDir)
      .select((unix_micros(col("w")) / lit(3600000000L)).cast("long")
        .as("hour"), col("total"), col("errors"))
    val report = EventAnalytics.sloBurnFromHourly(stored, budget,
      longBuckets, threshold)
    Commit.overwrite(spark, reportDir)(report.write.parquet(_))
  }

  /** Wire the hourly stream into the monitor (foreachBatch). */
  def burnSink(hourly: DataFrame, hourlyDir: String, reportDir: String,
      checkpointDir: String, budget: Double, longBuckets: Int = 6,
      threshold: Double = 1.0): StreamingQuery =
    hourly.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, hourlyDir, reportDir, budget, longBuckets,
          threshold)
      }
      .start()
}
