package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream (SURVEY §2.8 + §7.5).
  *
  * The reference has no streaming engine — its incremental model is
  * batch-incremental (Airflow schedule + status columns). These operators are
  * the streaming-native expression of that model plus the windowed analytics
  * the north-star asks for. Every transform takes a DataFrame so it runs
  * identically on a batch frame or a readStream frame (tested both ways:
  * batch parity in q33, MemoryStream in StreamingSpec).
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type with a watermark for state
    * eviction. At scale: state is bounded by (watermark horizon × key card.);
    * the shuffle is keyed by (window, event_type).
    */
  def tumblingStats(events: DataFrame, windowLen: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(28,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("cnt"), col("sum_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, total_value: Double)

  /** Session boundaries per user — the flatMapGroupsWithState custom-state
    * path (SURVEY §2.8's streaming analog of the link-state machine). A
    * session closes when a later event for the same user arrives more than
    * `gapMs` after the previous one (event-time gap, deterministic). With
    * `useTimeout = true` idle sessions are additionally flushed by a
    * processing-time timeout (production mode; tests use the data-driven
    * default so results don't depend on wall-clock).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      useTimeout: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (useTimeout && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new Timestamp(s.start), new Timestamp(s.last),
              s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var emitted = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  emitted ::= Session(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            emitted.reverseIterator
          }
      }
  }

  /** Batch sessionization twin (same gap semantics, expressed with windows) —
    * lets the oracle/batch path check the streaming logic: a session starts
    * where the gap from the previous event exceeds gapMs.
    */
  def sessionizeBatch(events0: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // entity/time null contract (shared with the streaming twin): a session
    // needs an owner and a time — the streaming path can't watermark a NULL
    // ts or keep state for a NULL key either
    val events = events0.filter(col("user_id").isNotNull && col("ts").isNotNull)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val withGap = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMs * 1000L)
          .cast("int"))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy("user_id", "session_id")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value").cast("decimal(28,2)")).cast("double").as("total_value"))
      .drop("session_id")
  }

  /** Streaming ingest dedup: drop repeated event ids with state bounded by
    * the watermark (`dropDuplicatesWithinWatermark`) — the streaming twin of
    * the batch keep-first dedup (W1) and the exactly-once-ish guard a
    * training-data ingest needs. State per key is one timestamp; eviction
    * follows the watermark, so the operator is safe on unbounded streams.
    */
  def dedupEvents(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-stream interval join: for each click, the views by the same user
    * within `gap` after it. Both sides carry watermarks so the join state is
    * bounded (Spark evicts rows older than watermark + interval). The range
    * rides on a user_id EQUI join — no cross product.
    */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
      gap: String = "10 minutes", watermark: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("c_ts"),
      col("event_id").as("c_id")).withWatermark("c_ts", watermark)
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("event_id").as("v_id")).withWatermark("v_ts", watermark)
    c.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("c_ts") &&
        col("v_ts") <= col("c_ts") + expr(s"INTERVAL $gap"))
      .drop("v_user")
  }

  /** Idempotent micro-batch upsert sink: every micro-batch goes through the
    * S12 staged append keyed on `key` (`io.Commit.append`): only the
    * batch's new keys are written, to a staging dir, then renamed into
    * `dir`. A batch replayed after a failure/restart, even one that crashed
    * mid-commit, appends only the keys `dir` still lacks, so its effects
    * happen exactly once on top of Spark's at-least-once batch replay — the
    * streaming face of the reference's INSERT OR IGNORE. Each batch costs
    * its own size plus a read of the stored key column.
    */
  def writeUpsertStream(events: DataFrame, dir: String, checkpoint: String,
      key: String = "event_id"): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.io.Commit.append(batch.sparkSession, batch.toDF(), dir, key)
      }
      .start()

  /** Incremental file-stream ingestion of an events directory with
    * AvailableNow semantics (the Trigger.AvailableNow analog of the
    * reference's scheduled batch pull).
    */
  def readEventStream(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
}
