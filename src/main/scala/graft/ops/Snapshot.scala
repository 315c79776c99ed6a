package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Eager snapshots: materialize a frame now and cut its lineage, so every
  * later consumer reads the stored partitions instead of re-running the
  * plan, and a frame traversed twice sees one partition layout both times.
  *
  * Reliable `checkpoint` when the session has a checkpoint dir configured
  * (HDFS/S3 — survives executor loss); `localCheckpoint` otherwise (local
  * mode, tests — blocks are pinned to executors and die with them, which
  * is fine there). A reliable snapshot that backs a returned frame cannot
  * be reclaimed in-function; enable
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` alongside
  * `setCheckpointDir` so its dir is GC'd when the frame is dropped.
  */
object Snapshot {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True when snapshots go to the session's reliable checkpoint dir. */
  private def reliable(spark: SparkSession): Boolean =
    spark.sparkContext.getCheckpointDir.isDefined

  def eager(df: DataFrame): DataFrame =
    if (reliable(df.sparkSession)) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Successive snapshots of one iterative value, of which only the latest
    * is kept: once a new snapshot has materialized, the reliable checkpoint
    * dir of the one it supersedes is deleted, so a long loop keeps one dir
    * alive instead of one per snapshot. The latest snapshot is the caller's
    * and is never deleted here. (localCheckpoint blocks are cleaned by the
    * BlockManager; only the reliable path leaves dirs behind.)
    */
  final class Rolling(spark: SparkSession) {
    private var current: Option[String] = None

    def apply(df: DataFrame): DataFrame = {
      val out = eager(df)
      if (reliable(spark)) {
        current.foreach(reclaim(spark, _))
        current = rddOf(out).flatMap(_.getCheckpointFile)
        if (current.isEmpty)
          log.warn("no checkpoint dir found behind a reliable snapshot; " +
            "it will not be reclaimed when superseded")
      }
      out
    }
  }

  /** Drop a snapshot that no plan reads any more — its blocks, or its
    * reliable checkpoint dir — instead of leaving it to the GC-driven
    * cleaner.
    */
  def release(snapshot: DataFrame): Unit =
    rddOf(snapshot).foreach { rdd =>
      rdd.getCheckpointFile match {
        case Some(dir) => reclaim(snapshot.sparkSession, dir)
        case None => rdd.unpersist(blocking = false)
      }
    }

  /** Delete a superseded checkpoint dir. Housekeeping never fails the
    * computation: a failed delete is logged and the caller goes on.
    */
  private[graft] def reclaim(spark: SparkSession, dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
        log.warn(s"superseded checkpoint dir $dir was not deleted")
    } catch {
      case NonFatal(e) => log.warn(s"could not delete superseded checkpoint dir $dir", e)
    }

  /** The RDD behind a snapshot: Dataset.(local)checkpoint returns a plan
    * rooted at a LogicalRDD over the materialized internal RDD, whose
    * getCheckpointFile is the dir a reliable checkpoint wrote.
    */
  private def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
}
