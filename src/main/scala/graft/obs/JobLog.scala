package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{JobLogBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The one module that records Spark jobs: which jobs a block of driver
  * code ran, what each was labelled and when it ran ([[during]]), the time
  * they covered together ([[covered]]), and the labels operators give their
  * jobs ([[phase]]). Nothing is watched unless a caller asks: no listener is
  * installed by default.
  */
object JobLog {

  /** A finished job: its id, label, and start and end times in epoch ms. */
  final case class Job(id: Int, label: String, start: Long, end: Long)

  private val Description = "spark.job.description"

  /** Run `body` and return its result with the jobs it ran, by id. A job
    * counts when it carries a fresh job tag that the call adds to this
    * thread's job properties, so another thread's jobs never count unless
    * `body` started that thread (it inherits the tag). A tag, not a job
    * group: `setJobGroup` would overwrite the description that labels the
    * jobs.
    *
    * A job is labelled with its `spark.job.description`, else its SQL
    * execution's description (the call site of the action that ran the
    * query: AQE launches query-stage jobs from a pool thread, so their own
    * call site names no query code), else its first stage's name.
    */
  def during[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = s"graft-joblog-${java.util.UUID.randomUUID()}"
    val execs = new ConcurrentHashMap[Long, String]()
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execs.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (JobLogBus.tags(js.properties).contains(tag)) {
          def prop(k: String) = Option(js.properties.getProperty(k))
          starts.put(js.jobId, (js.time, prop(Description)
            .orElse(prop("spark.sql.execution.id").flatMap(id => Option(execs.get(id.toLong))))
            .orElse(js.stageInfos.sortBy(_.stageId).headOption.map(_.name))
            .getOrElse("?")))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, label) =>
          jobs.add(Job(je.jobId, label, t0, je.time))
        }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val result = body
      JobLogBus.drain(sc)
      (result, jobs.asScala.toSeq.sortBy(_.id))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  /** Length of the union of `[start, end]` intervals: overlapping jobs
    * count once, so the driver gap (wall − covered) stays >= 0. */
  def covered(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
    }._1

  /** Label the jobs `body` runs on this thread with `label`, then restore
    * the caller's label, so an enclosing phase keeps its own. */
  def phase[A](sc: SparkContext, label: String)(body: => A): A = {
    val outer = sc.getLocalProperty(Description)
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty(Description, outer)
  }
}
