package graft.jobs.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark process: layer times of the program's
  * own calls, plus Spark counters attributed to the current scope (a task of
  * the DAG or one registry query). Nothing is written until the process
  * reports at its end.
  *
  * Layer times come from sampling the driver thread's stack while a scope
  * runs (see [[Sampler]]), so the program runs its real entry points,
  * unchanged and un-forced: a lazy step's work is charged to the call that
  * forces it, exactly as the program pays it.
  *
  * The listeners are installed through Spark's public configuration
  * (`spark.extraListeners`, `spark.sql.queryExecutionListeners`), so the
  * program under test is unchanged; an untraced process installs neither.
  */
object Trace {
  @volatile var enabled = false
  @volatile private var current = "none"

  final class Counters {
    var jobs, stages, tasks, fits = 0L
    var planningNs, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var wallS = 0.0

    /** Union of job intervals, so overlapping jobs are not double counted. */
    def coveredS: Double = {
      var total, end = 0L
      jobIntervals.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
      total / 1000.0
    }
  }

  private val byScope = mutable.LinkedHashMap.empty[String, Counters]
  private val spanSums = mutable.LinkedHashMap.empty[String, Double]
  private val jobStarts = mutable.HashMap.empty[Int, (String, Long)]

  def counters(scope: String): Counters = synchronized(byScope.getOrElseUpdate(scope, new Counters))
  def scopes: Seq[(String, Counters)] = synchronized(byScope.toSeq)
  def spans: Seq[(String, Double)] = synchronized(spanSums.toSeq)

  /** Time `body` under `name`; spans with the same name add up. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    try body finally addSpan(name, (System.nanoTime() - t0) / 1e9)
  }

  /** Attribute Spark activity to `scope` while `body` runs; the listener bus
    * is drained on both edges so late events land in the right scope. */
  def scoped[T](spark: org.apache.spark.sql.SparkSession, scope: String)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    current = scope
    val sampler = Sampler.rules.get(scope).map(r => new Sampler(Thread.currentThread(), r))
    val t0 = System.nanoTime()
    try body finally {
      sampler.foreach(_.finish())
      org.apache.spark.PerfbenchBus.drain(sc) // the task's main may have stopped sc
      counters(scope).wallS += (System.nanoTime() - t0) / 1e9
      current = "none"
    }
  }

  private[perfbench] def addSpan(name: String, s: Double): Unit =
    synchronized(spanSums(name) = spanSums.getOrElse(name, 0.0) + s)

  private[perfbench] def onJobStart(id: Int, time: Long): Unit = synchronized {
    jobStarts(id) = (current, time)
    counters(current).jobs += 1
  }
  private[perfbench] def onJobEnd(id: Int, time: Long): Unit = synchronized {
    jobStarts.remove(id).foreach { case (scope, t0) => counters(scope).jobIntervals += ((t0, time)) }
  }
  private[perfbench] def inScope(f: Counters => Unit): Unit = synchronized(f(counters(current)))
}

/** Samples `target`'s stack every `Sampler.PeriodMs` until `finish()`. Each
  * sample charges the time since the previous one to the layer of the
  * outermost frame that a rule names, or to nothing. Outermost wins, so a
  * layer includes what it calls: `appendDedup`'s own `overwriteAtomic`
  * write is append_dedup time, and a stage's Spark jobs are that stage's.
  * The time of the stack reads, during which `target` is held at a
  * handshake, adds up under `trace.sampler`. */
final class Sampler(target: Thread, rules: Seq[(String, String, String)]) {
  private val byMethod = rules.map { case (layer, cls, m) => (cls, m) -> layer }.toMap
  private val byClass = rules.collect { case (layer, cls, "*") => cls -> layer }.toMap
  @volatile private var running = true

  private def layerOf(stack: Array[StackTraceElement]): Option[String] =
    stack.reverseIterator.map { f =>
      byMethod.get((f.getClassName, f.getMethodName)).orElse(byClass.get(f.getClassName))
    }.collectFirst { case Some(layer) => layer }

  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(Sampler.PeriodMs)
      val read = System.nanoTime()
      val stack = target.getStackTrace
      val now = System.nanoTime()
      Trace.addSpan("trace.sampler", (now - read) / 1e9)
      layerOf(stack).foreach(Trace.addSpan(_, (now - last) / 1e9))
      last = now
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  def finish(): Unit = { running = false; thread.join() }
}

object Sampler {
  val PeriodMs = 20L

  private val Writer = "org.apache.spark.sql.DataFrameWriter" // declares parquet and csv

  /** Per scope: (layer, frame class, frame method or `*` for any method). */
  val rules: Map[String, Seq[(String, String, String)]] = Map(
    "scrape" -> Seq(
      ("jobs.preflight", "graft.jobs.PreflightJob$", "run"),
      ("ingest.sitemap", "graft.ingest.Sitemap$", "listingUrls"),
      ("ingest.link_diff", "graft.ingest.LinkState$", "*"),
      ("ingest.fetch_parse", "graft.jobs.ScrapeJob$", "fetchPages"),
      ("ingest.fetch_parse", "graft.ingest.ScrapeParse$", "*"),
      ("jobs.append_dedup", "graft.jobs.ScrapeJob$", "appendDedup"),
      ("jobs.overwrite_atomic", "graft.jobs.ScrapeJob$", "overwriteAtomic")),
    "export" -> Seq(("io.export_write", "graft.io.ExportCsv$", "write")),
    "preprocess" -> Seq(
      ("io.export_read", "graft.io.ExportCsv$", "read"),
      ("preprocessing.clean", "graft.Preprocessing$", "cleanStage"),
      ("preprocessing.prune", "graft.Preprocessing$", "pruneStage"),
      ("preprocessing.geocode", "graft.Preprocessing$", "geocodeStage"),
      ("preprocessing.enrich", "graft.Preprocessing$", "enrichStage"),
      ("preprocessing.encode", "graft.Preprocessing$", "encodeStage"),
      ("preprocessing.encode", "graft.Preprocessing$", "finalStage"),
      // PreprocessJob.main's two writes of Preprocessing.run's output
      ("preprocessing.write_parquet", Writer, "parquet"),
      ("preprocessing.write_csv", Writer, "csv")),
    "model" -> Seq(
      ("ml.feature_select", "graft.ml.Models$", "selectFeaturesByCorrelation"),
      ("ml.select_best", "graft.ml.Models$", "selectBestModel"),
      ("ml.save", "graft.ml.Models$", "leaderboard"),
      ("ml.save", "graft.ml.Models$", "samplePredictions"),
      ("ml.save", Writer, "csv"),
      ("ml.save", "org.apache.spark.ml.util.MLWriter", "save")))
}

/** Registered with `spark.extraListeners`. */
class TraceListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.onJobStart(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.onJobEnd(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.inScope(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Trace.inScope { c =>
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: org.apache.spark.ml.FitStart[_] => Trace.inScope(_.fits += 1)
    case _ =>
  }
}

/** Registered with `spark.sql.queryExecutionListeners`: planning time. */
class TraceQueryListener extends QueryExecutionListener {
  private def planning(qe: QueryExecution): Unit = {
    val ns = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
    Trace.inScope(_.planningNs += ns)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planning(qe)
}
