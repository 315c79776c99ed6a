package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.obs.JobLog]] is the one module under src/ that watches or labels
  * Spark jobs (the [[SessionFactorySpec]] source scan): listeners, bus
  * drains and job descriptions live in `obs/` and its `org.apache.spark`
  * shim only. */
class JobLogLintSpec extends AnyFunSuite {

  test("listeners, bus drains and job descriptions appear only in obs/ " +
      "and the bus shim") {
    // split: this file must not match
    val needles = Seq(("extends Spark" + "Listener") + "\\b", ("new Spark" + "Listener") + "\\b",
      "add" + "SparkListener", "waitUntil" + "Empty", "setJob" + "Description").map(_.r)
    val hits = SourceScan.filesWhere("src")(txt => needles.exists(_.findFirstIn(txt).isDefined))
    assert(hits == List("main/scala/graft/obs/JobLog.scala",
      "main/scala/org/apache/spark/JobLogBus.scala"),
      s"jobs watched or labelled outside graft.obs (use JobLog.during / JobLog.phase): $hits")
  }
}
