package graft

/** [[graft.jobs.JobSession.build]] is the one session factory under src/
  * (the [[CollectBarrierLintSpec]] source-scan idea), and the JVM-wide test
  * session carries its configs. */
class SessionFactorySpec extends SparkSpec {

  test("the session builder is called in one file under src/: Jobs.scala") {
    val needle = "SparkSession" + ".builder" // split: this file must not match
    val hits = SourceScan.filesWhere("src")(_.contains(needle))
    assert(hits == List("main/scala/graft/jobs/Jobs.scala"),
      s"session builder outside the factory (build through JobSession.build): $hits")
  }

  test("the test session has UTC, nanosAsLong and 4 shuffle partitions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("the UI is off by launcher option, not by the factory") {
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
