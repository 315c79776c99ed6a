package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // a fixed 4, not the host's cores: some assertions depend on it
    val s = graft.jobs.JobSession.build("graft-test", cpus = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
