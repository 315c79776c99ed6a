package graft.obs

import graft.SparkSpec

class JobLogSpec extends SparkSpec {

  test("JobLog's job time is the union of job intervals") {
    // overlapping, nested and touching jobs count once: 15 + 10, not their sum 32
    assert(JobLog.covered(
      Seq((5L, 15L), (0L, 10L), (2L, 4L), (20L, 25L), (25L, 30L))) == 25L)
  }

  test("a nested phase restores the outer label, and during reports each " +
      "job under the label it ran with") {
    val sc = spark.sparkContext
    def job(): Long = sc.parallelize(1 to 10, 2).count() // one job
    sc.setLocalProperty("spark.job.description", "caller")
    try {
      val (_, jobs) = JobLog.during(spark) {
        JobLog.phase(sc, "outer") {
          job()
          JobLog.phase(sc, "inner")(job())
          job()
        }
        job()
      }
      assert(jobs.map(_.label) == Seq("outer", "inner", "outer", "caller"))
      assert(jobs.forall(j => j.start <= j.end))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setLocalProperty("spark.job.description", null)
  }

  test("jobs another thread runs during the call are not counted") {
    val sc = spark.sparkContext
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      pool.submit[Int](() => 0).get() // the thread exists before the call
      val (_, jobs) = JobLog.during(spark) {
        pool.submit[Long](() => sc.parallelize(1 to 10, 2).count()).get()
        sc.parallelize(1 to 10, 2).count()
      }
      assert(jobs.size == 1)
    } finally pool.shutdown()
  }
}
