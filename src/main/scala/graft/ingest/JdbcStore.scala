package graft.ingest

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** S4: the reference's interchange store is a single-file SQL database
  * (SQLite, /root/reference/scraper/scraper.py:15, reads at :166-171, :230).
  * This is the `spark.read.jdbc` ingest/egest path for migrating such a
  * deployment — the Parquet-backed tables remain the default store.
  *
  * Tests run against the EMBEDDED DERBY driver that ships on Spark's
  * classpath (this build resolves no external artifacts); a real SQLite
  * deployment only swaps `url`/`driver` (e.g. `jdbc:sqlite:/data/immoweb.db`
  * with `org.sqlite.JDBC` on the classpath) — the Spark plan is identical.
  *
  * Scale posture: a JDBC read is a SINGLE partition unless bounded — always
  * pass `partitionCol` (+ bounds) for anything bigger than a lookup table so
  * the scan fans out into `numPartitions` range queries. A single-file store
  * obviously caps server-side parallelism; the partitioned read is still the
  * right plan shape for when the same tables live in a real RDBMS.
  */
object JdbcStore {

  /** Read one table; partitioned range scan when `partitionCol` is given.
    * When no explicit bounds are passed, the ACTUAL min/max of the partition
    * column are probed first (one tiny query) — default bounds like
    * [0, Long.MaxValue) would put every real-world id in the first stride
    * and silently serialize the whole scan into one task.
    */
  def readTable(spark: SparkSession, url: String, table: String,
      partitionCol: Option[String] = None,
      lowerBound: Long = 0L, upperBound: Long = Long.MaxValue,
      numPartitions: Int = 32,
      driver: Option[String] = None): DataFrame = {
    val props = new Properties()
    driver.foreach(props.setProperty("driver", _))
    partitionCol match {
      case Some(c) =>
        if (lowerBound == 0L && upperBound == Long.MaxValue) {
          val r = spark.read
            .jdbc(url, s"(SELECT MIN($c) AS lo, MAX($c) AS hi FROM $table) b", props)
            .head()
          if (r.isNullAt(0)) spark.read.jdbc(url, table, props) // empty table
          else
            // upper bound is an exclusive stride boundary in Spark's JDBC
            // partitioner: +1 keeps the max row in the last partition
            spark.read.jdbc(url, table, c, r.getLong(0), r.getLong(1) + 1,
              numPartitions, props)
        } else
          spark.read.jdbc(url, table, c, lowerBound, upperBound, numPartitions, props)
      case None =>
        spark.read.jdbc(url, table, props)
    }
  }

  /** Append rows to a JDBC table (created on first write). The reference's
    * INSERT OR IGNORE semantics live one level up (io.Commit.append
    * anti-joins against the existing keys before appending).
    */
  def writeTable(df: DataFrame, url: String, table: String,
      driver: Option[String] = None): Unit = {
    val props = new Properties()
    driver.foreach(props.setProperty("driver", _))
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
  }
}
