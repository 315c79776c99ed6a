package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Merge

class CommitSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def children(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.sorted

  import CommitSpec.files

  test("a dir given with a trailing slash stages beside itself: overwrite, " +
      "append and mergePartitioned") {
    val base = tempDir("commit_slash")
    Commit.overwrite(spark, s"$base/links/")(Seq(1, 2).toDF("v").write.parquet(_))
    Commit.overwrite(spark, s"$base/links/")(Seq(3).toDF("v").write.parquet(_))
    assert(spark.read.parquet(s"$base/links").as[Int].collect().toSeq == Seq(3))

    Commit.append(spark, Seq((1L, "x")).toDF("k", "v"), s"$base/props/", "k")
    Commit.append(spark, Seq((1L, "y"), (2L, "z")).toDF("k", "v"), s"$base/props/", "k")
    assert(spark.read.parquet(s"$base/props").as[(Long, String)].collect().toSeq.sorted ==
      Seq((1L, "x"), (2L, "z")))

    (0L until 4L).map(k => (k, s"v$k", (k % 2).toInt)).toDF("k", "name", "p")
      .write.partitionBy("p").parquet(s"$base/store")
    Merge.mergePartitioned(spark, s"$base/store/",
      Seq((0L, "UPDATED", 0)).toDF("k", "name", "p"), Seq("k"), "p")
    val merged = spark.read.parquet(s"$base/store")
    assert(merged.count() == 4)
    assert(merged.filter($"k" === 0L).select("name").as[String].head() == "UPDATED")

    assert(children(base) == Seq("links", "props", "store"))
    for (d <- children(base))
      assert(!children(s"$base/$d").exists(_.startsWith("__")), s"a stage left in $d")
  }

  test("a writer that throws leaves the previous dir byte-identical") {
    val dir = tempDir("commit_throw") + "/t"
    Commit.overwrite(spark, dir)(Seq(1, 2, 3).toDF("v").write.parquet(_))
    val before = files(dir)
    // fails inside the Spark job, after the write has begun
    val failing = Seq(4).toDF("v")
      .select(when($"v" > 0, raise_error(lit("writer failed"))).otherwise($"v").as("v"))
    intercept[Exception](Commit.overwrite(spark, dir)(failing.write.parquet(_)))
    assert(files(dir) == before)
    // and recovery does not roll the incomplete stage forward
    assert(Commit.exists(spark, dir))
    assert(files(dir) == before)
    assert(spark.read.parquet(dir).as[Int].collect().toSeq.sorted == Seq(1, 2, 3))
    assert(!new java.io.File(dir + "__tmp").exists())
  }

  test("a writer that leaves no _SUCCESS commits, and a crash between its " +
      "write and its swap rolls forward") {
    val base = tempDir("commit_plain")
    val dir = s"${CrashingFs.Scheme}://$base/t"
    CrashingFs.register(spark)
    /** Writes one plain file under the path it is given, and no marker. */
    def plain(body: String)(path: String): Unit = {
      val p = new Path(path)
      val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(new Path(p, "part"))
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def part() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "t", "part")), "UTF-8")
    Commit.overwrite(spark, dir)(plain("v1"))
    assert(Commit.exists(spark, dir) && part() == "v1")
    CrashingFs.crashingRenameOf("t__tmp") {
      intercept[java.io.IOException](Commit.overwrite(spark, dir)(plain("v2")))
    }
    assert(children(base) == Seq("t__old", "t__tmp"))
    assert(Commit.exists(spark, dir))
    assert(children(base) == Seq("t"))
    assert(part() == "v2")
  }
}

/** The local file system under the scheme `crashfs`, whose rename of a path
  * named [[CrashingFs.crashingRenameOf]]'s `name` throws, as if the process
  * died just before it: a writer's crash injected at one commit step. */
class CrashingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${CrashingFs.Scheme}:///")
  override def getScheme: String = CrashingFs.Scheme
  override def rename(src: Path, dst: Path): Boolean =
    if (CrashingFs.failing.contains(src.getName))
      throw new java.io.IOException(s"crashed before renaming $src")
    else super.rename(src, dst)
}

object CrashingFs {
  val Scheme = "crashfs"
  @volatile private var failing: Option[String] = None

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CrashingFs].getName)

  /** Run `body` with every rename of a path named `name` crashing. */
  def crashingRenameOf[A](name: String)(body: => A): A = {
    failing = Some(name)
    try body finally failing = None
  }
}

object CommitSpec {
  /** Every file under `dir`, by relative path, with the SHA-256 of its bytes. */
  def files(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        java.util.HexFormat.of().formatHex(java.security.MessageDigest
          .getInstance("SHA-256").digest(java.nio.file.Files.readAllBytes(p)))).toMap
    finally walk.close()
  }
}
