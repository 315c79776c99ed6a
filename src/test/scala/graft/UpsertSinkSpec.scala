package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.UpsertSink

/** Streaming upsert sink: foreachBatch + MERGE, idempotent under replay. */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("upsert").toString
    (s"$base/target", s"$base/ckpt")
  }

  test("applyBatch merges updates + inserts; replaying a batch is a no-op") {
    val (target, _) = freshDirs()
    val b1 = Seq((1L, "a", 10L), (2L, "b", 11L)).toDF("k", "v", "seq")
    UpsertSink.applyBatch(spark, b1, target, Seq("k"), "seq")

    // batch 2: update k=1 (two versions in-batch, later seq wins), insert k=3
    val b2 = Seq((1L, "a1", 20L), (1L, "a2", 21L), (3L, "c", 22L))
      .toDF("k", "v", "seq")
    UpsertSink.applyBatch(spark, b2, target, Seq("k"), "seq")
    val afterOnce = spark.read.parquet(target).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq
    assert(afterOnce == Seq((1L, "a2", 21L), (2L, "b", 11L), (3L, "c", 22L)))

    // replay batch 2 (at-least-once delivery): state must not change
    UpsertSink.applyBatch(spark, b2, target, Seq("k"), "seq")
    val afterReplay = spark.read.parquet(target).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq
    assert(afterReplay == afterOnce, "replayed batch changed the target")
  }

  test("applyBatch on an empty batch leaves a missing target absent") {
    val (target, _) = freshDirs()
    UpsertSink.applyBatch(spark, Seq.empty[(Long, String, Long)]
      .toDF("k", "v", "seq"), target, Seq("k"), "seq")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target)))
  }

  test("same key + same orderCol picks the same row regardless of arrival order") {
    // two rows tie on (key, seq); the non-key tie-break must make the pick
    // a pure function of the row SET — a replay that happens to deliver the
    // batch in a different order must produce the identical store
    val rows = Seq((1L, "zzz", 5L), (1L, "aaa", 5L))
    val (t1, _) = freshDirs()
    val (t2, _) = freshDirs()
    UpsertSink.applyBatch(spark, rows.toDF("k", "v", "seq").repartition(2),
      t1, Seq("k"), "seq")
    UpsertSink.applyBatch(spark, rows.reverse.toDF("k", "v", "seq").repartition(2),
      t2, Seq("k"), "seq")
    val g1 = spark.read.parquet(t1).as[(Long, String, Long)].collect().toSeq
    val g2 = spark.read.parquet(t2).as[(Long, String, Long)].collect().toSeq
    assert(g1 == g2, s"arrival order changed the surviving row: $g1 vs $g2")
    assert(g1 == Seq((1L, "aaa", 5L))) // name-sorted asc tie-break
  }

  test("map-typed payload column: tie-break hashes it instead of failing analysis") {
    val (target, _) = freshDirs()
    // map columns are not orderable — row_number over a sort order naming
    // one fails analysis; the sink must order by a stable hash instead
    val b = Seq((1L, Map("x" -> 1), 5L), (1L, Map("y" -> 2), 5L))
      .toDF("k", "attrs", "seq")
    UpsertSink.applyBatch(spark, b, target, Seq("k"), "seq")
    val got = spark.read.parquet(target)
      .as[(Long, Map[String, Int], Long)].collect().toSeq
    assert(got.size == 1 && got.head._1 == 1L)

    // determinism across arrival orders, same contract as orderable payloads
    val (t2, _) = freshDirs()
    UpsertSink.applyBatch(spark,
      Seq((1L, Map("y" -> 2), 5L), (1L, Map("x" -> 1), 5L))
        .toDF("k", "attrs", "seq"), t2, Seq("k"), "seq")
    val got2 = spark.read.parquet(t2)
      .as[(Long, Map[String, Int], Long)].collect().toSeq
    assert(got == got2, s"arrival order changed the surviving row: $got vs $got2")
  }

  test("crash between target set-aside and swap: next batch recovers, no keys lost") {
    val (target, _) = freshDirs()
    val b1 = Seq((1L, "a", 10L), (2L, "b", 11L)).toDF("k", "v", "seq")
    UpsertSink.applyBatch(spark, b1, target, Seq("k"), "seq")

    // Simulate the Commit.overwrite crash window of the NEXT commit: the new
    // state is fully written at target__tmp (with _SUCCESS) and the target
    // has been renamed aside — the process died before the final swap.
    val src = java.nio.file.Paths.get(target)
    val tmp = java.nio.file.Paths.get(target + "__tmp")
    copyDir(src, tmp)
    java.nio.file.Files.move(src, java.nio.file.Paths.get(target + "__old"))

    // Replay (at-least-once): recovery must roll the commit forward BEFORE
    // reading — mistaking the missing target for an empty store would
    // silently drop keys 1 and 2.
    val b2 = Seq((3L, "c", 20L)).toDF("k", "v", "seq")
    UpsertSink.applyBatch(spark, b2, target, Seq("k"), "seq")
    val got = spark.read.parquet(target).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "b", 11L), (3L, "c", 20L)))
  }

  test("crash mid-tmp-write after set-aside: recovery rolls back to the old state") {
    val (target, _) = freshDirs()
    val b1 = Seq((1L, "a", 10L)).toDF("k", "v", "seq")
    UpsertSink.applyBatch(spark, b1, target, Seq("k"), "seq")

    // tmp exists but is INCOMPLETE (no _SUCCESS) and the target is gone —
    // only the set-aside copy holds the committed state
    val src = java.nio.file.Paths.get(target)
    val tmp = java.nio.file.Paths.get(target + "__tmp")
    copyDir(src, tmp)
    java.nio.file.Files.delete(tmp.resolve("_SUCCESS"))
    java.nio.file.Files.move(src, java.nio.file.Paths.get(target + "__old"))

    assert(graft.io.Commit.exists(spark, target))
    val got = spark.read.parquet(target).as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", 10L)))
    assert(!java.nio.file.Files.exists(tmp), "incomplete tmp must be discarded")
  }

  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(src).forEach { p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p).toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("attach drains a MemoryStream through the merge sink") {
    val (target, ckpt) = freshDirs()
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    mem.addData((1L, "x", 1L), (2L, "y", 2L), (1L, "x2", 3L))
    val q = UpsertSink.attach(mem.toDF().toDF("k", "v", "seq"),
      target, ckpt, Seq("k"), "seq")
    try q.awaitTermination(60000) finally q.stop()
    val got = spark.read.parquet(target).orderBy("k")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "x2", 3L), (2L, "y", 2L)))
  }
}
