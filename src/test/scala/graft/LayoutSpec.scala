package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("out").toString

  test("balancedShards: serpentine deal balances token totals tightly") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .withColumn("w", size(split($"text", " ")).cast("long"))
    val sharded = Layout.balancedShards(docs, "doc_id", "w", 8)
    val totals = sharded.groupBy("shard").agg(sum($"w").as("t"), count(lit(1)).as("n"))
      .as[(Int, Long, Long)].collect()
    assert(totals.length == 8)
    assert(totals.map(_._3).sum == docs.count())
    val ws = totals.map(_._2)
    // serpentine over a desc-sorted deal: spread bounded by one max-weight doc
    val maxW = docs.agg(max($"w")).as[Long].head()
    assert(ws.max - ws.min <= maxW, s"spread ${ws.max - ws.min} > maxW $maxW")
    // deterministic: re-running assigns identical shards
    val a = sharded.select("doc_id", "shard").as[(Long, Int)].collect().toMap
    val b = Layout.balancedShards(docs, "doc_id", "w", 8)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(a == b)
  }

  test("balancedShards: null, NaN and tied weights deal in (weight DESC, id) order") {
    // (weight DESC, id): NaN first, nulls last, ties and 0.0 = -0.0 by id
    val ws = Seq(Some(5.0), Some(Double.NaN), Some(5.0), Some(2.0), None,
      Some(0.0), Some(5.0), None, Some(2.0), Some(0.0), Some(7.0), Some(5.0),
      Some(9.0), None, Some(5.0), None, Some(-0.0), Some(Double.NaN),
      Some(2.0), Some(-3.5))
    val docs = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "w").repartition(3)
    val got = Layout.balancedShards(docs, "doc_id", "w", 3)
      .select("doc_id", "shard").as[(Long, Int)].collect().sortBy(_._1).map(_._2)
    // the assignment the range-repartition + zipWithIndex rank produced
    assert(got.toSeq == Seq(1, 0, 0, 2, 1, 0, 0, 0, 1, 1, 2, 1, 2, 0, 2, 1, 2, 1, 0, 2))
  }

  test("hashShards: pure projection, deterministic, count-balanced in expectation") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val sharded = Layout.hashShards(docs, "doc_id", 8)
    // no shuffle: the plan has no exchange at all
    assert(!sharded.queryExecution.executedPlan.toString.contains("Exchange"))
    val counts = sharded.groupBy("shard").count().as[(Int, Long)].collect().toMap
    val n = docs.count().toDouble
    assert(counts.size == 8)
    // expectation n/8 per shard; allow generous 3-sigma-ish slack for 500 docs
    counts.values.foreach(c => assert(math.abs(c - n / 8) < n / 8 * 0.6, counts))
    val again = Layout.hashShards(docs, "doc_id", 8)
      .groupBy("shard").count().as[(Int, Long)].collect().toMap
    assert(counts == again)
  }

  test("clusteredWrite yields pairwise-disjoint per-file ranges (data skipping)") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val path = tmp("layout")
    Layout.clusteredWrite(docs, path, numFiles = 8, "doc_id")
    val stats = Layout.fileStats(spark, path, "doc_id")
      .as[(String, Long, Long, Long)].collect()
    assert(stats.length == 8)
    assert(stats.map(_._2).sum == docs.count())
    // sort files by their min; each file's range must end before the next begins
    val ranges = stats.map(s => (s._3, s._4)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("compact reduces file count to the byte-derived target and keeps clustering") {
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    val fragmented = tmp("frag")
    // simulate incremental appends: 64 tiny files
    docs.repartition(64).write.parquet(fragmented)
    val sizeBytes = {
      val p = new org.apache.hadoop.fs.Path(fragmented)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    val compacted = tmp("compact")
    // target half the directory size -> expect 2 output files
    Layout.compact(spark, fragmented, compacted, sizeBytes / 2 + 1, "doc_id")
    val stats = Layout.fileStats(spark, compacted, "doc_id")
      .as[(String, Long, Long, Long)].collect()
    assert(stats.length == 2)
    assert(stats.map(_._2).sum == docs.count())
    val Array((_, hi1), (lo2, _)) = stats.map(s => (s._3, s._4)).sortBy(_._1)
    assert(hi1 < lo2)
    // round-trip content equality
    val back = spark.read.parquet(compacted)
    assert(back.select(sum($"doc_id")).as[Long].head() ==
      docs.select(sum($"doc_id")).as[Long].head())
  }
  test("zorderWrite keeps BOTH per-file column envelopes narrow (grid fixture)") {
    // 64x64 grid: x = i % 64, y = i / 64 — independent dimensions
    val grid = (0 until 4096).map(i => (i % 64, i / 64)).toDF("x", "y")
    val zpath = tmp("zorder")
    Layout.zorderWrite(grid, zpath, numFiles = 16, "x", "y", bits = 6)
    def envWidths(path: String, c: String): Array[Long] =
      Layout.fileStats(spark, path, c).as[(String, Long, Long, Long)]
        .collect().map(s => s._4 - s._3)
    val xw = envWidths(zpath, "x"); val yw = envWidths(zpath, "y")
    assert(xw.length == 16)
    // each z-tile covers a sub-rectangle: both dims well under the full 0-63
    assert(xw.max <= 32 && yw.max <= 32,
      s"x widths ${xw.toSeq}, y widths ${yw.toSeq}")
    // single-column range clustering on x leaves y unpruned - the contrast
    val rpath = tmp("range1d")
    Layout.clusteredWrite(grid, rpath, numFiles = 16, "x")
    assert(envWidths(rpath, "y").max == 63L)
  }

  test("Packing.chunkPlan: offsets, spans, straddlers on a hand fixture") {
    import graft.text.Packing
    val docs = Seq(
      ("s", 1L, 3000L), ("s", 2L, 2000L),  // doc2 straddles the 4096 boundary
      ("s", 3L, 100L),                     // fits inside window 1
      ("t", 9L, 9000L)                     // spans windows 0-2 alone
    ).toDF("source", "doc_id", "sz")
    val got = Packing.chunkPlan(docs, "source", "doc_id", col("sz"), 4096L)
      .select($"doc_id", $"start_off", $"chunk_first", $"chunk_last", $"n_chunks")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 0L, 0L, 0L, 1L)))
    assert(got(2L) == ((2L, 3000L, 0L, 1L, 2L)))
    assert(got(3L) == ((3L, 5000L, 1L, 1L, 1L)))
    assert(got(9L) == ((9L, 0L, 0L, 2L, 3L)))
    val sum = Packing.chunkSummary(docs, "source", "doc_id", col("sz"), 4096L)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(sum("s") == (("s", 3L, 5100L, 2L, 1L)))
    assert(sum("t") == (("t", 1L, 9000L, 3L, 1L)))
  }

}
