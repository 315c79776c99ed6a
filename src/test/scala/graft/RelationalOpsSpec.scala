package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.encode.OofTargetEncoder
import graft.ops.{EntityMatch, HeavyHitters, Merge, Scd}

/** Unit coverage for the round-4 relational operators: MERGE emulation,
  * Misra-Gries heavy hitters, blocked fuzzy matching, SCD2, out-of-fold
  * target encoding. Each also has a DuckDB-oracled driver query
  * (q132-q136); these specs pin the edge semantics the oracles can't.
  */
class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- Merge ----

  private def target = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "name", "bal")

  test("merge: update, insert, delete, carry-through in one pass") {
    val source = Seq(
      (2L, "b2", 99.0),          // matched -> update (source wins)
      (3L, "DEL", 0.0),          // matched -> delete
      (4L, "d", 40.0))           // source-only -> insert
      .toDF("k", "name", "bal")
    val out = Merge.merge(target, source, Seq("k"),
        deleteWhen = Merge.s("name") === "DEL")
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (4L, "d", 40.0)))
  }

  test("merge: per-column update override keeps target's other columns") {
    val source = Seq((2L, "ignored", 5.0)).toDF("k", "name", "bal")
    val out = Merge.merge(target, source, Seq("k"),
        updates = Map("name" -> Merge.t("name"),
          "bal" -> (Merge.t("bal") + Merge.s("bal"))))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b", 25.0), (3L, "c", 30.0)))
  }

  test("merge: insertWhen=false drops unmatched source rows") {
    val source = Seq((9L, "x", 1.0)).toDF("k", "name", "bal")
    val out = Merge.merge(target, source, Seq("k"), insertWhen = lit(false))
    assert(out.count() == 3)
  }

  test("merge: source must carry every target column") {
    val bad = Seq((1L, "x")).toDF("k", "name")
    intercept[IllegalArgumentException] {
      Merge.merge(target, bad, Seq("k"))
    }
  }

  test("merge: requireUniqueSource fails on duplicate source keys, passes on unique") {
    // SQL MERGE raises on multi-match; without the guard this emulation
    // would silently fan the matched target row out into two output rows
    val dup = Seq((2L, "b2", 1.0), (2L, "b3", 2.0)).toDF("k", "name", "bal")
    val e = intercept[Exception] {
      // collect, not count: the guard lives in the row projection, so it
      // fires on any real materialization (count() prunes all columns)
      Merge.merge(target, dup, Seq("k"), requireUniqueSource = true).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(_.contains("duplicate source rows")), messages.mkString(" | "))

    val uniq = Seq((2L, "b2", 99.0)).toDF("k", "name", "bal")
    val out = Merge.merge(target, uniq, Seq("k"), requireUniqueSource = true)
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0)))
  }

  test("mergePartitioned rewrites ONLY the partitions the source touches") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge").toString + "/store"
    val tgt = (0L until 20L).map(k => (k, s"v$k", (k % 4).toInt)).toDF("k", "name", "p")
    tgt.repartition(2).write.partitionBy("p").parquet(dir)

    // byte-level identity snapshot of a partition dir: (relative path, size, mtime)
    def snapshot(p: Int): Seq[(String, Long, Long)] = {
      val root = java.nio.file.Paths.get(dir, s"p=$p")
      val it = java.nio.file.Files.walk(root).iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (java.nio.file.Files.isRegularFile(f))
          buf += ((root.relativize(f).toString, java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis))
      }
      buf.toSeq.sorted
    }
    val before2 = snapshot(2)
    val before3 = snapshot(3)

    // source: update k=0 (partition 0), insert k=101 into partition 1 —
    // partitions 2 and 3 are untouched and must not be rewritten
    val src = Seq((0L, "UPDATED", 0), (101L, "new", 1)).toDF("k", "name", "p")
    Merge.mergePartitioned(spark, dir, src, Seq("k"), "p")

    assert(snapshot(2) == before2, "partition p=2 was rewritten")
    assert(snapshot(3) == before3, "partition p=3 was rewritten")
    val got = spark.read.parquet(dir)
    assert(got.count() == 21)
    assert(got.filter($"k" === 0L).select("name").as[String].head() == "UPDATED")
    assert(got.filter($"k" === 101L).select("p").as[Int].head() == 1)
    // untouched partitions' ROWS also intact
    assert(got.filter($"p" === 2).count() == 5 && got.filter($"p" === 3).count() == 5)
  }

  test("mergePartitioned: deleteWhen can empty a partition; others untouched") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge2").toString + "/store"
    (0L until 8L).map(k => (k, s"v$k", (k % 2).toInt)).toDF("k", "name", "p")
      .write.partitionBy("p").parquet(dir)
    // delete every row of partition 0 (keys 0,2,4,6 matched with DEL)
    val src = Seq(0L, 2L, 4L, 6L).map(k => (k, "DEL", 0)).toDF("k", "name", "p")
    Merge.mergePartitioned(spark, dir, src, Seq("k"), "p",
      insertWhen = lit(false), deleteWhen = Merge.s("name") === "DEL")
    val got = spark.read.parquet(dir)
    assert(got.filter($"p" === 0).count() == 0)
    assert(got.filter($"p" === 1).count() == 4)
  }

  test("mergePartitioned: crash mid-swap (leaf set aside, not yet replaced) " +
      "— replay recovers the partition, no data loss") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge3").toString + "/store"
    (0L until 8L).map(k => (k, s"v$k", (k % 2).toInt)).toDF("k", "name", "p")
      .write.partitionBy("p").parquet(dir)

    // Simulate the crash window: the swap loop renamed p=0 into the
    // set-aside dir and died before renaming the merged tmp into place.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(dir + "__setaside")
    fs.mkdirs(aside)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, "p=0"),
      new org.apache.hadoop.fs.Path(aside, "p=0")))

    // A replayed merge must first roll p=0 back (see all 4 of its rows in
    // the slice), then apply the update — not merge against a vanished
    // partition and lose keys 2/4/6.
    val src = Seq((0L, "UPDATED", 0)).toDF("k", "name", "p")
    Merge.mergePartitioned(spark, dir, src, Seq("k"), "p")
    val got = spark.read.parquet(dir)
    assert(got.count() == 8, "crash recovery lost rows")
    assert(got.filter($"k" === 0L).select("name").as[String].head() == "UPDATED")
    assert(got.filter($"p" === 0).count() == 4)
    assert(!fs.exists(aside), "set-aside dir not cleaned up")
  }

  test("mergePartitioned: a matched key that moves partitions fails loudly " +
      "instead of stranding its old row") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge5").toString + "/store"
    (0L until 8L).map(k => (k, s"v$k", (k % 2).toInt)).toDF("k", "name", "p")
      .write.partitionBy("p").parquet(dir)
    // k=2 lives in p=0 but the source claims p=1; another source row touches
    // p=0 so BOTH partitions are in the slice and the match is visible.
    // Without the guard the old p=0 row would silently survive alongside the
    // new p=1 row. The plan-embedded raise_error must fire instead.
    val src = Seq((0L, "ok", 0), (2L, "MOVED", 1), (1L, "ok", 1))
      .toDF("k", "name", "p")
    val ex = intercept[Exception] {
      Merge.mergePartitioned(spark, dir, src, Seq("k"), "p")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("moved partitions")), s"got: ${msgs(ex)}")
    // and the target is untouched (the write failed before any swap)
    val got = spark.read.parquet(dir)
    assert(got.count() == 8)
    assert(got.filter($"k" === 2L).select("name").as[String].head() == "v2")
  }

  test("mergePartitioned: legacy in-target leaf__old from a crashed pre-v6 " +
      "swap is healed before the read, not parsed as a partition value") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge4").toString + "/store"
    (0L until 8L).map(k => (k, s"v$k", (k % 2).toInt)).toDF("k", "name", "p")
      .write.partitionBy("p").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    // old protocol's crash artifact: leaf renamed to leaf__old in-place
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, "p=1"),
      new org.apache.hadoop.fs.Path(dir, "p=1__old")))

    val src = Seq((1L, "UPDATED", 1)).toDF("k", "name", "p")
    Merge.mergePartitioned(spark, dir, src, Seq("k"), "p")
    val got = spark.read.parquet(dir)
    assert(got.count() == 8, "legacy recovery lost rows")
    assert(got.schema("p").dataType == org.apache.spark.sql.types.IntegerType,
      "partition column inferred as non-int: __old dir leaked into discovery")
    assert(got.filter($"k" === 1L).select("name").as[String].head() == "UPDATED")
    assert(got.filter($"p" === 1).count() == 4)
  }

  // ---- HeavyHitters ----

  test("misra-gries candidates are a superset of true > n/k keys; two-pass result is exact") {
    // 1000 rows: 'A' 400, 'B' 250 (> n/k = 200), 60 cold keys x ~6
    val rows = Seq.fill(400)("A") ++ Seq.fill(250)("B") ++
      (0 until 350).map(i => s"cold${i % 60}")
    val df = rows.toDF("v").repartition(7) // force partial merges
    val got = HeavyHitters.heavyHitters(df, col("v"), k = 5)
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("A", 400L, 0.4), ("B", 250L, 0.25)))
  }

  test("heavy hitters: no key above threshold -> empty, schema stable") {
    val df = (0 until 100).map(i => s"u$i").toDF("v")
    val got = HeavyHitters.heavyHitters(df, col("v"), k = 10)
    assert(got.columns.toSeq == Seq("key", "cnt", "share") && got.count() == 0)
  }

  test("misra-gries merge trims to at most k counters") {
    val mg = new HeavyHitters.MisraGries(3)
    val a = HeavyHitters.Summary(6, Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    val b = HeavyHitters.Summary(6, Map("d" -> 3L, "e" -> 2L, "f" -> 1L))
    val m = mg.merge(a, b)
    assert(m.n == 12 && m.counters.size <= 3)
    // pivot (4th largest = 2) subtracted: only counts > 2 survive, shrunk
    assert(m.counters == Map("a" -> 1L, "d" -> 1L))
  }

  test("heavy hitters ignore null keys") {
    val df = (Seq.fill(10)(Some("A")) ++ Seq.fill(5)(Option.empty[String])).toDF("v")
    val got = HeavyHitters.heavyHitters(df, col("v"), k = 2)
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("A", 10L, 1.0))) // share over non-null n
  }

  // ---- EntityMatch ----

  test("blocked match finds the perturbed twin; ties break on (dist, r_key)") {
    val clean = Seq((1L, "widget-0001"), (2L, "widget-0002"), (3L, "gadget-0001"))
      .toDF("id", "name")
    val dirty = Seq((10L, "widget-000X"), (30L, "gadget-0001")).toDF("id", "name")
    val got = EntityMatch.bestMatch(dirty, clean, "id", "name", "id", "name",
        t => substring(t, 1, 8), maxDist = 2)
      .orderBy("l_key").as[(Long, Long, Int)].collect().toSeq
    // widget-000X is dist 1 from BOTH widget rows -> min r_key wins
    assert(got == Seq((10L, 1L, 1), (30L, 3L, 0)))
  }

  test("blocking prevents cross-block comparisons (no cartesian)") {
    val clean = Seq((1L, "aaaa1"), (2L, "bbbb1")).toDF("id", "name")
    val dirty = Seq((10L, "aaaa2")).toDF("id", "name")
    val pairs = EntityMatch.blockedEditDistancePairs(dirty, clean,
      "id", "name", "id", "name", t => substring(t, 1, 4), maxDist = 3)
    // bbbb1 is within dist 3?? no: dist(aaaa2, bbbb1) = 5 edits... but even
    // a permissive budget never sees it: different block
    assert(pairs.as[(Long, Long, Int)].collect().toSeq == Seq((10L, 1L, 1)))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("JW best match: exact copy beats near-copy, prefix boost keeps a " +
      "last-char corruption high, ties break on min r_key") {
    val clean = Seq((1L, "martha"), (2L, "marhta"), (3L, "marlin"))
      .toDF("id", "name")
    val dirty = Seq((10L, "marhta")).toDF("id", "name")
    val got = EntityMatch.bestMatchJaroWinkler(dirty, clean,
        "id", "name", "id", "name", t => substring(t, 1, 3), minSim = 0.7)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((10L, 2L, 1.0)), s"exact copy must win: $got")

    // identical right texts -> identical sims -> min r_key
    val twins = Seq((5L, "martha"), (4L, "martha")).toDF("id", "name")
    val tie = EntityMatch.bestMatchJaroWinkler(dirty, twins,
        "id", "name", "id", "name", t => substring(t, 1, 3), minSim = 0.7)
      .as[(Long, Long, Double)].collect().toSeq
    assert(tie == Seq((10L, 4L, 0.961111)))

    // corruption of the LAST char of a 18-char name stays above 0.95
    // (prefix boost), while blocking still bounds the candidate set
    val longClean = Seq((7L, "Customer#000000042")).toDF("id", "name")
    val longDirty = Seq((70L, "Customer#00000004~")).toDF("id", "name")
    val sim = EntityMatch.bestMatchJaroWinkler(longDirty, longClean,
        "id", "name", "id", "name", t => substring(t, 1, 16), minSim = 0.9)
      .as[(Long, Long, Double)].head()._3
    assert(sim > 0.95, s"prefix boost lost: $sim")
  }

  // ---- Scd ----

  test("scd2 collapses consecutive duplicates and chains validity") {
    val ts = (m: Int) => Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, "new", ts(1), 101L), (1L, "new", ts(2), 102L),
      (1L, "active", ts(3), 103L), (1L, "new", ts(4), 104L),
      (2L, "active", ts(1), 201L))
      .toDF("user_id", "status", "ts", "event_id")
    val got = Scd.scd2(ev, Seq("user_id"), "status", "ts", "event_id")
      .select($"user_id", $"status", $"valid_from", $"valid_to", $"version", $"is_current")
      .orderBy("user_id", "version")
      .as[(Long, String, Timestamp, Option[Timestamp], Int, Boolean)]
      .collect().toSeq
    assert(got == Seq(
      (1L, "new", ts(1), Some(ts(3)), 1, false),
      (1L, "active", ts(3), Some(ts(4)), 2, false),
      (1L, "new", ts(4), None, 3, true),
      (2L, "active", ts(1), None, 1, true)))
  }

  test("scd2: null attribute values version null-safely") {
    val ts = (m: Int) => Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, Option.empty[String], ts(1), 1L), (1L, Option.empty[String], ts(2), 2L),
      (1L, Some("x"), ts(3), 3L))
      .toDF("user_id", "status", "ts", "event_id")
    val got = Scd.scd2(ev, Seq("user_id"), "status", "ts", "event_id")
    // two versions: the null run collapses to one, then 'x'
    assert(got.count() == 2)
    assert(got.orderBy("version").select("status").as[Option[String]]
      .collect().toSeq == Seq(None, Some("x")))
  }

  // ---- dense ids (RangeScan.rank) ----

  test("dense ids are 0..n-1 in key order, across multiple range partitions") {
    val df = (0 until 997).map(i => (i * 7) % 997).toDF("k").repartition(8)
    def denseIds = graft.ops.RangeScan.rank(df, $"k").df
      .select($"k", ($"__rank" - 1).as("dense_id"))
    val got = denseIds.orderBy("k").as[(Int, Long)].collect().toSeq
    assert(got.map(_._2) == (0L until 997L)) // dense, no gaps, no dupes
    assert(got.map(_._1) == got.map(_._1).sorted) // id order = key order
    // and the plan must NOT contain a single-partition global sort
    val plan = denseIds.queryExecution.executedPlan.toString()
    assert(!plan.contains("SinglePartition"), "global window leaked in")
  }

  // ---- OofTargetEncoder ----

  test("oof encoding excludes the row's own fold; single-fold category -> null") {
    val df = Seq(
      ("a", 0, 10.0), ("a", 0, 20.0), ("a", 1, 40.0),
      ("b", 0, 5.0)) // b exists only in fold 0
      .toDF("cat", "fold", "y")
    val fit = OofTargetEncoder.fit(df, "cat", "y", col("fold"))
      .orderBy("category", "fold")
      .as[(String, Int, Option[Double])].collect().toSeq
    assert(fit == Seq(
      ("a", 0, Some(40.0)),        // other-fold mean = 40/1
      ("a", 1, Some(15.0)),        // (10+20)/2
      ("b", 0, None)))             // no other-fold evidence
    val encoded = OofTargetEncoder.transform(df, OofTargetEncoder.fit(
        df, "cat", "y", col("fold")), "cat", col("fold"), "enc")
    assert(encoded.filter($"cat" === "a" && $"fold" === 1)
      .select("enc").as[Double].head() == 15.0)
  }
}
