package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bounded-barrier census: every `.collect()` in library code must be a
  * BOUNDED driver barrier (≤#partitions offset tables, ≤#groups rate/merge
  * tables, 1-row totals, a capped adaptive path) — never data rows. The
  * per-file counts below are the audited census; a NEW collect() site
  * fails this suite until it is audited and added here WITH its bound.
  * This is the guard that keeps the "no driver-side data loops" claim in
  * README true as operators accumulate (the FleetWindowGuardSpec idea
  * applied to the other scale-killer class).
  */
class CollectBarrierLintSpec extends AnyFunSuite {

  /** file (relative to src/main/scala/graft) -> audited collect() count.
    * The comment states each site's bound. */
  private val audited: Map[String, Int] = Map(
    "ops/Merge.scala" -> 1,        // touched-partition values (≤#partitions)
    "ops/Skyline.scala" -> 1,      // per-partition y-minima (≤#partitions)
    "ops/Drift.scala" -> 1,        // jsdPairs' group list (≤#groups)
    "ops/RangeScan.scala" -> 1,    // per-(pid, key) prefix totals (≤partitions·#keys)
    "text/Curation.scala" -> 1,    // per-source sampling rates (≤#sources)
    "text/Retrieval.scala" -> 1,   // query-term df row (≤#query terms)
    "text/Bpe.scala" -> 2,         // learned merge table (≤#merges per round)
    "text/DedupOps.scala" -> 1,    // adaptive CC edges, HARD-capped ≤200k
    "Bench.scala" -> 2,            // JVM warmup actions (1-row / limit 10)
    "Preprocessing.scala" -> 1,    // union of tiny column aggregates
    "sim/Similarity.scala" -> 7,   // centroid/cell tables (≤nLists each); splitCell's 2-row seed; seedCentroidsDriver (≤k rows); hierAssignSaved supers (≤⌈√k⌉ rows)
    "sim/Opq.scala" -> 1,          // loadRotation (≤kOut rows)
    "text/Unigram.scala" -> 4,     // seed top/chars + per-round usage + load (all ≤seedSize+alphabet / vocab-bounded)
    "sim/Pca.scala" -> 1,          // dim²/2 covariance upper triangle
    "sim/Pq.scala" -> 4,           // loadIvfPqIndex coarse/books (≤nLists, ≤m·ksub); stacked pqCodebooks seed + per-iter books (≤m·ksub each)
    "enrich/Geocode.scala" -> 1,   // geocode cache map (≤#cached addresses)
    "tools/ProfileQuery.scala" -> 1, // dev profiling main, not library path
    "tools/OptProbe.scala" -> 2,   // dev phase-timing main: JVM warmup + a bounded table-warm collect
    "tools/BenchSf1.scala" -> 1,   // JVM warmup action (1-row sum)
    "encode/TargetEncoder.scala" -> 1) // category->mean map (≤#categories)

  test("every .collect() in src/main is in the audited bounded-barrier " +
      "census; counts match exactly") {
    // literal: never collect_list / collect_set aggregate calls
    val found = SourceScan.count(".collect()")
    val unaudited = found.toSeq.filter { case (f, n) => audited.get(f) != Some(n) }
    assert(unaudited.isEmpty,
      "collect() sites outside the audited census (audit the bound, then " +
        s"update CollectBarrierLintSpec): $unaudited vs audited ${unaudited.map(f => audited.get(f._1))}")
    val stale = audited.keySet -- found.keySet
    assert(stale.isEmpty, s"audited files no longer contain collect(): $stale")
  }

  test("README's generated operator index matches the live registry " +
      "(regenerate with tools.OperatorIndex after registry changes)") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val header = """(\d+) registered queries \((\d+) DuckDB-oracled\)""".r
    val m = header.findFirstMatchIn(readme)
    assert(m.isDefined, "README lost its generated operator-index header")
    assert(m.get.group(1).toInt == SparkEntry.queries.size &&
      m.get.group(2).toInt == SparkEntry.oracleSql.size,
      s"README index counts (${m.get.group(1)}/${m.get.group(2)}) are stale " +
        s"vs registry (${SparkEntry.queries.size}/${SparkEntry.oracleSql.size})")
    val rows = """\| q[0-9]""".r.findAllIn(readme).size
    assert(rows == SparkEntry.queries.size,
      s"README index has $rows query rows, registry has ${SparkEntry.queries.size}")
  }
}
