package graft

import org.scalatest.funsuite.AnyFunSuite

/** Explode-amplification census — the [[CollectBarrierLintSpec]] idea
  * applied to the OTHER recurring scale-killer: an `explode(`/`posexplode(`
  * whose input inherits an under-partitioned scan serializes its whole
  * amplified map stage on one core (the q279 sf10 lesson — 84.5 s → 6.2 s
  * once spread; at 100 TB the same trap is a handful of unsplittable gzip
  * dumps feeding 1000 executors).
  *
  * Every file in src/main containing an explode site must be audited here:
  * either its corpus-scale amplification paths run behind
  * [[graft.ops.Spread]]'s size-floored guard, or every site is exempt for
  * a stated bounded reason (1-row/aggregated input, ×small-constant
  * amplification, fixture-bounded query, post-shuffle partitioning,
  * streaming pass-through). A NEW explode site fails this suite until it
  * is audited — guarded or exempted WITH its bound.
  */
class SpreadLintSpec extends AnyFunSuite {

  /** file (relative to src/main/scala/graft) ->
    * (occurrences of "explode(" — posexplode included, doc comments
    * included since the count is textual —, audit note). */
  private val audited: Map[String, (Int, String)] = Map(
    "enrich/Geocode.scala" -> (1,
      "exempt: explodes a 1-row wholetext JSON cache artifact"),
    "ml/DetLeaderboard.scala" -> (1,
      "exempt: x#models per test row (bounded model zoo)"),
    "multimodal/Multimodal.scala" -> (1,
      "guarded: sampleFrames spreads the narrow (id, meta) projection"),
    "ops/Checks.scala" -> (1,
      "exempt: explodes the 1-row metric aggregate into #checks rows"),
    "ops/Drift.scala" -> (4,
      "guarded: vocabJaccardPairs/jsdPairs token explodes spread; " +
        "exempt: contractReport/psiMultiReport stack x#columns (bounded)"),
    "ops/EventAnalytics.scala" -> (3,
      "exempt: resampleFfill grid is post-aggregate per key with its own " +
        "maxCellsPerKey raise; funnel counts explode a 1-row aggregate; " +
        "rfm's x3 metric stack reads the per-subject aggregate"),
    "ops/Stats.scala" -> (7,
      "guarded: both bootstrap resample explodes (x b per row) spread; " +
        "exempt: x#features / x#pairs / x#terms / x maxLag stacking " +
        "explodes (bounded small constants); spearman's x2 axis-stack " +
        "explode reads the already-spread frame"),
    "ops/Skew.scala" -> (1,
      "exempt: deliberate bounded salt replication of the SMALL side"),
    "queries/AnalyticsQueries.scala" -> (1,
      "exempt: 7-day sequence per aggregated week row"),
    "queries/CurationQueries.scala" -> (1,
      "exempt: q115 line explode is fixture-bounded (doc_id < 100)"),
    "queries/MonitoringQueries.scala" -> (1,
      "exempt: zips two bounded quantile arrays post-aggregate"),
    "queries/SimQueries.scala" -> (2,
      "exempt: q295 explodes a 5-row fixture; q294 a <=k centroid table"),
    "queries/StatsQueries.scala" -> (1,
      "guarded: q170 token explode spreads the documents scan"),
    "queries/TextQueries.scala" -> (4,
      "guarded: q107/q114/q222/q226 token explodes spread the scan"),
    "sim/Pca.scala" -> (3,
      "guarded: explodedById/positionalSums/positionMeans all spread"),
    "sim/Pq.scala" -> (4,
      "exempt: x m subvectors per row (m<=4); x nProbe cells per query; " +
        "stacked pqCodebooks' x m slice posexplode and its per-iter " +
        "means posexplode over the persisted stacked frame"),
    "sim/Similarity.scala" -> (10,
      "guarded: labelNoiseScreen spreads; others explode bounded " +
        "structures (block keys <=nBlocks, bands, probe cells, <=k " +
        "centroid tables) or post-shuffle relations (incl. the " +
        "hierLloyd means posexplode over the checkpointed " +
        "super-join output)"),
    "streaming/DedupStreams.scala" -> (1,
      "exempt: streaming frame — partitioning comes from the micro-batch " +
        "source; Spread passes streams through untouched by contract"),
    "text/Bpe.scala" -> (2,
      "guarded: learnMerges spreads the corpus collapse; the per-round " +
        "pair explode runs over the already-shuffled (word,freq) table"),
    "text/Curation.scala" -> (8, "guarded: corpus explodes spread"),
    "text/DedupOps.scala" -> (11, "guarded: gram/shingle explodes spread"),
    "text/ExactSubstrIndex.scala" -> (3,
      "guarded: gramRelation/probe explodes spread"),
    "text/Packing.scala" -> (2,
      "guarded: chunkSliding spreads the scan; exempt: packWindows " +
        "explodes AFTER the per-stream window shuffle (inherits keyed " +
        "partitioning)"),
    "text/Retrieval.scala" -> (2, "guarded: index-build explodes spread"),
    "text/TextAnalysis.scala" -> (5, "guarded: token-ops explodes spread"),
    "text/Unigram.scala" -> (3,
      "guarded: wordTable spreads the corpus collapse; seed/EM explodes " +
        "run over the already-shuffled (word,freq) table"),
    "text/UrlOps.scala" -> (1,
      "guarded: blocklistFlags spreads the narrow (id, url) projection"))

  test("every explode()/posexplode() file in src/main is in the audited " +
      "spread census; counts match exactly") {
    val found = SourceScan.count("explode(")
    val unaudited = found.toSeq
      .filter { case (f, n) => audited.get(f).map(_._1) != Some(n) }
      .sortBy(_._1)
    assert(unaudited.isEmpty,
      "explode sites outside the audited census (guard with " +
        "graft.ops.Spread or exempt with a stated bound, then update " +
        s"SpreadLintSpec): $unaudited")
    val stale = audited.keySet -- found.keySet
    assert(stale.isEmpty, s"audited files no longer contain explode(: $stale")
    // a file claiming "guarded" must actually reference Spread
    val claimsGuard = audited.collect {
      case (f, (_, note)) if note.startsWith("guarded") => f
    }
    val sources = SourceScan()
    val missingGuard = claimsGuard.filterNot(f => sources(f).contains("Spread.for"))
    assert(missingGuard.isEmpty,
      s"audited as guarded but no Spread call present: $missingGuard")
  }
}
