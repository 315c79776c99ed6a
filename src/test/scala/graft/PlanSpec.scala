package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{CoreQueries, JoinQueries, SimQueries}

/** Physical-plan regression guards: the scale properties claimed in the
  * README (pushdown, pruning, broadcast strategy, codegen) asserted against
  * the actual executed plans. A change that silently turns a broadcast join
  * into a shuffle, or loses scan pushdown, fails here — not at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.executedPlan.toString() + "\n" + qe.optimizedPlan.toString()
  }

  private def formatted(df: DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q01: shipdate filter is pushed to the parquet scan; columns pruned") {
    val p = formatted(CoreQueries.q01PricingSummary.fn(spark, sf001))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "filter not pushed to scan")
    assert(!p.contains("l_orderkey"), "unused columns not pruned from ReadSchema")
  }

  test("q16: dimension joins are broadcast, not shuffled") {
    val p = formatted(JoinQueries.q16Join3Revenue.fn(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast hash join")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("q19: 10-city theta join is a broadcast nested loop with pruned scan") {
    val p = formatted(JoinQueries.q19GeoThetaJoin.fn(spark, sf001))
    assert(p.contains("BroadcastNestedLoopJoin"), "expected broadcast NLJ")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint>"),
      "scan should read only c_custkey")
  }

  test("q48: similarity scoring uses the custom DotProduct inside codegen stages") {
    val df = SimQueries.q48CosineTopK.fn(spark, sf001)
    val p = formatted(df)
    assert(p.contains("dotproduct"), "custom DotProduct expression not in plan")
    // AQE finalizes this df's physical plan only when IT executes (count()
    // would build a separate QueryExecution) — collect, then inspect
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString()
    assert(finalPlan.contains("*("), "no whole-stage codegen stage in final plan")
  }

  test("q48: per-query top-k is a partial aggregate, not a |Q|-partition window") {
    val p = planOf(SimQueries.q48CosineTopK.fn(spark, sf001))
    assert(!p.contains("Window"), "scored relation globally windowed by qid")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "expected a typed top-k aggregate")
  }

  test("q49: near-dup candidates come from bucketed joins, never all-pairs " +
      "(the only BNLJ is the 1-row maxPairs budget broadcast)") {
    val p = planOf(SimQueries.q49CosineNearDup.fn(spark, sf001))
    assert(!p.contains("CartesianProduct"), "all-pairs cartesian product in plan")
    // the pair join must be the bucketed equi join on bp — an all-pairs
    // vector join would surface as a BNLJ carrying the vector columns
    assert(p.contains("BroadcastHashJoin [bp"),
      "candidate pair join is not the bucketed bp hash join")
    // the guard subtree re-expands under BOTH sides of the pair join, so
    // up to two 1-row budget BNLJs; anything more is a real cross join
    val nBnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nBnlj <= 2 && p.contains("raise_error"),
      s"expected only the guard's 1-row budget BNLJ(s), found $nBnlj")
  }

  test("q92/q269 pair rung: within-cell pairs come from the cell equi " +
      "join, never all-pairs, and carry the 1-row maxCellPairs budget " +
      "guard (the q49 pattern on the quantizer-cell rung)") {
    val e = Tables.embeddings(spark, sf001)
    val cents = graft.sim.Similarity.seedCentroids(e, "vec_id", "embedding", 8)
    val p = planOf(graft.sim.Similarity.cellPairsPlanProbe(
      e, "vec_id", "embedding", cents, 0.4))
    assert(!p.contains("CartesianProduct"), "all-pairs cartesian in plan")
    // the pair join must be keyed on cell; assignment's centroid cross
    // join and the guard's 1-row budget broadcast are the only BNLJs
    assert(p.contains("raise_error"), "maxCellPairs budget guard not in plan")
    assert("Join.*\\[cell".r.findFirstIn(p).isDefined ||
      p.contains("HashJoin [cell"), s"pair join not keyed on cell:\n$p")
  }

  test("q300 hier rung: child arrays arrive by an EQUI join on super " +
      "(no cartesian), the pair join stays keyed on cell, and the " +
      "maxCellPairs guard rides the plan") {
    val e = Tables.embeddings(spark, sf001)
    val p = planOf(graft.sim.Similarity.hierCellPairsPlanProbe(
      e, "vec_id", "embedding", k = 8, 0.4))
    assert(!p.contains("CartesianProduct"), "all-pairs cartesian in plan")
    assert(p.contains("raise_error"), "maxCellPairs budget guard not in plan")
    assert("Join.*\\[cell".r.findFirstIn(p).isDefined ||
      p.contains("HashJoin [cell"), s"pair join not keyed on cell:\n$p")
    assert("Join.*\\[super".r.findFirstIn(p).isDefined ||
      p.contains("HashJoin [super"), s"child join not keyed on super:\n$p")
  }

  test("q303 depth-3 rung: mid and child arrays arrive by EQUI joins " +
      "(super / m keys, no cartesian), the pair join stays keyed on cell, " +
      "and the maxCellPairs guard rides the plan") {
    val e = Tables.embeddings(spark, sf001)
    val p = planOf(graft.sim.Similarity.hier3CellPairsPlanProbe(
      e, "vec_id", "embedding", k = 8, 0.4))
    assert(!p.contains("CartesianProduct"), "all-pairs cartesian in plan")
    assert(p.contains("raise_error"), "maxCellPairs budget guard not in plan")
    assert("Join.*\\[cell".r.findFirstIn(p).isDefined ||
      p.contains("HashJoin [cell"), s"pair join not keyed on cell:\n$p")
    assert("Join.*\\[super".r.findFirstIn(p).isDefined ||
      p.contains("HashJoin [super"), s"mid join not keyed on super:\n$p")
    assert("Join.*\\[m".r.findFirstIn(p).isDefined ||
      p.contains("HashJoin [m"), s"child join not keyed on m:\n$p")
  }

  test("q302 e2e ANN: probed candidates arrive by the cell equi join, " +
      "queries/probes/centroids broadcast, no data×data cartesian — the " +
      "only BNLJs are the bounded broadcast sides (centroid table, 10-row " +
      "query set)") {
    val p = planOf(SimQueries.q302AnnE2e.fn(spark, sf001))
    assert(!p.contains("CartesianProduct"), "data×data cartesian in plan")
    assert("HashJoin \\[?cell".r.findFirstIn(p).isDefined ||
      "Join.*\\[cell".r.findFirstIn(p).isDefined,
      s"candidate join not keyed on cell:\n$p")
    // centroid-probe cross join + brute-force query broadcast: both sides
    // bounded (nLists rows / |Q| rows); anything more is a real cross
    // join. planOf dumps executed + optimized plans, so each join counts
    // twice: 2 bounded BNLJs -> at most 4 mentions.
    val nBnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nBnlj <= 4, s"expected at most the two bounded BNLJs " +
      s"(×2 plan dumps), found $nBnlj mentions")
    // NOTE: recallAtK's |Q|·k-row hit joins may plan as SortMergeJoin
    // (post-aggregate relations have no size stats) — harmless at 30
    // rows, so no SMJ assertion; the scale-bearing joins are pinned above.
  }

  test("q67: as-of join is one keyed shuffle + window — no range cross join") {
    val p = planOf(graft.queries.MlStreamQueries.q67AsofJoin.fn(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of join degenerated into a cross product")
    assert(p.contains("Window"), "expected the ordered carry-forward window")
  }

  test("q74: doc-id bound is pushed to the documents scan; columns pruned") {
    val p = formatted(graft.queries.CurationQueries.q74Repetition.fn(spark, sf001))
    assert(p.contains("LessThan(doc_id,50)"), "id bound not pushed to scan")
    assert(!p.contains("n_chars"), "unused columns not pruned from ReadSchema")
  }

  test("projection-only read prunes the parquet schema") {
    val df = Tables.lineitem(spark, sf001).select("l_orderkey", "l_quantity")
    val p = formatted(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))
  }
  test("q85: benchmark shingles broadcast — the training corpus never shuffles") {
    val p = formatted(graft.queries.CurationQueries.q85Decontam.fn(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast probe of bench shingles")
    assert(!p.contains("SortMergeJoin"), "corpus side degraded to a shuffle join")
  }

  test("q84: quantization is a pure projection — no shuffle before the sort") {
    val p = formatted(graft.queries.SimQueries.q84QuantizeInt8.fn(spark, sf001))
    // exactly one exchange: the final orderBy's range partitioning
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected shuffles in a per-row op:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,200)]"),
      "vec_id bound not pushed to the embeddings scan")
  }

  test("q82: packing plan is one keyed window shuffle per stream") {
    val p = planOf(graft.queries.CurationQueries.q82ChunkPack.fn(spark, sf001))
    assert(p.contains("Window"), "expected the running-sum window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q89: unigram NLL scoring partially aggregates before its doc shuffle") {
    // the (doc, token) explode+combine is materialized behind an eager
    // localCheckpoint (shared by tf/total/scoring), so the visible plan is
    // the scoring side: per-doc NLL terms must combine map-side before the
    // exchange, and the 1-row total must broadcast, never cross-join
    val p = formatted(graft.queries.TextQueries.q89UnigramNll.fn(spark, sf001))
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    assert(!p.contains("CartesianProduct"), "scalar total must broadcast")
  }

  test("q91: balanced shards rank via range partition — no global window") {
    val df = graft.queries.CurationQueries.q91ShardAssign.fn(spark, sf001)
    val p = planOf(df)
    assert(p.contains("rangepartitioning") || p.contains("RangePartitioning"),
      "expected a distributed range repartition for the global rank")
    // the rank's running count is a window per range partition (__pid)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.forall(_.partitionSpec.map(_.sql).exists(_.contains("__pid"))),
      s"global rank must not use an unpartitioned window:\n$p")
  }

  test("q93: HTML extraction is a pure projection — no shuffle before the sort") {
    val p = formatted(graft.queries.TextQueries.q93HtmlExtract.fn(spark, sf001))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected shuffles in a per-row op:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)]"),
      "doc_id bound not pushed to the documents scan")
  }

  test("q117: Lloyd IVF scores via broadcast probe join — no cartesian, " +
      "no |Q|-partition window") {
    val p = planOf(SimQueries.q117IvfLloyd.fn(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "IVF scoring degenerated to an all-pairs join")
    assert(p.contains("BroadcastHashJoin"), "probe join should broadcast the query side")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "),
      "per-query ranking must be the TopKAgg partial aggregate, not a window")
  }

  test("bloom prefilter probes via the native might_contain predicate — " +
      "no Scala UDF in the plan") {
    val docs = Tables.documents(spark, sf001)
    val existing = docs.filter(col("doc_id") < 100)
    val batch = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    val out = graft.text.DedupOps.incrementalExactDedupBloom(
      batch, existing, "doc_id", md5(col("text")),
      expectedKeys = 1000L, fpp = 0.01)
    // the operator's own plan hides behind its checkpoint barrier — build
    // the same probe it uses and inspect the filter plan directly
    val probe = graft.text.DedupOps.bloomKeyProbe(
      existing.select(md5(col("text")).as("__key")), 1000L, 0.01)
    val probePlan = batch.withColumn("__key", md5(col("text")))
      .filter(probe(col("__key")))
      .queryExecution.executedPlan.toString()
    assert(probePlan.contains("might_contain"), "native bloom probe missing")
    assert(!probePlan.contains("ScalaUDF"), "bloom probe fell back to a Scala UDF")
    assert(out.count() > 0)
  }

  test("q126: span recovery plans keyed equi joins + a keyed islands " +
      "window — no all-pairs, no global window") {
    val p = planOf(graft.queries.DedupQueries.q126SharedSpans.fn(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "span matching degenerated to an all-pairs join")
    assert(p.contains("Window"), "expected the gaps-and-islands window")
    // the over-common-fp guard must reach the plan as a LEFT SEMI probe
    assert(p.contains("LeftSemi"), "boilerplate-fp guard missing from the plan")
  }

  test("q104: DSIR log-ratio table broadcasts — the corpus side never " +
      "shuffles for the scoring join") {
    // the ratio table is <= `buckets` rows; the scoring join over the
    // (doc, bucket) counts must be a map-side broadcast probe, and the raw
    // counts must partially aggregate before their exchange
    val p = planOf(graft.queries.CurationQueries.q104DsirWeights.fn(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast of the ratio table")
    assert(!p.contains("SortMergeJoin"), "scoring join must not sort-merge")
    assert(!p.contains("CartesianProduct"), "totals must broadcast")
  }

  test("q106: perplexity buckets assign via broadcast cutoffs, no global sort") {
    val p = planOf(graft.queries.TextQueries.q106PplBuckets.fn(spark, sf001))
    assert(!p.contains("Window"), "tercile assignment must not use a global window")
    assert(!p.contains("CartesianProduct"), "1-row cutoffs must broadcast")
  }

  test("q132: MERGE is ONE full-outer equi join — no cartesian, no window") {
    val p = planOf(JoinQueries.q132MergeUpsert.fn(spark, sf001))
    assert(p.contains("FullOuter"), "expected a full-outer merge join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "merge degenerated to a non-equi join")
    assert(!p.contains("Window"), "merge must not need a window")
  }

  test("q134: fuzzy match joins on the block key, never all-pairs; best-pick " +
      "is a keyed aggregate, not a window") {
    val p = planOf(JoinQueries.q134FuzzyMatch.fn(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "blocking failed: all-pairs join in the plan")
    assert(p.contains("levenshtein"), "edit distance not in the plan")
    assert(!p.contains("Window"), "best-match must be min(struct), not a window")
  }

  test("q135: both SCD2 windows share one user_id shuffle") {
    val df = graft.queries.WindowExtraQueries.q135Scd2.fn(spark, sf001)
    val p = planOf(df)
    // two WindowExec nodes but only one exchange on user_id: the second
    // window reuses the first's partitioning + ordering
    val exchanges = "Exchange hashpartitioning".r.findAllIn(
      df.queryExecution.executedPlan.toString()).size
    assert(exchanges == 1, s"expected 1 keyed exchange, saw $exchanges")
    assert(p.contains("Window"), "expected window-based SCD build")
  }

  test("q137: pagerank iterations are keyed equi joins — no cartesian, no window") {
    val p = planOf(graft.queries.AnalyticsQueries.q137PageRank.fn(spark, sf001))
    assert(!p.contains("CartesianProduct"), "rank propagation went all-pairs")
    assert(!p.contains("Window"), "pagerank must not need a window")
  }

  test("q139: funnel steps share ONE user_id shuffle (chained same-partition windows)") {
    val df = graft.queries.AnalyticsQueries.q139Funnel.fn(spark, sf001)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(
      df.queryExecution.executedPlan.toString()).size
    assert(exchanges == 1, s"expected 1 keyed exchange, saw $exchanges")
  }

  test("q138: resample grid + ffill stay partitioned by user — no global window") {
    val p = planOf(graft.queries.AnalyticsQueries.q138ResampleFfill.fn(spark, sf001))
    assert(!p.contains("CartesianProduct"), "grid join went all-pairs")
    assert(p.contains("windowspecdefinition(user_id"),
      "ffill window must partition by user_id")
  }

  test("q133: heavy-hitter exact pass pushes the candidate In-filter to the scan") {
    val df = CoreQueries.q133HeavyHitters.fn(spark, sf001)
    val p = formatted(df)
    // the second pass must read only l_orderkey and filter before the agg
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      "candidate pass should read only the key column")
  }

  test("mergePartitioned: touched-partition filter prunes the target scan " +
      "(PartitionFilters, not a post-scan Filter)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("pmerge_plan").toString + "/store"
    (0L until 20L).map(k => (k, s"v$k", (k % 4).toInt)).toDF("k", "name", "p")
      .write.partitionBy("p").parquet(dir)
    // source touches partitions 0 and 1 of 4 — the target read must be
    // O(touched): the isin must land in the scan's PartitionFilters so the
    // other N-2 partitions are pruned at FILE LISTING, never opened
    val src = Seq((0L, "x", 0), (101L, "y", 1)).toDF("k", "name", "p")
    val (touched, merged) = graft.ops.Merge.mergePartitionedPlan(
      spark, dir, src, Seq("k"), "p")
    assert(touched == Seq(0, 1))
    val p = formatted(merged)
    val pf = p.linesIterator.filter(_.contains("PartitionFilters:")).mkString("\n")
    assert(pf.contains("IN (0,1)"),
      s"touched-partition isin not in PartitionFilters:\n$pf")
    // and the executed scan must actually read only the touched files.
    // AQE wraps the final plan in AdaptiveSparkPlanExec / QueryStageExec
    // nodes whose inner plans are NOT children — descend explicitly.
    merged.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
    }.flatten
    val scanned = scans(merged.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("store")))
      .map(_.metrics("numFiles").value)
    val allFiles = spark.read.parquet(dir).inputFiles.length
    def filesUnder(part: Int): Long = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, s"p=$part"))
      try it.iterator().asScala.count(f =>
        java.nio.file.Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      finally it.close()
    }
    val touchedFiles = filesUnder(0) + filesUnder(1)
    assert(scanned.nonEmpty && scanned.sum <= touchedFiles && scanned.sum < allFiles,
      s"target scan read ${scanned.sum} files; touched partitions hold " +
        s"$touchedFiles of $allFiles total")
  }

  test("q151: weighted sample is a TakeOrdered top-k, never a global sort") {
    val p = planOf(graft.queries.CurationQueries.q151WeightedSample.fn(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample lost the top-k plan:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      "weighted sample degraded to a global range sort")
  }

  test("q149: KS ECDF windows are partition-keyed — no data-sized " +
      "single-partition window") {
    // the single-partition global window (WindowExec with an empty
    // partition spec over data rows) is exactly what ksStatistic's
    // range-partitioned prefix sums exist to avoid
    val df = graft.queries.MonitoringQueries.q149KsDrift.fn(spark, sf001)
    val win = df.queryExecution.executedPlan.toString()
      .linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!win.contains("windowspecdefinition(v#"),
      s"KS window runs unpartitioned over values:\n$win")
    assert(win.isEmpty || win.contains("__pid"),
      s"KS window not keyed by partition id:\n$win")
  }

  test("q169: AUC rank windows are partition-keyed and the plan never " +
      "globally sorts the score axis into one task") {
    // the same prefix-sum contract as q149: ranks come from per-partition
    // windows + a bounded offset table, not a global ordered window
    val df = graft.queries.StatsQueries.q169Auc.fn(spark, sf001)
    val win = df.queryExecution.executedPlan.toString()
      .linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!win.contains("windowspecdefinition(v#"),
      s"AUC window runs unpartitioned over scores:\n$win")
    assert(win.isEmpty || win.contains("__pid"),
      s"AUC window not keyed by partition id:\n$win")
  }

  test("q171: PMI top-k is a TakeOrdered heap, never a global sort; the " +
      "corpus explode partial-aggregates before its shuffle") {
    val p = planOf(graft.queries.TextQueries.q171PmiCollocations.fn(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), s"PMI lost the top-k plan:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"PMI bigram count lost map-side combine:\n$p")
  }

  test("q173: multi-feature PSI windows are keyed by feature — never a " +
      "single-partition window over the stacked rows") {
    val df = graft.queries.MonitoringQueries.q173PsiMulti.fn(spark, sf001)
    val win = df.queryExecution.executedPlan.toString()
      .linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n")
    assert(win.nonEmpty && win.contains("feature#"),
      s"psiMulti window not keyed by feature:\n$win")
  }

  test("q186: Wasserstein ECDF windows are partition-keyed — the ∫dx gap " +
      "never plans a single-partition window") {
    val df = graft.queries.MonitoringQueries.q186Wasserstein.fn(spark, sf001)
    val win = df.queryExecution.executedPlan.toString()
      .linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!win.contains("windowspecdefinition(v#"),
      s"W1 window runs unpartitioned over values:\n$win")
    assert(win.isEmpty || win.contains("__pid"),
      s"W1 window not keyed by partition id:\n$win")
  }

  test("q189: basket-lift supports join by broadcast; the pair self-join " +
      "is keyed on the basket, never cartesian") {
    val p = planOf(graft.queries.AnalyticsQueries.q189BasketLift.fn(spark, sf001))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"item supports degraded to a shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"basket pair step planned a cartesian product:\n$p")
  }

  test("q190: Spearman rank windows are partition-keyed; the scored pass " +
      "is one aggregate, no global sort of data") {
    val df = graft.queries.StatsQueries.q190Spearman.fn(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString()
    val win = plan.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!win.contains("windowspecdefinition(v#"),
      s"rank window runs unpartitioned over values:\n$win")
    assert(win.isEmpty || win.contains("__pid"),
      s"rank window not keyed by partition id:\n$win")
  }

  test("q183/q184: ANOVA and the Cramér's-V sweep keep map-side partial " +
      "aggregation on their one data pass") {
    val a = planOf(graft.queries.StatsQueries.q183Anova.fn(spark, sf001))
    assert(a.contains("partial_"), s"ANOVA lost partial aggregation:\n$a")
    assert(!a.contains("WindowExec"), s"ANOVA plans a window over data:\n$a")
    // the sweep's data pass runs at snapshot time (see StatsSpec scan
    // guard); here: the returned plan must not re-scan any parquet source
    val c = planOf(graft.queries.StatsQueries.q184CramersV.fn(spark, sf001))
    assert(!c.contains("Scan parquet"),
      s"Cramér's-V sweep re-scans the source after its snapshot:\n$c")
  }

  test("q211: 6-table star plans every dim as a broadcast hash join — " +
      "no sort-merge joins, region filter pushed to its scan") {
    val p = formatted(JoinQueries.q211StarRevenue.fn(spark, sf001))
    assert(!p.contains("SortMergeJoin"),
      s"a star dim degraded to sort-merge:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 4, s"expected >=4 broadcast dim joins, saw $bhj:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"),
      "region predicate not pushed to the parquet scan")
  }

  test("q179: quantile-normalize mapping is a pure projection — no join, " +
      "no shuffle, no window on the data side") {
    val docs = Tables.documents(spark, sf001)
    val mapped = graft.ops.Stats.quantileNormalize(
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "n_chars"),
      col("n_chars"),
      docs.filter(col("doc_id") % 2 === 0), col("n_chars"))
    val p = mapped.queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Window"),
      s"quantile-normalize mapping is not a pure projection:\n$p")
  }
}
