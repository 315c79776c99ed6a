package graft
import org.apache.spark.sql.functions._
/** One-off scale measurement (dev main, not a test): 1M synthetic docs with
  * planted dup structure, timing the dedup ladder end-to-end on every core
  * (SPARK_GRAFT_CPUS overrides; see [[graft.jobs.JobSession.build]]).
  *
  * TIMING ACTION: noop-datasource save on the final frame — FULL column
  * consumption, the round-12 bench action. The pre-round-14 series used
  * `.count()`, which can time pruned plans (count lets Catalyst drop
  * unreferenced join sides and final projections — BENCH_ACTION_AUDIT
  * measured 81/293 bench queries >1.5× higher under noop); COVERAGE.md's
  * quoted numbers are the round-14 noop series. Index-build rungs that END
  * in a parquet write are timed as the write itself (`action=write` —
  * writing is already full consumption). Set SPARK_GRAFT_SMOKE_ROWS=1 to
  * also print row counts (untimed; re-executes each plan) when a planted-
  * recovery figure is wanted. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.jobs.JobSession.build("graft-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    val n = 1000000L
    // ~25% exact dups (template collapse), long shared template spans
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ",
        lit("document body starts here with shared template words"),
        (col("id") % 750000).cast("string"),
        lit("middle filler section common to the corpus for span tests"),
        md5(concat(lit("u"), (col("id") % 750000).cast("string"))),
        lit("closing boilerplate that every page carries along")).as("text"))
      .localCheckpoint(true)
    // optional args: label prefixes to run (dev iteration; default all)
    val wanted = args.toSeq
    val withRows = sys.env.get("SPARK_GRAFT_SMOKE_ROWS").contains("1")
    def time(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      if (wanted.nonEmpty && !wanted.exists(label.startsWith)) return
      val t0 = System.nanoTime()
      val df = f
      df.write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = if (withRows) s" (${df.count()} rows)" else ""
      println(f"SCALE $label%s $secs%.1f s action=noop$rows")
    }
    // for rungs whose timed work IS a write (index builds): the write is
    // already full consumption, no noop pass needed
    def timeWrite(label: String)(f: => Unit): Unit = {
      if (wanted.nonEmpty && !wanted.exists(label.startsWith)) return
      val t0 = System.nanoTime()
      f
      println(f"SCALE $label%s ${(System.nanoTime() - t0) / 1e9}%.1f s action=write")
    }
    time("exact-dup-groups") {
      graft.text.DedupOps.exactDupGroups(docs, "doc_id", md5(col("text")))
    }
    time("bloom-incremental-dedup") {
      graft.text.DedupOps.incrementalExactDedupBloom(
        docs.filter(col("doc_id") >= 800000L), docs.filter(col("doc_id") < 800000L),
        "doc_id", md5(col("text")), expectedKeys = 1000000L)
    }
    time("exact-substr-spans") {
      // chars-linear: hash-count prune + exact verify + per-doc islands
      // (the q279 rung; template docs share long verbatim spans)
      graft.text.DedupOps.exactSubstrSpans(docs, "doc_id", col("text"),
        sub = 24)
    }
    // Persistable decontamination index: the point is that probe cost
    // tracks EVAL size, not train size — run with arg prefix "xsub" to get
    // build + both probe sizes in order (probes need the build's dir).
    // Every eval doc carries one train-template sentence (> 24 chars), so
    // every probe row flags — worst-case verify volume.
    val xsubDir = sys.props("java.io.tmpdir") + "/graft_scale_xsub"
    def xsubEval(m: Long) = spark.range(m)
      .select((col("id") + 5000000L).as("doc_id"),
        concat_ws(" ",
          lit("eval probe doc opens with novel words"),
          md5(concat(lit("e"), col("id").cast("string"))),
          lit("middle filler section common to the corpus for span tests"),
          md5(concat(lit("z"), col("id").cast("string")))).as("text"))
    timeWrite("xsub-build-1M-train") {
      graft.text.ExactSubstrIndex.build(docs, col("text"), xsubDir,
        sub = 24, buckets = 64)
    }
    time("xsub-probe-10k-eval") {
      graft.text.ExactSubstrIndex.probeSpans(spark, xsubDir,
        xsubEval(10000L), "doc_id", col("text"))
    }
    time("xsub-probe-100k-eval") {
      graft.text.ExactSubstrIndex.probeSpans(spark, xsubDir,
        xsubEval(100000L), "doc_id", col("text"))
    }
    time("minhash-lsh-pairs") {
      val sig = graft.text.DedupOps.minhashSignatures(docs, "doc_id", col("text"), 2)
      graft.text.DedupOps.lshCandidatePairs(sig, "doc_id", maxBucket = 20)
    }
    time("script+quality projection") {
      docs.select(graft.text.TextAnalysis.scriptCount(col("text"),
          graft.text.TextAnalysis.ScriptRanges.last._2).as("lat"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("q"))
        .agg(sum("lat"), avg("q"))
    }
    time("char-entropy projection") {
      docs.select(graft.text.TextAnalysis.charEntropy(col("text")).as("e"))
        .agg(avg("e"))
    }
    time("weighted-sample-top1k") {
      graft.text.Curation.weightedSample(
        docs.withColumn("w", length(col("text")).cast("double")),
        "doc_id", col("w"), k = 1000)
    }
    time("ks-10M-values") {
      val vals = spark.range(10000000L)
        .select(col("id"), (col("id") % 97).cast("double").as("v"))
      graft.ops.Drift.ksStatistic(
        vals.filter(col("id") % 2 === 0), vals.filter(col("id") % 2 === 1),
        col("v"))
    }
    time("auc-10M-rows") {
      // heavy-tie regime (97 distinct scores over 10M rows) — exercises the
      // tie-collapse + range-partitioned rank path, not a degenerate case
      val vals = spark.range(10000000L)
        .select((col("id") % 97).cast("double").as("s"), (col("id") % 5 === 0).as("y"))
      graft.ops.Stats.aucRankSum(vals, col("s"), col("y"))
    }
    time("gini-10M-rows-100k-groups") {
      graft.ops.Stats.giniConcentration(
        spark.range(10000000L).select((col("id") % 100000).as("g")),
        col("g"))
    }
    time("wasserstein-10M-values") {
      // continuous-ish axis (1M distinct values) — exercises the gap terms
      // across every range-partition boundary
      val vals = spark.range(10000000L)
        .select(col("id"), ((col("id") * 2654435761L) % 1000000).cast("double").as("v"))
      graft.ops.Drift.wasserstein1d(
        vals.filter(col("id") % 2 === 0), vals.filter(col("id") % 2 === 1),
        col("v"))
    }
    time("spearman-10M-rows") {
      val vals = spark.range(10000000L)
        .select((col("id") % 9973).cast("double").as("x"),
          ((col("id") * 7919L) % 9973).cast("double").as("y"))
      graft.ops.Stats.spearman(vals, col("x"), col("y"))
    }
    time("triangles-2M-edges") {
      // sparse random graph: 1M nodes, ~2M edges, avg degree ~4 -> wedge
      // volume ~ sum(d^2)/2 stays millions, the degree-peeling contract
      val es = spark.range(2000000L)
        .select((col("id") % 1000000).as("s"),
          ((col("id") * 7919L + 13L) % 1000000).as("d"))
      graft.ops.Graphs.triangleCount(es, col("s"), col("d"))
    }
    time("basket-lift-1M-baskets") {
      // 1M baskets x 5 items over a ~10k catalog -> ~10 pairs per basket
      // (prime modulus: a 10k modulus makes 1M*48271 = 0 mod catalog and
      // collapses every basket to one item)
      val items = spark.range(5000000L)
        .select((col("id") % 1000000).as("b"),
          ((col("id") * 48271L) % 9973).as("i"))
      graft.ops.Baskets.pairLift(items, col("b"), col("i"),
        minCount = 2L, k = 50)
    }
    time("edit-dist-pairs-1M-docs") {
      // discriminative prefixes (hash first) -> ~750k blocks of ~1.3 docs;
      // the 250k planted dup pairs survive at dist 0, banded lev bounds
      // each comparison at O(len*8). (On the template corpus above the
      // shared-prefix mega-blocks would all hit the cap — by design.)
      val edocs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ",
          md5(concat(lit("u"), (col("id") % 750000).cast("string"))),
          lit("document body starts here with shared template words"),
          lit("closing boilerplate that every page carries along"))
          .as("text"))
      graft.text.DedupOps.editDistancePairs(edocs, "doc_id", col("text"))
    }
    time("hits-2M-edges") {
      val es = spark.range(2000000L)
        .select(concat(lit("u"), (col("id") % 500000).cast("string")).as("src"),
          concat(lit("v"), ((col("id") * 7919L + 13L) % 500000).cast("string"))
            .as("dst"))
        .distinct()
      graft.ops.Hits.run(es, iterations = 2)
    }
    time("prefix-jaccard-1M-docs") {
      // six hash tokens + a 2-token template: every 3-shingle touches a
      // hash, so no corpus-wide hot shingle can leak into a prefix and
      // the candidate join stays on rare keys; the 250k planted dup
      // pairs come back at jaccard 1
      val pdocs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ",
          (Seq("a", "b", "c", "d", "e", "f").map(s =>
            md5(concat(lit(s), (col("id") % 750000).cast("string")))) ++
            Seq(lit("template"), lit("tail"))): _*).as("text"))
      graft.text.DedupOps.prefixFilterJaccardPairs(pdocs, "doc_id",
        col("text"), threshold = 0.5, shingle = 3)
    }
    time("theil-sen-10k-groups") {
      // 10k groups x 60 points: the group-keyed pair join fans to
      // 60*59/2 * 10k = ~17.7M slope pairs — bounded per group, never
      // cross-group; the q241 shape at 100x its sf0.1 group count
      val series = spark.range(600000L)
        .select((col("id") % 10000).as("g"), (col("id") / 10000).as("t"),
          ((col("id") * 48271L) % 997).cast("double").as("y"))
      graft.ops.TimeSeries.theilSenByGroup(series, "g", col("t"),
        col("y"))
    }
    time("ecdf-10M-rows-1M-distinct") {
      // the q250 transform at data scale: tie-collapse groupBy to 1M
      // distinct values, range partition, per-partition prefix sums,
      // <=32-row driver offset barrier — no global window anywhere
      val vals = spark.range(10000000L)
        .select(((col("id") * 2654435761L) % 1000000).cast("double").as("v"))
      graft.ops.Drift.ecdfTable(vals, col("v"))
    }
    time("prefix-jaccard-1M-docs-t03") {
      // low threshold stress: t=0.3 lengthens every prefix to ~70% of the
      // doc, multiplying candidate-join fan-in — the worst realistic
      // PPJoin regime (recall-greedy dedup). Same planted corpus as t=0.5.
      val pdocs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ",
          (Seq("a", "b", "c", "d", "e", "f").map(s =>
            md5(concat(lit(s), (col("id") % 750000).cast("string")))) ++
            Seq(lit("template"), lit("tail"))): _*).as("text"))
      graft.text.DedupOps.prefixFilterJaccardPairs(pdocs, "doc_id",
        col("text"), threshold = 0.3, shingle = 3)
    }
    time("ranked-cumsum-10M-rows-1M-groups") {
      // RangeScan.rank (gini/lorenz/ABC ranks) over a 1M-group frame:
      // range shuffle + partitioned windows, no global sort task
      graft.ops.Stats.lorenzDeciles(
        spark.range(10000000L).select((col("id") % 1000000).as("g")),
        col("g"))
    }
    time("ivfpq-1M-vectors") {
      // 1M deterministic 64-dim vectors (hash-mixed, no RNG), 10 queries:
      // coarse Lloyd (32 cells, 1 iter) + residual PQ (m=4, ksub=16),
      // nProbe=2 — candidates ~2/32 of the corpus through one equi join
      val dim = 64
      val vecs = spark.range(1000000L).select(col("id").as("vec_id"),
        array((0 until dim).map(p =>
          (((col("id") * 2654435761L + p * 40503L) % 997L).cast("double")
            - 498.0) / 100.0): _*).as("embedding"))
        .localCheckpoint(true)
      // quantizers train on a 100k deterministic sample (the documented
      // 100 TB posture); assignment/encoding stay full-corpus projections
      graft.sim.Pq.ivfPqTopK(vecs.filter(col("vec_id") < 10), vecs,
        "vec_id", "embedding", k = 10, dim = dim, nLists = 32, nProbe = 2,
        m = 4, ksub = 16, iters = 1,
        trainOn = Some(vecs.filter(col("vec_id") < 100000L)))
    }
    time("slo-burn-10M-events") {
      val ev = spark.range(10000000L)
        .select(timestamp_micros(col("id") * 300000L + 1700000000000000L)
          .as("ts"), (col("id") % 7 === 0).as("err"))
      graft.ops.EventAnalytics.sloBurnRate(ev, col("ts"), col("err"),
        budget = 0.2)
    }
    time("pca-cov-1M-x-64") {
      // 1M pseudo-random 64-dim vectors (sin-of-id — codegen'd, no RNG);
      // the cost to watch is the per-row 2 080-product flatten + the
      // 2B-row posexplode feeding a 2 144-group map-side-combined agg —
      // shuffle volume stays partitions x 2 144 partials
      val vecs = spark.range(n).select(
        transform(sequence(lit(0), lit(63)),
          j => sin(col("id") * (j + 1))).as("embedding"))
      graft.sim.Pca.covarianceMatrix(vecs, "embedding", 64)
    }
    time("pca-cov-fast-1M-x-64") {
      // the scale path: per-partition primitive accumulators + treeReduce
      val vecs = spark.range(n).select(
        transform(sequence(lit(0), lit(63)),
          j => sin(col("id") * (j + 1))).as("embedding"))
      graft.sim.Pca.covarianceMatrixFast(vecs, "embedding", 64)
    }
    time("hierlloyd-build-1M-x-16-k15625") {
      // the LARGE-k build path at the k=⌈n/64⌉ posture: 15625 cells,
      // g=125 supers, two within-super Lloyd steps — per-row candidate
      // list is one super's ~125 children vs flat Lloyd's 15625
      // (a 125× assignment-FLOP gap per iteration; the flat build at
      // this k is not runnable in smoke time). Timed to the fully
      // assigned cells relation.
      val dim = 16
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => sin(col("id") * (j + 1))).as("embedding"))
      graft.sim.Similarity.buildIvfIndexHierLloyd(vecs, "vec_id",
        "embedding", k = 15625, iters = 2).cells
    }
    time("ivf-range-search-1M-x-16") {
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)),
          j => sin(col("id") * (j + 1))).as("embedding")).localCheckpoint(true)
      val idx = graft.sim.Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
        nLists = 32)
      graft.sim.Similarity.rangeSearchIvfIndex(idx,
        vecs.filter(col("vec_id") < 50), "vec_id", "embedding",
        minSim = 0.9, nProbe = 2)
    }
    time("boilerplate-strip-1M-docs") {
      // 1000 sources x 1000 docs; a nav line shared by the whole source
      // (the VIRAL line the broadcast probe must survive), a ~30%-df promo
      // line, and a unique body — ~5M exploded lines total
      val lined = spark.range(n).select(col("id").as("doc_id"),
        (col("id") % 1000).cast("string").as("source"),
        concat_ws("\n",
          concat(lit("nav for source "), (col("id") % 1000).cast("string")),
          when(col("id") % 3 === 0, lit("promo line shared across the source")),
          concat(lit("body "), md5(col("id").cast("string"))),
          lit("global footer carried by every page in the corpus")).as("text"))
      graft.text.Curation.boilerplateStrip(
        lined, "doc_id", "source", col("text"), minDf = 2, maxDfFrac = 0.25)
        .agg(sum("n_removed"))
    }
    spark.stop()
  }
}
