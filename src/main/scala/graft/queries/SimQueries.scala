package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal
import graft.sim.Similarity

/** Similarity search over the embeddings table + the multimodal plumbing.
  * Brute-force cosine has a full DuckDB oracle; the LSH/ANN variant and the
  * mapPartitions feature extraction are rows-only (not SQL-expressible).
  */
object SimQueries extends QueryGroup {

  /** DuckDB cosine fragment shared by the similarity and hybrid-retrieval
    * oracles — one definition so a formula tweak can't diverge them. */
  private[queries] def cosineSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** Nearest-centroid assignment by ROUNDED cosine as a DuckDB CTE —
    * argmax with smaller-cell tie-break, mirroring Similarity.assignCells.
    * ONE definition serving every quantizer assignment (q92's asg, q122's
    * aco/aba) so a rounding or tie-break tweak cannot diverge them. Emits
    * (vec_id, cell, simc); `cent` must expose (cell, cv). */
  private def argmaxCosSql(name: String, src: String): String =
    s"""$name AS (SELECT vec_id, cell, simc FROM (
          SELECT e.vec_id, c.cell,
            ROUND(${cosineSql("e.v", "c.cv")}, 6) AS simc,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ROUND(${cosineSql("e.v", "c.cv")}, 6) DESC, c.cell) AS rn
          FROM $src e, cent c) WHERE rn = 1)"""

  /** Brute-force cosine top-3 for the first 10 query vectors. */
  val q48CosineTopK = QueryDef(
    "q48_cosine_topk",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 3)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          ROUND(${cosineSql("q.v", "c.v")}, 6) AS sim
        FROM e c, q WHERE q.vec_id <> c.vec_id),
      r AS (SELECT qid, cid, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS INT) AS rank
        FROM scored)
      SELECT qid, rank, cid, sim FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Embedding-cosine near-duplicate pairs (threshold 0.3). At this low
    * threshold auto-dispatch takes the blocked-EXACT rung — quadratic by
    * necessity, so it runs under the plan-embedded pair budget
    * (maxPairs = 2e9 ≈ 63k vectors; Similarity.cosineNearDupPairs): past
    * the budget the plan raises and points at cellScopedNearDupPairs
    * (q269) / strategy="lsh" instead of silently scanning n²/2 pairs. */
  val q49CosineNearDup = QueryDef(
    "q49_cosine_neardup",
    (s, d) => Similarity.cosineNearDupPairs(
      Tables.embeddings(s, d), "vec_id", "embedding", 0.3)
      .orderBy("d1", "d2"),
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)
      SELECT d1, d2, sim FROM (
        SELECT a.vec_id AS d1, b.vec_id AS d2, ROUND(${cosineSql("a.v", "b.v")}, 6) AS sim
        FROM e a, e b WHERE a.vec_id < b.vec_id)
      WHERE sim >= 0.3 ORDER BY d1, d2"""))

  /** Hyperplane-LSH bucketed ANN. Fully oracled: the hyperplanes are
    * md5-derived (Similarity.planeComponent), so DuckDB rebuilds the same
    * planes, buckets, and bucket-local top-k bit-for-bit. Recall vs the
    * brute-force baseline is additionally asserted in SimilaritySpec. */
  val q50AnnLsh = QueryDef(
    "q50_ann_lsh",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
        k = 3, nPlanes = 4)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
      planes AS (SELECT j, list_transform(range(0, (SELECT len(v) FROM e LIMIT 1)), i ->
          ((CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)
            % 2001) - 1000) / 1000.0) AS pv
        FROM range(0, 4) t(j)),
      bck AS (SELECT e.vec_id,
          CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
            THEN CAST(POWER(2, p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        FROM e, planes p GROUP BY e.vec_id),
      c AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN bck b USING (vec_id)),
      q AS (SELECT * FROM c WHERE vec_id < 10),
      scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          ROUND(${cosineSql("q.v", "c.v")}, 6) AS sim
        FROM q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
      r AS (SELECT qid, cid, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS INT) AS rank
        FROM scored)
      SELECT qid, rank, cid, sim FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** IVF ANN through the PRODUCTION index API — buildIvfIndexLloyd →
    * queryIvfIndex — with the deterministic Lloyd quantizer, so the whole
    * path (seeded init, two round-6 Lloyd iterations, cell assignment,
    * nProbe=3 probe ranking, in-cell exact cosine top-3) replays in the
    * DuckDB oracle CTE for CTE. q117 oracles the same quantizer through
    * the inline lloydIvfTopK composition at nProbe=2; this query gates the
    * IvfIndex build/probe/score API itself. The RNG KMeans quantizer
    * (buildIvfIndex) keeps its recall gate in SimilaritySpec — its fit is
    * not SQL-expressible by construction. */
  val q65IvfTopk = QueryDef(
    "q65_ivf_topk",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = Similarity.buildIvfIndexLloyd(e, "vec_id", "embedding",
        nLists = 8, iters = 2)
      Similarity.queryIvfIndex(idx, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, nProbe = 3)
        .orderBy("qid", "rank")
    },
    Some(ivfLloydProbeOracle))

  /** The PRODUCTION ANN read path q65 can't show: the Lloyd IVF index is
    * built and saved ONCE (first run per scale dir), then every execution
    * only loads + probes it — centroids are a tiny broadcast read, and the
    * cells parquet is partitioned BY CELL so the probe's cell filter prunes
    * unprobed cells at the file level. Same oracle as q65 (identical
    * quantizer trajectory and scoring); the timing difference between the
    * two queries IS the amortized index-build cost. */
  val q143IvfProbeSaved = QueryDef(
    "q143_ivf_probe_saved",
    (s, d) => {
      // Content-fingerprint build-once cache — see [[IndexCache]] (this
      // query's original inline logic, now shared by every saved-index
      // query: q264, q288/q296's gram index, q298, q299, q301, q302).
      val idxDir = IndexCache.cachedDir(s, s"$d/embeddings.parquet",
        IndexCache.tagFor("graft_ivf_v2_", d, "lloyd nLists=8 iters=2")) { tmpDir =>
        val idx = Similarity.buildIvfIndexLloyd(Tables.embeddings(s, d),
          "vec_id", "embedding", nLists = 8, iters = 2)
        Similarity.saveIvfIndex(idx, tmpDir)
      }
      val idx = Similarity.loadIvfIndex(s, idxDir)
      Similarity.queryIvfIndex(idx,
        Tables.embeddings(s, d).filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, nProbe = 3)
        .orderBy("qid", "rank")
    },
    Some(ivfLloydProbeOracle))

  /** RANGE search on the Lloyd IVF index (Similarity.rangeSearchIvfIndex):
    * every probed-cell neighbor with rounded cosine ≥ 0.2 — radius
    * semantics, no k cap, completing the FAISS-style index read API
    * (top-k = q65, saved probe = q143, range = here). Same quantizer
    * trajectory as q65; the oracle replays build, nProbe=2 probing and the
    * threshold filter CTE for CTE. */
  val q270IvfRange = QueryDef(
    "q270_ivf_range",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = Similarity.buildIvfIndexLloyd(e, "vec_id", "embedding",
        nLists = 8, iters = 2)
      Similarity.rangeSearchIvfIndex(idx, e.filter(col("vec_id") < 6),
        "vec_id", "embedding", minSim = 0.2, nProbe = 2)
        .orderBy("qid", "cid")
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      px AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM ev)),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0")},
      ${lloydStepSql("a2", "c2", "c1")},
      ${argminCellSql("asg", "c2")},
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 6),
      pr AS (SELECT qid, cell FROM (
          SELECT q.vec_id AS qid, c.cell, ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ROUND(${d2Sql("q.v", "c.cv")}, 6), c.cell) AS rn
          FROM q, c2 c) WHERE rn <= 2)
      SELECT pr.qid, a.vec_id AS cid, ROUND(${cosineSql("q.v", "e.v")}, 6) AS sim
      FROM pr JOIN asg a ON a.cell = pr.cell
      JOIN ev e ON e.vec_id = a.vec_id
      JOIN q ON q.vec_id = pr.qid
      WHERE a.vec_id <> pr.qid
        AND ROUND(${cosineSql("q.v", "e.v")}, 6) >= 0.2
      ORDER BY pr.qid, cid"""))

  /** Incremental index ADD (Similarity.addToIvfIndex): the quantizer
    * trains on the EVEN half only, the odd half is added afterwards under
    * the frozen centroids, and the probe runs over the combined cells —
    * the daily-ingest write path where rebuilding per batch is
    * unaffordable. The invariant the oracle pins: because add uses the
    * same nearest-cell projection as the build's own assignment, the
    * combined cells table equals assigning the FULL corpus against the
    * even-trained centroids. */
  val q271IvfAdd = QueryDef(
    "q271_ivf_add",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = Similarity.buildIvfIndexLloyd(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        nLists = 8, iters = 2)
      val grown = Similarity.addToIvfIndex(
        idx, e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      Similarity.queryIvfIndex(grown, e.filter(col("vec_id") < 6),
        "vec_id", "embedding", k = 3, nProbe = 2)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      evn AS (SELECT vec_id, v FROM ev WHERE vec_id % 2 = 0),
      pxn AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM evn)),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM evn WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0", "evn", "pxn")},
      ${lloydStepSql("a2", "c2", "c1", "evn", "pxn")},
      ${argminCellSql("asg", "c2")},
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 6),
      pr AS (SELECT qid, cell FROM (
          SELECT q.vec_id AS qid, c.cell, ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ROUND(${d2Sql("q.v", "c.cv")}, 6), c.cell) AS rn
          FROM q, c2 c) WHERE rn <= 2),
      cand AS (SELECT pr.qid, a.vec_id AS cid, ROUND(${cosineSql("q.v", "e.v")}, 6) AS sim
        FROM pr JOIN asg a ON a.cell = pr.cell
        JOIN ev e ON e.vec_id = a.vec_id
        JOIN q ON q.vec_id = pr.qid
        WHERE a.vec_id <> pr.qid),
      r AS (SELECT qid, cid, sim, CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY sim DESC, cid) AS INT) AS rank FROM cand)
      SELECT qid, rank, cid, sim FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Covariance/means CTE block shared by the q272 and q273 oracles —
    * scaled-long exact Gram + positional sums off ONE px self-join, the
    * textbook one-pass population covariance, rounded to 6. Positions are
    * 1-based inside the SQL (DuckDB list indexing); the q272 SELECT
    * shifts to the library's 0-based output. */
  private def covSqlBlock: String =
    s"""px AS MATERIALIZED (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM ev)),
      nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM ev),
      -- scaled-long exact sums (the q194 HUGEINT pattern): round(x*1e8) per
      -- element, integer sum, one final /1e8 — mirrors Pca.positionalSums
      sx AS (SELECT pos,
          SUM(CAST(ROUND(val * 100000000.0) AS BIGINT)) / 100000000.0 AS s
        FROM px GROUP BY pos),
      g AS (SELECT a.pos AS i, b.pos AS j,
          SUM(CAST(ROUND(a.val * b.val * 100000000.0) AS BIGINT))
            / 100000000.0 AS sxy
        FROM px a JOIN px b ON a.vec_id = b.vec_id AND a.pos <= b.pos
        GROUP BY 1, 2),
      covu AS MATERIALIZED (SELECT g.i, g.j,
          ROUND((g.sxy - sa.s * sb.s / nn.n) / nn.n, 6) AS c
        FROM g JOIN sx sa ON sa.pos = g.i JOIN sx sb ON sb.pos = g.j, nn)"""

  /** One deterministic power-iteration step as three DuckDB CTEs:
    * w = C·v with DECIMAL-summed products, nrm = √(DECIMAL-summed w²),
    * v' = round6(w/nrm) — mirroring Pca.topComponent step for step.
    * Every CTE is MATERIALIZED: w$k is referenced twice, and without the
    * hint DuckDB's inliner expands the 12-step chain multiplicatively
    * (measured: the un-hinted oracle did not finish in minutes; hinted it
    * runs in milliseconds). */
  private def powerStepSql(k: Int, cov: String = "cov",
      p: String = "v"): String =
    s"""${p}w$k AS MATERIALIZED (SELECT c.i,
          CAST(SUM(CAST(c.c * v.x AS DECIMAL(38,12))) AS DOUBLE) AS w
        FROM $cov c JOIN $p${k - 1} v ON v.i = c.j GROUP BY c.i),
      ${p}n$k AS MATERIALIZED (SELECT SQRT(CAST(SUM(CAST(w * w AS
          DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM ${p}w$k),
      $p$k AS MATERIALIZED (SELECT i, ROUND(w / nrm, 6) AS x
        FROM ${p}w$k, ${p}n$k)"""

  /** Embedding covariance matrix (Pca.covarianceMatrix): the full 64-dim
    * upper triangle as (i, j, cov) — the input statistic for whitening /
    * dominant-direction removal over an anisotropic embedding space. One
    * corpus pass (flattened per-row product array → positional scaled-long
    * sums); the oracle computes the same sums from a px self-join. */
  val q272EmbedCov = QueryDef(
    "q272_embed_cov",
    (s, d) => graft.sim.Pca.covarianceMatrix(
      Tables.embeddings(s, d), "embedding", dim = 64).orderBy("i", "j"),
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock
      -- + 0.0 normalizes DuckDB ROUND's -0.0 to +0.0 (Spark's
      -- BigDecimal-based round has no negative zero); exact for all
      -- other doubles
      SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j,
        c + 0.0 AS cov
      FROM covu ORDER BY i, j"""))

  /** Top principal component by 12 FIXED power-iteration steps
    * (Pca.topComponent) + centered projection of the first 10 vectors
    * (Pca.project) — "All-but-the-Top"'s dominant direction, exactly
    * replayable: the oracle unrolls covariance, all 12 steps and the
    * projection CTE for CTE. Convergence quality is the spec's job
    * (Rayleigh growth); the oracle pins the trajectory. */
  val q273PcaPower = QueryDef(
    "q273_pca_power",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // one corpus pass: cov + centering means off the same positional
      // aggregate; the eigen-iteration is driver-side on the dim² matrix
      val (cov, means) = graft.sim.Pca.covarianceWithMeans(e, "embedding",
        dim = 64)
      val pc = graft.sim.Pca.topComponent(cov, dim = 64, iters = 12)
      graft.sim.Pca.project(e.filter(col("vec_id") < 10), "vec_id",
        "embedding", pc, means)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock,
      cov AS MATERIALIZED (SELECT i, j, c FROM covu
        UNION ALL SELECT j AS i, i AS j, c FROM covu WHERE i < j),
      -- v0 = round6(1/sqrt(64)) = 0.125 exactly (no rounding ambiguity)
      v0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_)).mkString(",\n      ")},
      means AS (SELECT pos, ROUND(s / nn.n, 6) AS m FROM sx, nn)
      -- + 0.0: normalize DuckDB ROUND's -0.0 (see q272)
      SELECT p.vec_id,
        ROUND(CAST(SUM(CAST(v.x * (p.val - m.m) AS DECIMAL(38,12)))
          AS DOUBLE), 6) + 0.0 AS score
      FROM px p JOIN v12 v ON v.i = p.pos JOIN means m ON m.pos = p.pos
      WHERE p.vec_id < 10 GROUP BY p.vec_id ORDER BY p.vec_id"""))

  /** Isotropy audit (Pca.isotropyAudit): the share of total variance the
    * q273 dominant component carries — the "All-but-the-Top" diagnostic
    * that says whether cosine thresholds over this space are skewed by a
    * common direction. λ1 is the Rayleigh quotient of the 12-step power
    * iterate, computed as w = C·v then Σ w·v (both scale-12 DECIMAL
    * sums); trace is the DECIMAL-summed covariance diagonal. */
  val q274Isotropy = QueryDef(
    "q274_isotropy",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // collect the bounded covariance ONCE; iteration + audit are
      // driver-side off the same matrix
      val cov = graft.sim.Pca.covarianceMatrix(e, "embedding", dim = 64)
      val m = graft.sim.Pca.collectCovariance(cov, dim = 64)
      graft.sim.Pca.isotropyAudit(s, m, graft.sim.Pca.topComponent(m, iters = 12))
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock,
      cov AS MATERIALIZED (SELECT i, j, c FROM covu
        UNION ALL SELECT j AS i, i AS j, c FROM covu WHERE i < j),
      v0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_)).mkString(",\n      ")},
      wf AS MATERIALIZED (SELECT c.i,
          CAST(SUM(CAST(c.c * v.x AS DECIMAL(38,12))) AS DOUBLE) AS w
        FROM cov c JOIN v12 v ON v.i = c.j GROUP BY c.i),
      lam AS (SELECT CAST(SUM(CAST(wf.w * v.x AS DECIMAL(38,12)))
          AS DOUBLE) AS l1
        FROM wf JOIN v12 v ON v.i = wf.i),
      tr AS (SELECT CAST(SUM(CAST(c AS DECIMAL(38,8))) AS DOUBLE) AS trace
        FROM covu WHERE i = j)
      SELECT CAST(64 AS INT) AS dim, ROUND(trace, 6) AS trace,
        ROUND(l1, 6) AS lambda1, ROUND(l1 / trace, 6) AS explained_share
      FROM lam, tr"""))

  /** All-but-the-Top correction (Pca.abttAudit): the q273/q274 arc's
    * payoff — remove the dominant direction from each centered embedding
    * and report ‖centered‖ vs ‖corrected‖, computed algebraically from
    * three per-id DECIMAL-summed aggregates (P = v·cent, Q = Σcent²,
    * R = Σv²; ‖corr‖² = Q − 2P² + P²R) so the whole audit is one data
    * pass. First 10 vectors; the oracle replays covariance, 12 power
    * steps, means and the formula CTE for CTE. */
  val q276AbttCorrect = QueryDef(
    "q276_abtt_correct",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val (cov, means) = graft.sim.Pca.covarianceWithMeans(e, "embedding",
        dim = 64)
      val pc = graft.sim.Pca.topComponent(cov, dim = 64, iters = 12)
      graft.sim.Pca.abttAudit(e.filter(col("vec_id") < 10), "vec_id",
        "embedding", pc, means)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock,
      cov AS MATERIALIZED (SELECT i, j, c FROM covu
        UNION ALL SELECT j AS i, i AS j, c FROM covu WHERE i < j),
      v0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_)).mkString(",\n      ")},
      means AS (SELECT pos, ROUND(s / nn.n, 6) AS m FROM sx, nn),
      cent AS (SELECT p.vec_id, p.pos, v.x, p.val - m.m AS cent
        FROM px p JOIN v12 v ON v.i = p.pos JOIN means m ON m.pos = p.pos
        WHERE p.vec_id < 10),
      aggd AS (SELECT vec_id,
          CAST(SUM(CAST(x * cent AS DECIMAL(38,12))) AS DOUBLE) AS p,
          CAST(SUM(CAST(cent * cent AS DECIMAL(38,12))) AS DOUBLE) AS q,
          CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS r
        FROM cent GROUP BY vec_id)
      SELECT vec_id, ROUND(p, 6) + 0.0 AS score,
        ROUND(SQRT(q), 6) AS centered_norm,
        ROUND(SQRT(GREATEST(0.0, q - 2.0 * p * p + p * p * r)), 6)
          AS corrected_norm
      FROM aggd ORDER BY vec_id"""))

  /** Top-2 principal components via Hotelling deflation
    * (Pca.topTwoReport): λ1 from the q273 run, deflate
    * m' = round6(m − round6(λ1)·v1v1ᵀ), run 12 more power steps on m' for
    * v2, report both eigenvalues against the ORIGINAL covariance, their
    * variance shares, and v1·v2 (the orthogonality diagnostic). The
    * oracle replays BOTH 12-step trajectories, the deflation and the
    * report — 24 unrolled materialized steps. */
  val q277PcaDeflate = QueryDef(
    "q277_pca_deflate",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cov = graft.sim.Pca.covarianceMatrix(e, "embedding", dim = 64)
      val m = graft.sim.Pca.collectCovariance(cov, dim = 64)
      graft.sim.Pca.topTwoReport(s, m, iters = 12).orderBy("comp")
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock,
      cov AS MATERIALIZED (SELECT i, j, c FROM covu
        UNION ALL SELECT j AS i, i AS j, c FROM covu WHERE i < j),
      v0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_)).mkString(",\n      ")},
      wl1 AS MATERIALIZED (SELECT c.i,
          CAST(SUM(CAST(c.c * v.x AS DECIMAL(38,12))) AS DOUBLE) AS w
        FROM cov c JOIN v12 v ON v.i = c.j GROUP BY c.i),
      l1 AS MATERIALIZED (SELECT CAST(SUM(CAST(wl1.w * v.x AS
          DECIMAL(38,12))) AS DOUBLE) AS l
        FROM wl1 JOIN v12 v ON v.i = wl1.i),
      lam AS MATERIALIZED (SELECT ROUND(l, 6) AS lam FROM l1),
      cov2 AS MATERIALIZED (SELECT c.i, c.j,
          ROUND(c.c - lam.lam * a.x * b.x, 6) AS c
        FROM cov c JOIN v12 a ON a.i = c.i JOIN v12 b ON b.i = c.j, lam),
      b0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_, "cov2", "b")).mkString(",\n      ")},
      wl2 AS MATERIALIZED (SELECT c.i,
          CAST(SUM(CAST(c.c * v.x AS DECIMAL(38,12))) AS DOUBLE) AS w
        FROM cov c JOIN b12 v ON v.i = c.j GROUP BY c.i),
      l2 AS MATERIALIZED (SELECT CAST(SUM(CAST(wl2.w * v.x AS
          DECIMAL(38,12))) AS DOUBLE) AS l
        FROM wl2 JOIN b12 v ON v.i = wl2.i),
      tr AS (SELECT CAST(SUM(CAST(c AS DECIMAL(38,8))) AS DOUBLE) AS trace
        FROM covu WHERE i = j),
      dt AS (SELECT ROUND(CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12)))
          AS DOUBLE), 6) + 0.0 AS d
        FROM v12 a JOIN b12 b ON b.i = a.i)
      SELECT * FROM (
        SELECT CAST(1 AS INT) AS comp, ROUND(l, 6) + 0.0 AS lambda,
          ROUND(l / trace, 6) + 0.0 AS var_share,
          CAST(NULL AS DOUBLE) AS dot_prev
        FROM l1, tr
        UNION ALL
        SELECT CAST(2 AS INT), ROUND(l, 6) + 0.0, ROUND(l / trace, 6) + 0.0,
          dt.d
        FROM l2, tr, dt)
      ORDER BY comp"""))

  /** Rayleigh quotient vᵀ·$cov·v of an unrolled power iterate as two
    * materialized CTEs ($wName = $cov·v with DECIMAL-summed products,
    * $lName = Σ w·v) — the q277 inline pattern, shared by the q281/q282
    * deflation-loop oracles. */
  private def rayleighSql(wName: String, lName: String, cov: String,
      v: String): String =
    s"""$wName AS MATERIALIZED (SELECT c.i,
          CAST(SUM(CAST(c.c * v.x AS DECIMAL(38,12))) AS DOUBLE) AS w
        FROM $cov c JOIN $v v ON v.i = c.j GROUP BY c.i),
      $lName AS MATERIALIZED (SELECT CAST(SUM(CAST($wName.w * v.x AS
          DECIMAL(38,12))) AS DOUBLE) AS l
        FROM $wName JOIN $v v ON v.i = $wName.i)"""

  /** One Hotelling deflation round: $newCov = round6($cov − lam·v vᵀ),
    * with $lam a 1-row (lam) CTE. Mirrors Pca.deflated. */
  private def deflateSql(newCov: String, cov: String, vfinal: String,
      lam: String): String =
    s"""$newCov AS MATERIALIZED (SELECT c.i, c.j,
          ROUND(c.c - $lam.lam * a.x * b.x, 6) AS c
        FROM $cov c JOIN $vfinal a ON a.i = c.i
          JOIN $vfinal b ON b.i = c.j, $lam)"""

  /** Round-6 dot of two unrolled iterates (orthogonality diagnostic). */
  private def dotSql(name: String, a: String, b: String): String =
    s"""$name AS (SELECT ROUND(CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12)))
          AS DOUBLE), 6) + 0.0 AS d
        FROM $a a JOIN $b b ON b.i = a.i)"""

  /** Top-K principal components (Pca.topKComponents/topKReport, k=3):
    * q277's Hotelling deflation generalized to a LOOP — component c is
    * the 12-step power iterate of the (c−1)-times-deflated matrix, each
    * deflation subtracting round6(λ^defl)·v vᵀ with λ^defl the Rayleigh
    * against the matrix the component was extracted FROM; reported λs are
    * against the ORIGINAL covariance. The oracle unrolls all 36 power
    * steps, both deflations, three Rayleighs and the two adjacent dots. */
  val q281PcaTopK = QueryDef(
    "q281_pca_topk",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cov = graft.sim.Pca.covarianceMatrix(e, "embedding", dim = 64)
      val m = graft.sim.Pca.collectCovariance(cov, dim = 64)
      graft.sim.Pca.topKReport(s, m, kComps = 3, iters = 12).orderBy("comp")
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock,
      cov AS MATERIALIZED (SELECT i, j, c FROM covu
        UNION ALL SELECT j AS i, i AS j, c FROM covu WHERE i < j),
      v0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_)).mkString(",\n      ")},
      ${rayleighSql("wd1", "ld1", "cov", "v12")},
      lam1 AS MATERIALIZED (SELECT ROUND(l, 6) AS lam FROM ld1),
      ${deflateSql("cov2", "cov", "v12", "lam1")},
      b0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_, "cov2", "b")).mkString(",\n      ")},
      ${rayleighSql("wo2", "lo2", "cov", "b12")},
      ${rayleighSql("wd2", "ld2", "cov2", "b12")},
      lam2 AS MATERIALIZED (SELECT ROUND(l, 6) AS lam FROM ld2),
      ${deflateSql("cov3", "cov2", "b12", "lam2")},
      u0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_, "cov3", "u")).mkString(",\n      ")},
      ${rayleighSql("wo3", "lo3", "cov", "u12")},
      tr AS (SELECT CAST(SUM(CAST(c AS DECIMAL(38,8))) AS DOUBLE) AS trace
        FROM covu WHERE i = j),
      ${dotSql("d12", "v12", "b12")},
      ${dotSql("d23", "b12", "u12")}
      SELECT * FROM (
        SELECT CAST(1 AS INT) AS comp, ROUND(l, 6) + 0.0 AS lambda,
          ROUND(l / trace, 6) + 0.0 AS var_share,
          CAST(NULL AS DOUBLE) AS dot_prev
        FROM ld1, tr
        UNION ALL
        SELECT CAST(2 AS INT), ROUND(l, 6) + 0.0, ROUND(l / trace, 6) + 0.0,
          d12.d
        FROM lo2, tr, d12
        UNION ALL
        SELECT CAST(3 AS INT), ROUND(l, 6) + 0.0, ROUND(l / trace, 6) + 0.0,
          d23.d
        FROM lo3, tr, d23)
      ORDER BY comp"""))

  /** PCA WHITENING over the top-2 subspace (Pca.whitenedProjections) —
    * the transform completing All-but-the-Top: per (vector, component)
    * the round-6 centered projection and its unit-variance rescaling
    * white = round6(score / √round6(λ)), λ against the ORIGINAL
    * covariance. One data pass for both components (loadings flattened
    * into one broadcast (comp, pos, x) table); the oracle replays the 24
    * power steps, the deflation, both Rayleighs, means and the rescale. */
  val q282PcaWhiten = QueryDef(
    "q282_pca_whiten",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val (cov, means) = graft.sim.Pca.covarianceWithMeans(e, "embedding",
        dim = 64)
      val m = graft.sim.Pca.collectCovariance(cov, dim = 64)
      val comps = graft.sim.Pca.topKComponents(m, kComps = 2, iters = 12)
      graft.sim.Pca.whitenedProjections(e.filter(col("vec_id") < 10),
        "vec_id", "embedding", comps, means)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id", "comp")
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock,
      cov AS MATERIALIZED (SELECT i, j, c FROM covu
        UNION ALL SELECT j AS i, i AS j, c FROM covu WHERE i < j),
      v0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_)).mkString(",\n      ")},
      ${rayleighSql("wd1", "ld1", "cov", "v12")},
      lam1 AS MATERIALIZED (SELECT ROUND(l, 6) AS lam FROM ld1),
      ${deflateSql("cov2", "cov", "v12", "lam1")},
      b0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_, "cov2", "b")).mkString(",\n      ")},
      ${rayleighSql("wo2", "lo2", "cov", "b12")},
      lams AS (SELECT 1 AS comp, lam FROM lam1
        UNION ALL SELECT 2, ROUND(l, 6) FROM lo2),
      lds AS (SELECT 1 AS comp, i, x FROM v12
        UNION ALL SELECT 2, i, x FROM b12),
      means AS (SELECT pos, ROUND(s / nn.n, 6) AS m FROM sx, nn),
      sc AS (SELECT p.vec_id, l.comp,
          ROUND(CAST(SUM(CAST(l.x * (p.val - mm.m) AS DECIMAL(38,12)))
            AS DOUBLE), 6) + 0.0 AS score
        FROM px p JOIN lds l ON l.i = p.pos JOIN means mm ON mm.pos = p.pos
        WHERE p.vec_id < 10 GROUP BY p.vec_id, l.comp)
      SELECT sc.vec_id, CAST(sc.comp AS INT) AS comp, sc.score,
        ROUND(sc.score / SQRT(la.lam), 6) + 0.0 AS white
      FROM sc JOIN lams la ON la.comp = sc.comp
      ORDER BY vec_id, comp"""))

  /** Top-K All-but-the-Top correction (Pca.abttAuditK, k=2): q276's
    * removal generalized to the top-2 subspace — ‖corr‖² = Q − 2·ΣP_c² +
    * Σ coeff·P_c·P_d·R_cd with the k×k loading Gram R driver-computed
    * under the dec12 discipline (round-6 loadings are not exactly
    * orthonormal, so cross terms matter). Still ONE data pass; the
    * oracle replays 24 power steps, the deflation, the per-id P/Q sums,
    * the three Gram entries and the exact term parenthesization. */
  val q285AbttTopk = QueryDef(
    "q285_abtt_topk",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val (cov, means) = graft.sim.Pca.covarianceWithMeans(e, "embedding",
        dim = 64)
      val m = graft.sim.Pca.collectCovariance(cov, dim = 64)
      val comps = graft.sim.Pca.topKComponents(m, kComps = 2, iters = 12)
      graft.sim.Pca.abttAuditK(e.filter(col("vec_id") < 10), "vec_id",
        "embedding", comps, means)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock,
      cov AS MATERIALIZED (SELECT i, j, c FROM covu
        UNION ALL SELECT j AS i, i AS j, c FROM covu WHERE i < j),
      v0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_)).mkString(",\n      ")},
      ${rayleighSql("wd1", "ld1", "cov", "v12")},
      lam1 AS MATERIALIZED (SELECT ROUND(l, 6) AS lam FROM ld1),
      ${deflateSql("cov2", "cov", "v12", "lam1")},
      b0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x FROM px),
      ${(1 to 12).map(powerStepSql(_, "cov2", "b")).mkString(",\n      ")},
      means AS (SELECT pos, ROUND(s / nn.n, 6) AS m FROM sx, nn),
      centd AS MATERIALIZED (SELECT p.vec_id, p.pos, p.val - m.m AS cent
        FROM px p JOIN means m ON m.pos = p.pos WHERE p.vec_id < 10),
      qq AS (SELECT vec_id, CAST(SUM(CAST(cent * cent AS DECIMAL(38,12)))
          AS DOUBLE) AS q FROM centd GROUP BY vec_id),
      p1 AS (SELECT c.vec_id, CAST(SUM(CAST(v.x * c.cent AS DECIMAL(38,12)))
          AS DOUBLE) AS p
        FROM centd c JOIN v12 v ON v.i = c.pos GROUP BY c.vec_id),
      p2 AS (SELECT c.vec_id, CAST(SUM(CAST(v.x * c.cent AS DECIMAL(38,12)))
          AS DOUBLE) AS p
        FROM centd c JOIN b12 v ON v.i = c.pos GROUP BY c.vec_id),
      r11 AS (SELECT CAST(SUM(CAST(a.x * a.x AS DECIMAL(38,12))) AS DOUBLE)
          AS r FROM v12 a),
      r12 AS (SELECT CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS DOUBLE)
          AS r FROM v12 a JOIN b12 b ON b.i = a.i),
      r22 AS (SELECT CAST(SUM(CAST(a.x * a.x AS DECIMAL(38,12))) AS DOUBLE)
          AS r FROM b12 a)
      SELECT qq.vec_id, ROUND(SQRT(qq.q), 6) AS centered_norm,
        ROUND(SQRT(GREATEST(0.0,
          qq.q - 2 * (p1.p * p1.p + p2.p * p2.p)
            + (p1.p * p1.p * r11.r + 2 * p1.p * p2.p * r12.r
              + p2.p * p2.p * r22.r))), 6) AS corrected_norm
      FROM qq JOIN p1 ON p1.vec_id = qq.vec_id
        JOIN p2 ON p2.vec_id = qq.vec_id, r11, r12, r22
      ORDER BY qq.vec_id"""))

  /** Shared by q65 (inline build+probe) and q143 (saved-index probe): both
    * must reproduce exactly this trajectory — seeded init, two unrolled
    * round-6 Lloyd steps, nProbe=3 probe ranking, in-cell exact cosine
    * top-3. */
  private def ivfLloydProbeOracle: String =
    s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      px AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM ev)),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0")},
      ${lloydStepSql("a2", "c2", "c1")},
      ${argminCellSql("asg", "c2")},
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 10),
      pr AS (SELECT qid, cell FROM (
          SELECT q.vec_id AS qid, c.cell, ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ROUND(${d2Sql("q.v", "c.cv")}, 6), c.cell) AS rn
          FROM q, c2 c) WHERE rn <= 3),
      cand AS (SELECT pr.qid, a.vec_id AS cid, ROUND(${cosineSql("q.v", "e.v")}, 6) AS sim
        FROM pr JOIN asg a ON a.cell = pr.cell
        JOIN ev e ON e.vec_id = a.vec_id
        JOIN q ON q.vec_id = pr.qid
        WHERE a.vec_id <> pr.qid),
      r AS (SELECT qid, cid, sim, CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY sim DESC, cid) AS INT) AS rank FROM cand)
      SELECT qid, rank, cid, sim FROM r WHERE rank <= 3 ORDER BY qid, rank"""

  /** Incremental semantic dedup: the daily-increment production mode —
    * batch vectors (vec_id ≥ 400) checked against the indexed corpus
    * (vec_id < 400) within nearest-centroid cells only. Exact oracle
    * replays assignment (argmax rounded cosine, smaller-cell tie-break),
    * the cell-local batch→corpus scoring, and the per-cell audit. */
  val q122IncrementalSemdedup = QueryDef(
    "q122_incremental_semdedup",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val corpus = e.filter(col("vec_id") < 400)
      val cents = Similarity.seedCentroids(corpus, "vec_id", "embedding", 8)
      Similarity.incrementalSemDupStats(
        e.filter(col("vec_id") >= 400), corpus, "vec_id", "embedding",
        cents, 0.35)
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      cent AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev
        WHERE vec_id < 8),
      co AS (SELECT vec_id, v FROM ev WHERE vec_id < 400),
      ba AS (SELECT vec_id, v FROM ev WHERE vec_id >= 400),
      ${argmaxCosSql("aco", "co")},
      ${argmaxCosSql("aba", "ba")},
      best AS (SELECT a.cell, a.vec_id AS bid,
          MAX(ROUND(${cosineSql("x.v", "y.v")}, 6)) AS best_sim
        FROM aba a JOIN ba x ON x.vec_id = a.vec_id
        JOIN aco g ON g.cell = a.cell
        JOIN co y ON y.vec_id = g.vec_id
        GROUP BY a.cell, a.vec_id),
      j AS (SELECT a.cell, a.vec_id AS bid, b.best_sim
        FROM aba a LEFT JOIN best b ON b.cell = a.cell AND b.bid = a.vec_id)
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_batch,
        CAST(SUM(CASE WHEN best_sim >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dups,
        MAX(best_sim) AS max_sim
      FROM j GROUP BY cell ORDER BY cell"""))

  /** Squared-L2 DuckDB fragment matching Similarity.dist2's summation
    * structure (three in-order dot products). */
  private def d2Sql(a: String, b: String): String =
    s"list_dot_product($a,$a) - 2*list_dot_product($a,$b) + list_dot_product($b,$b)"

  /** Argmin cell assignment as a DuckDB CTE — rounded d2, smaller-cell
    * tie-break. ONE definition used by every assignment in the q117 and
    * q261 oracles (Lloyd iterations, final indexing, PQ sub-encoding), so
    * a tie-break or rounding tweak cannot silently diverge them. `src` is
    * the vector table (full vectors or a PQ subspace slice). */
  private def argminCellSql(name: String, cent: String,
      src: String = "ev"): String =
    s"""$name AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ROUND(${d2Sql("e.v", "c.cv")}, 6), c.cell) AS rn
          FROM $src e, $cent c) WHERE rn = 1)"""

  /** One Lloyd iteration as two DuckDB CTEs: `asg` = [[argminCellSql]],
    * `cent` = element-wise round-6 means over the assignment. Mirrors
    * Similarity.lloydCentroids step for step so the oracle replays the
    * exact centroid trajectory. `src`/`px` name the vector and exploded-
    * position tables (defaults = the full-vector pair; PQ passes per-
    * subspace slices). */
  private def lloydStepSql(asg: String, cent: String, prevCent: String,
      src: String = "ev", px: String = "px"): String =
    s"""${argminCellSql(asg, prevCent, src)},
      $cent AS (SELECT cell, list(val ORDER BY pos) AS cv FROM (
          SELECT a.cell, p.pos, ROUND(AVG(p.val), 6) AS val
          FROM $asg a JOIN $px p USING (vec_id) GROUP BY a.cell, p.pos)
        GROUP BY cell)"""

  /** IVF top-k with the DETERMINISTIC Lloyd quantizer — the exact-oracle
    * counterpart of q65: seeded init (first 8 vectors), two unrolled
    * k-means iterations under the round-6 float contract, nProbe=2 cell
    * probing, exact in-cell cosine top-3. The DuckDB oracle replays the
    * whole trajectory — init, both iterations, final assignment, probing,
    * scoring — CTE for CTE. */
  val q117IvfLloyd = QueryDef(
    "q117_ivf_lloyd",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lloydIvfTopK(e.filter(col("vec_id") < 10), e, "vec_id",
        "embedding", k = 3, nLists = 8, iters = 2, nProbe = 2)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      px AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM ev)),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0")},
      ${lloydStepSql("a2", "c2", "c1")},
      ${argminCellSql("asg", "c2")},
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 10),
      pr AS (SELECT qid, cell FROM (
          SELECT q.vec_id AS qid, c.cell, ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ROUND(${d2Sql("q.v", "c.cv")}, 6), c.cell) AS rn
          FROM q, c2 c) WHERE rn <= 2),
      cand AS (SELECT pr.qid, a.vec_id AS cid, ROUND(${cosineSql("q.v", "e.v")}, 6) AS sim
        FROM pr JOIN asg a ON a.cell = pr.cell
        JOIN ev e ON e.vec_id = a.vec_id
        JOIN q ON q.vec_id = pr.qid
        WHERE a.vec_id <> pr.qid),
      r AS (SELECT qid, cid, sim, CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY sim DESC, cid) AS INT) AS rank FROM cand)
      SELECT qid, rank, cid, sim FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Embedding near-dup CLUSTERING: cosine pair generation composed with the
    * connected-components operator (pointer-jumping min-label) — the same
    * pairs→clusters→keep-decision shape q55 exercises for text, here over
    * the embedding space. Auto strategy at threshold 0.4 dispatches to the
    * blocked-exact plan, so the DuckDB recursive-CTE oracle sees identical
    * edges. Like q49, the exact rung runs under the maxPairs=2e9 budget
    * guard — a corpus past ~63k vectors raises with a pointer to the
    * sub-quadratic rungs rather than going quadratic unannounced.
    */
  val q68EmbedClusters = QueryDef(
    "q68_embed_clusters",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val pairs = Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
      val comps = graft.text.DedupOps.connectedComponents(
        pairs, e.select(col("vec_id").as("doc")))
      comps.groupBy("cluster").agg(count(lit(1)).as("size"))
        .filter(col("size") >= 2)
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM ev a, ev b WHERE a.vec_id < b.vec_id
          AND ROUND(${cosineSql("a.v", "b.v")}, 6) >= 0.4),
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a)
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM labels
      GROUP BY cluster HAVING COUNT(*) >= 2 ORDER BY cluster"""))

  /** SemDeDup (sim.Similarity.semDedup): cell-scoped semantic dedup with
    * the diversity-keep representative policy, pinned exactly per cell —
    * counts plus an md5 over the kept ids. Seed centroids (first 8 vectors)
    * make the quantizer cross-engine deterministic. */
  val q92SemDedup = QueryDef(
    "q92_semdedup",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      Similarity.semDedup(e, "vec_id", "embedding", cents, 0.4)
        .groupBy("cell")
        .agg(
          count(lit(1)).as("n_vecs"),
          countDistinct(when(!col("keep"), col("cluster"))).as("n_groups"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
          md5(array_join(transform(sort_array(collect_list(
            when(col("keep"), struct(col("id").as("k"),
              col("id").cast("string").as("i"))))),
            p => p("i")), ",")).as("kept_md5"))
        .orderBy("cell")
    },
    Some(s"""WITH RECURSIVE ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      cent AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev
        WHERE vec_id < 8),
      ${argmaxCosSql("asg", "ev")},
      pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN ev x ON x.vec_id = a.vec_id
        JOIN ev y ON y.vec_id = b.vec_id
        WHERE ROUND(${cosineSql("x.v", "y.v")}, 6) >= 0.4),
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a),
      fl AS (SELECT g.vec_id, g.cell, g.simc,
          COALESCE(l.cluster, g.vec_id) AS cluster
        FROM asg g LEFT JOIN labels l ON l.doc = g.vec_id),
      kp AS (SELECT vec_id, cell, cluster,
          (ROW_NUMBER() OVER (PARTITION BY cluster
            ORDER BY simc ASC, vec_id) = 1) AS keep
        FROM fl)
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        CAST(COUNT(DISTINCT CASE WHEN NOT keep THEN cluster END) AS BIGINT)
          AS n_groups,
        CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        md5(string_agg(CASE WHEN keep THEN CAST(vec_id AS VARCHAR) END, ','
          ORDER BY vec_id)) AS kept_md5
      FROM kp GROUP BY cell ORDER BY cell"""))

  /** Multimodal plumbing: binary media column → batched feature extraction
    * (stubbed decode) → per-format feature stats. The decode stub digests the
    * payload with MD5, so DuckDB reproduces feature 0 from the same hex
    * (bytes 0 and 7 of the digest): the mapPartitions batch path is oracled
    * end-to-end even though the plumbing itself is not SQL. */
  val q51MultimodalFeatures = QueryDef(
    "q51_multimodal_features",
    (s, d) => {
      val media = Multimodal.fakeMediaFromDocs(Tables.documents(s, d))
      Multimodal.extractFeatures(media, dim = 16)
        .withColumn("f0", element_at(col("features"), 1))
        .groupBy("format")
        .agg(count(lit(1)).as("n"),
          round(avg(col("f0")), 6).as("avg_f0"))
        .orderBy("format")
    },
    // f0 = (digest[0]*256 + digest[7]) / 65536 — a power-of-two division of
    // a 16-bit int, exact in float and double alike
    // COALESCE(text, '') mirrors fakeMediaFromDocs' null contract: a NULL
    // document is an empty payload, so its features are the md5('') digest
    Some("""WITH f AS (SELECT
        (CAST('0x' || substr(md5(COALESCE(text, '')), 1, 2) AS BIGINT) * 256
         + CAST('0x' || substr(md5(COALESCE(text, '')), 15, 2) AS BIGINT)) / 65536.0 AS f0
      FROM documents)
      SELECT 'fake/raw' AS format, COUNT(*) AS n,
        ROUND(AVG(f0), 6) AS avg_f0
      FROM f GROUP BY 1 ORDER BY 1"""))

  /** Resize + frame sampling over video-like media: every 4th frame of the
    * stub-resized payloads. Frame counts derive from the synthesized
    * n_frames = n_chars % 16 + 1, so the explode is oracled arithmetically. */
  val q52FrameSample = QueryDef(
    "q52_frame_sample",
    (s, d) => {
      val media = Multimodal.fakeMediaFromDocs(Tables.documents(s, d))
      val resized = Multimodal.resizeStub(media, targetW = 64, targetH = 64)
      Multimodal.sampleFrames(resized, stride = 4)
        .groupBy("format").agg(count(lit(1)).as("n_frames"))
        .orderBy("format")
    },
    // COALESCE: a NULL document is an empty payload (n_frames = 1), per
    // fakeMediaFromDocs' null contract
    Some("""WITH m AS (SELECT (COALESCE(n_chars, 0) % 16 + 1) AS nf FROM documents)
      SELECT 'fake/raw' AS format,
        CAST(SUM((nf - 1) // 4 + 1) AS BIGINT) AS n_frames
      FROM m GROUP BY 1 ORDER BY 1"""))

  /** int8 scalar quantization (sim.Quantization): per-vector scale, codes,
    * and max reconstruction error — exact cross-engine oracle (same HOF
    * arithmetic and rounding in DuckDB list functions). */
  val q84QuantizeInt8 = QueryDef(
    "q84_quantize_int8",
    (s, d) => {
      val v = col("embedding").cast("array<double>")
      val scale = graft.sim.Quantization.int8Scale(v)
      Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .withColumn("__scale", scale)
        .withColumn("__codes", graft.sim.Quantization.quantizeInt8(v, col("__scale")))
        .select(col("vec_id"),
          round(col("__scale"), 6).as("scale"),
          round(graft.sim.Quantization.maxAbsError(v, col("__codes"), col("__scale")), 6)
            .as("max_err"),
          aggregate(col("__codes"), lit(0L), (acc, q) => acc + abs(q)).as("code_l1"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id < 200),
      s AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM e),
      q AS (SELECT vec_id, v, sc,
          list_transform(v, x -> CAST(CASE WHEN sc > 0
            THEN round(x / sc, 0) ELSE 0.0 END AS INTEGER)) AS codes
        FROM s)
      SELECT vec_id, ROUND(sc, 6) AS scale,
        ROUND(list_max(list_transform(list_zip(v, codes),
          p -> abs(p[1] - CAST(p[2] AS DOUBLE) * sc))), 6) AS max_err,
        CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT) AS code_l1
      FROM q ORDER BY vec_id"""))

  /** Binary-quantized Hamming ANN: sign bits packed into 32-bit words
    * (exact powers of two — no shift builtin needed cross-engine),
    * candidates ranked by XOR-popcount, exact cosine computed only on the
    * k-bounded winners (the binary-candidates → full-precision-rerank
    * ladder). The oracle replays packing, Hamming ranking, tie-breaks and
    * the rerank cosine bit-for-bit. */
  val q124HammingTopk = QueryDef(
    "q124_hamming_topk",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hammingTopK(e.filter(col("vec_id") < 10), e, "vec_id",
        "embedding", dim = 64, k = 3)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      b AS (SELECT vec_id, v, list_transform(range(0, 2), w ->
          CAST(list_sum(list_transform(range(0, 32), j ->
            CASE WHEN v[w * 32 + j + 1] >= 0
            THEN CAST(pow(2.0, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT)) AS bits
        FROM e),
      q AS (SELECT * FROM b WHERE vec_id < 10),
      scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          CAST(list_sum(list_transform(list_zip(q.bits, c.bits),
            p -> bit_count(xor(p[1], p[2])))) AS BIGINT) AS hamming
        FROM b c, q WHERE q.vec_id <> c.vec_id),
      r AS (SELECT qid, cid, hamming, CAST(ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY hamming, cid) AS INT) AS rank
        FROM scored)
      SELECT r.qid, r.rank, r.cid, CAST(r.hamming AS INT) AS hamming,
        ROUND(${cosineSql("qe.v", "ce.v")}, 6) AS cosine
      FROM r JOIN e qe ON qe.vec_id = r.qid JOIN e ce ON ce.vec_id = r.cid
      WHERE r.rank <= 3 ORDER BY r.qid, r.rank"""))

  /** Matryoshka truncation audit: 16-dim prefixes, L2-renormalized (unit
    * vectors, so prefix cosine IS the plain dot), scored against the
    * full-dim cosine on a deterministic pair sample (i vs i+100) — the
    * go/no-go measurement before shipping truncated embeddings. Per-bucket
    * drift stats under the decimal-sum average contract; prefix ENERGY
    * (share of squared mass in the prefix) audits per-vector safety. */
  val q125Matryoshka = QueryDef(
    "q125_matryoshka",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val v = col("embedding").cast("array<double>")
      val a = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("id"), v.as("va"),
          graft.sim.Quantization.truncateRenorm(v, 16).as("ta"))
      val b = e.filter(col("vec_id") >= 100 && col("vec_id") < 200)
        .select((col("vec_id") - 100).as("id"), v.as("vb"),
          graft.sim.Quantization.truncateRenorm(v, 16).as("tb"))
      a.join(b, Seq("id"))
        .select(col("id"),
          round(Similarity.dot(col("ta"), col("tb")), 6).as("cos16"),
          round(Similarity.cosine(col("va"), col("vb")), 6).as("cos64"),
          round(graft.sim.Quantization.prefixEnergy(col("va"), 16), 6).as("er"))
        .groupBy(floor(col("id") / 20.0).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          round((sum(abs(col("cos16") - col("cos64")).cast("decimal(38,12)"))
            .cast("double") / count(lit(1))), 6).as("avg_drift"),
          round(max(abs(col("cos16") - col("cos64"))), 6).as("max_drift"),
          round((sum(col("er").cast("decimal(38,12)")).cast("double")
            / count(lit(1))), 6).as("avg_energy16"))
        .orderBy("bucket")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      t AS (SELECT vec_id, v, v[1:16] AS p,
          sqrt(list_dot_product(v[1:16], v[1:16])) AS pn FROM e),
      tr AS (SELECT vec_id, v,
          list_transform(p, x -> CASE WHEN pn <> 0 THEN x / pn ELSE 0.0 END) AS tp,
          list_dot_product(p, p) / list_dot_product(v, v) AS er FROM t),
      a AS (SELECT vec_id AS id, v, tp, er FROM tr WHERE vec_id < 100),
      b AS (SELECT vec_id - 100 AS id, v AS vb, tp AS tpb FROM tr
        WHERE vec_id >= 100 AND vec_id < 200),
      pr AS (SELECT a.id,
          ROUND(list_dot_product(a.tp, b.tpb), 6) AS cos16,
          ROUND(${cosineSql("a.v", "b.vb")}, 6) AS cos64,
          ROUND(a.er, 6) AS er
        FROM a JOIN b USING (id))
      SELECT CAST(floor(id / 20.0) AS INT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        ROUND(CAST(SUM(CAST(abs(cos16 - cos64) AS DECIMAL(38,12))) AS DOUBLE)
          / COUNT(*), 6) AS avg_drift,
        ROUND(MAX(abs(cos16 - cos64)), 6) AS max_drift,
        ROUND(CAST(SUM(CAST(er AS DECIMAL(38,12))) AS DOUBLE)
          / COUNT(*), 6) AS avg_energy16
      FROM pr GROUP BY 1 ORDER BY 1"""))

  /** ANN quality gate (sim.Similarity.recallAtK): per-query recall@3 of
    * the hyperplane-LSH search against the brute-force exact answer. Both
    * pipelines are deterministic and SQL-reproducible, so the RECALL
    * NUMBERS themselves are exactly oracled — the eval harness is a
    * first-class verified operator, not a side script. */
  val q98AnnRecall = QueryDef(
    "q98_ann_recall",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 3)
      val approx = Similarity.lshTopK(q, e, "vec_id", "embedding",
        k = 3, nPlanes = 4)
      Similarity.recallAtK(approx, exact, "qid", "cid").orderBy("qid")
    },
    Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      xscored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          ROUND(${cosineSql("q.v", "c.v")}, 6) AS sim
        FROM e c, q WHERE q.vec_id <> c.vec_id),
      exact AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
        FROM xscored) WHERE rank <= 3),
      planes AS (SELECT j, list_transform(range(0, (SELECT len(v) FROM e LIMIT 1)), i ->
          ((CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)
            % 2001) - 1000) / 1000.0) AS pv
        FROM range(0, 4) t(j)),
      bck AS (SELECT e.vec_id,
          CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) >= 0
            THEN CAST(POWER(2, p.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        FROM e, planes p GROUP BY e.vec_id),
      c AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN bck b USING (vec_id)),
      qb AS (SELECT * FROM c WHERE vec_id < 10),
      ascored AS (SELECT qb.vec_id AS qid, c.vec_id AS cid,
          ROUND(${cosineSql("qb.v", "c.v")}, 6) AS sim
        FROM qb JOIN c ON qb.bucket = c.bucket AND qb.vec_id <> c.vec_id),
      approx AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
        FROM ascored) WHERE rank <= 3),
      hits AS (SELECT x.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM exact x JOIN approx a ON x.qid = a.qid AND x.cid = a.cid
        GROUP BY x.qid),
      base AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact GROUP BY qid)
      SELECT b.qid, b.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
        ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / b.n_exact, 6) AS recall
      FROM base b LEFT JOIN hits h ON b.qid = h.qid ORDER BY b.qid"""))

  /** Hard-negative mining: for the first 10 query vectors, the 3 most
    * similar corpus vectors with a DIFFERENT label — the near-miss
    * negatives contrastive training wants. Exactly oracled (brute-force
    * twin with the label predicate). */
  val q108HardNegatives = QueryDef(
    "q108_hard_negatives",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "label", 3)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, label,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
      q AS (SELECT * FROM e WHERE vec_id < 10),
      scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          ROUND(${cosineSql("q.v", "c.v")}, 6) AS sim
        FROM e c, q WHERE q.vec_id <> c.vec_id AND q.label <> c.label),
      r AS (SELECT qid, cid, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS INT) AS rank
        FROM scored)
      SELECT qid, rank, cid, sim FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** The unrolled MMR selection steps (the q95 unrolled-rounds technique):
    * step i picks the argmax of 0.7·rel − (1−0.7)·maxSim-to-selected over
    * the not-yet-selected pool, with the identical 6-rounding and id
    * tie-break the Scala loop applies. */
  private def mmrStepsSql(k: Int): String = {
    val steps = (1 to k).map { i =>
      // DECIMAL score arithmetic (mirrors mmrSelect): rel/sim are already
      // 6-decimal values, so the λ-blend is exact and rounds identically
      if (i == 1)
        s"""s1 AS (SELECT vec_id, v, rel,
             CAST(ROUND(CAST(0.7 AS DECIMAL(8,6)) * CAST(rel AS DECIMAL(18,6)), 6)
               AS DOUBLE) AS score
             FROM c ORDER BY score DESC, vec_id LIMIT 1),
           sel1 AS (SELECT vec_id, v FROM s1)"""
      else
        s"""s$i AS (SELECT vec_id, v, rel,
             CAST(ROUND(CAST(0.7 AS DECIMAL(8,6)) * CAST(rel AS DECIMAL(18,6))
               - CAST(1 - 0.7 AS DECIMAL(8,6))
                 * CAST((SELECT MAX(ROUND(${cosineSql("c.v", "s.v")}, 6))
                     FROM sel${i - 1} s) AS DECIMAL(18,6)), 6) AS DOUBLE) AS score
             FROM c WHERE vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
             ORDER BY score DESC, vec_id LIMIT 1),
           sel$i AS (SELECT vec_id, v FROM sel${i - 1}
             UNION ALL SELECT vec_id, v FROM s$i)"""
    }
    steps.mkString(",\n")
  }

  /** Maximal Marginal Relevance re-rank (Similarity.mmrSelect): diverse
    * top-5 from the 30-candidate pool against query vector 0 — the RAG
    * rerank stage, exact-oracled by 5 unrolled argmax CTEs. */
  val q178MmrRerank = QueryDef(
    "q178_mmr_rerank",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.mmrSelect(
        e.filter(col("vec_id") >= 1 && col("vec_id") <= 30),
        "vec_id", "embedding",
        e.filter(col("vec_id") === 0), k = 5)
    },
    Some(s"""WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
      q AS (SELECT v FROM e WHERE vec_id = 0),
      c AS (SELECT c.vec_id AS vec_id, c.v AS v,
          ROUND(${cosineSql("c.v", "q.v")}, 6) AS rel
        FROM e c, q WHERE c.vec_id >= 1 AND c.vec_id <= 30
          AND ${cosineSql("c.v", "q.v")} IS NOT NULL),
      ${mmrStepsSql(5)}
      SELECT * FROM (
        SELECT 1 AS rank, vec_id, rel, score FROM s1
        UNION ALL SELECT 2, vec_id, rel, score FROM s2
        UNION ALL SELECT 3, vec_id, rel, score FROM s3
        UNION ALL SELECT 4, vec_id, rel, score FROM s4
        UNION ALL SELECT 5, vec_id, rel, score FROM s5)
      ORDER BY rank"""))

  /** Label-noise screen (Similarity.labelNoiseScreen): top-20 vectors by
    * own-centroid / nearest-other-centroid distance margin — the
    * confident-learning-style relabeling queue. Centroid table broadcast;
    * decimal-sum distances replay verbatim in the oracle. */
  val q231LabelNoise = QueryDef(
    "q231_label_noise",
    (s, d) => Similarity.labelNoiseScreen(Tables.embeddings(s, d),
      "vec_id", "embedding", "label"),
    Some("""WITH x AS (SELECT vec_id, label,
          unnest(range(len(embedding))) AS pos,
          CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL),
      c AS (SELECT label AS lc, pos,
          CAST(SUM(CAST(v AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*) AS cv
        FROM x GROUP BY 1, 2),
      d AS (SELECT x.vec_id, x.label, c.lc,
          CAST(SUM(CAST(ROUND((x.v - c.cv) * (x.v - c.cv), 8)
            AS DECIMAL(38,8))) AS DOUBLE) AS d2
        FROM x JOIN c USING (pos) GROUP BY 1, 2, 3),
      own AS (SELECT vec_id, label, d2 AS d_own FROM d WHERE label = lc),
      nrst AS (SELECT vec_id, lc AS nearest_other, d2 AS d_other FROM
        (SELECT vec_id, lc, d2, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY d2, lc) AS rn
          FROM d WHERE label != lc) WHERE rn = 1)
      SELECT o.vec_id, o.label, ROUND(d_own, 6) AS d_own, nearest_other,
        ROUND(d_other, 6) AS d_other,
        ROUND(d_own / d_other, 6) AS margin,
        ROUND(d_own, 6) > ROUND(d_other, 6) AS mislabeled
      FROM own o JOIN nrst USING (vec_id)
      WHERE d_other != 0
      ORDER BY margin DESC, vec_id LIMIT 20"""))

  /** One PQ subspace's oracle CTE chain: slice table, positions, seeded
    * init (ids < ksub), one Lloyd step, final sub-encoding, and the flat
    * per-query distance table dt$j (over FULL query-vector slices — the
    * IVF-PQ oracle builds its own residual tables instead and leaves dt$j
    * unreferenced; DuckDB prunes unused CTEs). Composes the SAME
    * argmin/Lloyd templates as q117, per 16-dim slice of `src`. */
  private def pqSubspaceSql(j: Int, lo: Int, hi: Int, ksub: Int,
      src: String = "ev"): String =
    s"""ev$j AS (SELECT vec_id, v[$lo:$hi] AS v FROM $src),
      px$j AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos
          FROM ev$j)),
      c0_$j AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev$j
        WHERE vec_id < $ksub),
      ${lloydStepSql(s"a1_$j", s"c1_$j", s"c0_$j", s"ev$j", s"px$j")},
      ${argminCellSql(s"asg$j", s"c1_$j", s"ev$j")},
      dt$j AS (SELECT q.vec_id AS qid, c.cell,
          ROUND(${d2Sql(s"q.v[$lo:$hi]", "c.cv")}, 6) AS d2v
        FROM q, c1_$j c)"""

  /** Product quantization + ADC top-k (Pq.pqAdcTopK): 4 subspaces of 16
    * dims, 8 sub-centroids each from the SAME seeded deterministic Lloyd
    * as q117 (one iteration), asymmetric-distance scoring = per-subspace
    * round-6 squared-L2 lookups summed and rounded — the canonical ANN
    * compression. The oracle replays codebook training, encoding, the
    * per-query distance tables, and the ADC ranking CTE for CTE. */
  val q261PqAdc = QueryDef(
    "q261_pq_adc",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.sim.Pq.pqAdcTopK(e.filter(col("vec_id") < 10), e, "vec_id",
        "embedding", k = 3, dim = 64, m = 4, ksub = 8, iters = 1)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 10),
      ${(0 until 4).map(j => pqSubspaceSql(j, j * 16 + 1, j * 16 + 16, 8))
        .mkString(",\n      ")},
      adc AS (SELECT dt0.qid, a0.vec_id AS cid,
          ROUND(dt0.d2v + dt1.d2v + dt2.d2v + dt3.d2v, 6) AS adc
        FROM asg0 a0 JOIN asg1 a1 USING (vec_id)
          JOIN asg2 a2 USING (vec_id) JOIN asg3 a3 USING (vec_id)
          JOIN dt0 ON dt0.cell = a0.cell
          JOIN dt1 ON dt1.cell = a1.cell AND dt1.qid = dt0.qid
          JOIN dt2 ON dt2.cell = a2.cell AND dt2.qid = dt0.qid
          JOIN dt3 ON dt3.cell = a3.cell AND dt3.qid = dt0.qid
        WHERE a0.vec_id <> dt0.qid),
      r AS (SELECT qid, cid, adc, CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY adc, cid) AS INT) AS rank FROM adc)
      SELECT qid, rank, CAST(cid AS BIGINT) AS cid, adc AS adc_d2
      FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** PQ quality gate: per-query recall@3 of q261's ADC ranking against
    * the brute-force exact squared-L2 answer — the eval number that says
    * what the 16x compression costs, itself exactly oracled (both
    * pipelines are deterministic; the q98 contract for distance-ranked
    * ANN). */
  val q262PqRecall = QueryDef(
    "q262_pq_recall",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceL2TopK(q, e, "vec_id", "embedding", 3)
      val approx = graft.sim.Pq.pqAdcTopK(q, e, "vec_id", "embedding",
        k = 3, dim = 64, m = 4, ksub = 8, iters = 1)
      Similarity.recallAtK(approx, exact, "qid", "cid").orderBy("qid")
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 10),
      xscored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          ROUND(${d2Sql("q.v", "c.v")}, 6) AS d2
        FROM ev c, q WHERE q.vec_id <> c.vec_id),
      exact AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, cid ASC)
            AS rank FROM xscored) WHERE rank <= 3),
      ${(0 until 4).map(j => pqSubspaceSql(j, j * 16 + 1, j * 16 + 16, 8))
        .mkString(",\n      ")},
      adc AS (SELECT dt0.qid, a0.vec_id AS cid,
          ROUND(dt0.d2v + dt1.d2v + dt2.d2v + dt3.d2v, 6) AS adc
        FROM asg0 a0 JOIN asg1 a1 USING (vec_id)
          JOIN asg2 a2 USING (vec_id) JOIN asg3 a3 USING (vec_id)
          JOIN dt0 ON dt0.cell = a0.cell
          JOIN dt1 ON dt1.cell = a1.cell AND dt1.qid = dt0.qid
          JOIN dt2 ON dt2.cell = a2.cell AND dt2.qid = dt0.qid
          JOIN dt3 ON dt3.cell = a3.cell AND dt3.qid = dt0.qid
        WHERE a0.vec_id <> dt0.qid),
      approx AS (SELECT qid, cid FROM (SELECT qid, cid,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY adc, cid) AS INT) AS rank FROM adc) WHERE rank <= 3),
      hits AS (SELECT x.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM exact x JOIN approx a ON x.qid = a.qid AND x.cid = a.cid
        GROUP BY x.qid),
      base AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact GROUP BY qid)
      SELECT b.qid, b.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
        ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / b.n_exact, 6) AS recall
      FROM base b LEFT JOIN hits h ON b.qid = h.qid ORDER BY b.qid"""))

  /** IVF-PQ with residual encoding (Pq.ivfPqTopK): q117's coarse Lloyd
    * cells + q261's PQ codebooks trained on the RESIDUALS, nProbe=2 cell
    * probing, ADC over per-(query, cell) residual distance tables — the
    * production FAISS-style ANN architecture, fully deterministic and
    * oracled CTE-for-CTE (coarse training, residuals, sub-codebooks,
    * probing, ADC ranking). */
  val q263IvfPq = QueryDef(
    "q263_ivf_pq",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      graft.sim.Pq.ivfPqTopK(e.filter(col("vec_id") < 10), e, "vec_id",
        "embedding", k = 3, dim = 64, nLists = 8, nProbe = 2, m = 4,
        ksub = 8, iters = 1)
        .orderBy("qid", "rank")
    },
    Some(ivfPqOracle))

  /** Saved-index IVF-PQ probe (Pq.buildIvfPqIndex → saveIvfPqIndex →
    * loadIvfPqIndex → queryIvfPqIndex) through [[IndexCache]] — index
    * keyed by a content fingerprint of the source parquet, built once
    * under a temp dir and atomically published, codes partitioned by
    * coarse cell so the probe join prunes unprobed cells at the file
    * level. Same deterministic-Lloyd trajectory as q263, so build → save
    * → load → query is oracled by the SAME SQL (shared [[ivfPqOracle]]). */
  val q264IvfPqSaved = QueryDef(
    "q264_ivfpq_saved",
    (s, d) => {
      // the pre-IndexCache tag (no contract hash): existing caches stay valid
      val idxDir = IndexCache.cachedDir(s, s"$d/embeddings.parquet",
        IndexCache.tagFor("graft_ivfpq_v1_", d)) { tmpDir =>
        graft.sim.Pq.saveIvfPqIndex(graft.sim.Pq.buildIvfPqIndex(
          Tables.embeddings(s, d), "vec_id", "embedding", dim = 64, nLists = 8,
          m = 4, ksub = 8, iters = 1), tmpDir)
      }
      val idx = graft.sim.Pq.loadIvfPqIndex(s, idxDir)
      graft.sim.Pq.queryIvfPqIndex(idx,
        Tables.embeddings(s, d).filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, nProbe = 2)
        .orderBy("qid", "rank")
    },
    Some(ivfPqOracle))

  /** Incremental IVF-PQ ADD (Pq.addToIvfPqIndex): the compressed-rung
    * counterpart of q271 — coarse quantizer AND residual sub-codebooks
    * train on the EVEN half only, the odd half is residual-encoded under
    * the frozen quantizer and appended, and the probe runs over the
    * combined codes. The oracle pins the add invariant: because the add
    * uses the build's own assignment + encoding projections, the combined
    * codes table equals residual-encoding the FULL corpus against the
    * even-trained coarse centroids and sub-codebooks. */
  /** The q295 rotation-learn replay: k deflation components, each 12
    * power steps (prefix r{c}_) over the (c−1)-times-deflated matrix
    * rc{c} (rc1 = cov), Rayleigh-against-current + round-6 deflation
    * between components — q281's chain generalized to a generated loop.
    * Ends with iterates r{c}_12 (i, x). */
  private def rotationChainSql(k: Int): String =
    (1 to k).map { c =>
      val covName = if (c == 1) "cov" else s"rc$c"
      val steps = (1 to 12).map(powerStepSql(_, covName, s"r${c}_"))
        .mkString(",\n      ")
      val defl =
        if (c == k) ""
        else s""",
      ${rayleighSql(s"rw$c", s"rl$c", covName, s"r${c}_12")},
      rlam$c AS MATERIALIZED (SELECT ROUND(l, 6) AS lam FROM rl$c),
      ${deflateSql(s"rc${c + 1}", covName, s"r${c}_12", s"rlam$c")}"""
      s"""r${c}_0 AS MATERIALIZED (SELECT DISTINCT pos AS i, 0.125 AS x
        FROM px),
      $steps$defl"""
    }.mkString(",\n      ")

  /** OPQ-style learned pre-rotation (Opq.learnPcaRotation + Opq.rotate):
    * top-8 deflation components round-robin-allocated across m=4 PQ
    * subspaces (subspace-major row order), applied to the first 5
    * vectors — (vec_id, pos, val) with val = round6(row · v). FULLY
    * ORACLED: the DuckDB side replays covariance, all 96 power steps, 7
    * deflations, the round-robin position formula and the in-order
    * list_dot_product application. The recall LIFT this buys PQ on
    * anisotropic data (measured 0.23 → 0.68 recall@5 on the OpqSpec
    * fixture) is gated in OpqSpec, the q262 pattern. */
  val q295OpqRotation = QueryDef(
    "q295_opq_rotation",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cov = graft.sim.Pca.covarianceMatrix(e, "embedding", dim = 64)
      val rot = graft.sim.Opq.learnPcaRotation(
        graft.sim.Pca.collectCovariance(cov, dim = 64), kOut = 8, m = 4,
        iters = 12)
      e.filter(col("vec_id") < 5)
        .select(col("vec_id"),
          posexplode(graft.sim.Opq.rotate(col("embedding"), rot))
            .as(Seq("pos", "val")))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("pos"),
          col("val"))
        .orderBy("vec_id", "pos")
    },
    Some(s"""WITH ev AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
      $covSqlBlock,
      cov AS MATERIALIZED (SELECT i, j, c FROM covu
        UNION ALL SELECT j AS i, i AS j, c FROM covu WHERE i < j),
      ${rotationChainSql(8)},
      rot AS (${(1 to 8).map { c =>
        val pos = ((c - 1) % 4) * 2 + (c - 1) / 4 + 1
        s"SELECT $pos AS pos, (SELECT list(x ORDER BY i) FROM r${c}_12) AS rv"
      }.mkString(" UNION ALL ")}),
      qv AS (SELECT vec_id, v FROM ev WHERE vec_id < 5)
      SELECT qv.vec_id, CAST(r.pos AS INT) AS pos,
        ROUND(list_dot_product(r.rv, qv.v), 6) + 0.0 AS val
      FROM qv, rot r ORDER BY vec_id, pos"""))

  /** IVF cell-BALANCE AUDIT (Similarity.cellBalanceAudit): per-cell member
    * counts, corpus share, and the oversized flag (> 2× the mean cell
    * size) over the deterministic Lloyd index — the q134 hot-partition
    * lesson surfaced as a maintenance query: a skewed corpus makes one
    * cell a straggler on EVERY probe, and this is the signal that feeds
    * [[q294IvfCellSplit]]. The oracle replays the q117 build trajectory
    * and counts assignments per surviving centroid. */
  val q293IvfCellAudit = QueryDef(
    "q293_ivf_cell_audit",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = Similarity.buildIvfIndexLloyd(e, "vec_id", "embedding",
        nLists = 8, iters = 2)
      Similarity.cellBalanceAudit(idx, oversizeFactor = 2.0)
        .orderBy("cell")
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      px AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM ev)),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0")},
      ${lloydStepSql("a2", "c2", "c1")},
      ${argminCellSql("asg", "c2")},
      cnt AS (SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n_vecs
        FROM c2 c LEFT JOIN asg a ON a.cell = c.cell GROUP BY c.cell),
      tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
          CAST(COUNT(*) AS BIGINT) AS n_cells FROM cnt)
      SELECT cell, n_vecs,
        ROUND(CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE), 6) + 0.0
          AS share,
        CAST(n_vecs AS DOUBLE) >
          2.0 * CAST(n_total AS DOUBLE) / CAST(n_cells AS DOUBLE) AS oversized
      FROM cnt, tot ORDER BY cell"""))

  /** Oversized-cell SPLIT (Similarity.splitCell): re-Lloyd within the
    * index's largest cell (max count, smaller-cell tie), children seeded
    * from the two smallest member ids and taking ids maxCell+1/+2, parent
    * retired. Output = the child centroids element by element with their
    * reassigned member counts. FULLY ORACLED: the split is the same
    * round-6 Lloyd contract as the build, so DuckDB replays build → pick
    * parent → scoped 2-means → final reassignment CTE for CTE. The
    * probe-parity recall gate lives in SimilaritySpec (q262 pattern). */
  val q294IvfCellSplit = QueryDef(
    "q294_ivf_cell_split",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = Similarity.buildIvfIndexLloyd(e, "vec_id", "embedding",
        nLists = 8, iters = 2)
      val parent = Similarity.cellBalanceAudit(idx)
        .orderBy(col("n_vecs").desc, col("cell")).head().getInt(0)
      val maxOld = idx.centroids.agg(max("cell")).head().getInt(0)
      val after = Similarity.splitCell(idx, parent, iters = 2)
      val childCounts = after.cells.filter(col("cell") > maxOld)
        .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      after.centroids.filter(col("cell") > maxOld)
        .select(col("cell"), posexplode(col("centroid")).as(Seq("pos", "val")))
        .select(col("cell"), (col("pos") + 1).cast("int").as("pos"), col("val"))
        .join(childCounts, Seq("cell"), "left")
        .select(col("cell"), col("pos"), col("val"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
        .orderBy("cell", "pos")
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      px AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM ev)),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0")},
      ${lloydStepSql("a2", "c2", "c1")},
      ${argminCellSql("asg", "c2")},
      cnt AS (SELECT c.cell, CAST(COUNT(a.vec_id) AS BIGINT) AS n FROM c2 c
        LEFT JOIN asg a ON a.cell = c.cell GROUP BY c.cell),
      par AS (SELECT cell FROM cnt ORDER BY n DESC, cell LIMIT 1),
      mem AS MATERIALIZED (SELECT e.vec_id, e.v FROM ev e
        JOIN asg a USING (vec_id) JOIN par p ON a.cell = p.cell),
      mpx AS MATERIALIZED (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM mem)),
      s0 AS (SELECT CAST(x.m + r.rn AS INT) AS cell, r.v AS cv
        FROM (SELECT MAX(cell) AS m FROM c2) x,
          (SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
           FROM mem ORDER BY vec_id LIMIT 2) r),
      ${lloydStepSql("sa1", "sc1", "s0", "mem", "mpx")},
      ${lloydStepSql("sa2", "sc2", "sc1", "mem", "mpx")},
      ${argminCellSql("sasg", "sc2", "mem")},
      fcnt AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM sasg GROUP BY cell)
      SELECT c.cell, CAST(t.pos AS INT) AS pos, c.cv[t.pos] + 0.0 AS val,
        COALESCE(f.n_vecs, 0) AS n_vecs
      FROM sc2 c LEFT JOIN fcnt f USING (cell),
        UNNEST(generate_series(1, len(c.cv))) AS t(pos)
      ORDER BY cell, pos"""))

  val q280IvfPqAdd = QueryDef(
    "q280_ivfpq_add",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = graft.sim.Pq.buildIvfPqIndex(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        dim = 64, nLists = 8, m = 4, ksub = 8, iters = 1)
      val grown = graft.sim.Pq.addToIvfPqIndex(
        idx, e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      graft.sim.Pq.queryIvfPqIndex(grown,
        e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3,
        nProbe = 2)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      evn AS (SELECT vec_id, v FROM ev WHERE vec_id % 2 = 0),
      pxn AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos
          FROM evn)),
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 10),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM evn
        WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0", "evn", "pxn")},
      ${argminCellSql("asg", "c1")},
      -- rv/rvn MATERIALIZED: rv is consumed through TWO levels (rvn → 4
      -- subspace slice CTEs, plus 4 full-encode slices) and DuckDB's
      -- inliner otherwise expands the assignment-join chain
      -- multiplicatively (the powerStepSql lesson — unhinted, this oracle
      -- does not finish)
      rv AS MATERIALIZED (SELECT e.vec_id, list_transform(
          generate_series(1, len(e.v)), i -> e.v[i] - c.cv[i]) AS v
        FROM ev e JOIN asg a USING (vec_id) JOIN c1 c ON c.cell = a.cell),
      rvn AS MATERIALIZED (SELECT vec_id, v FROM rv WHERE vec_id % 2 = 0),
      ${(0 until 4).map(j => pqSubspaceSql(j, j * 16 + 1, j * 16 + 16, 8,
        src = "rvn")).mkString(",\n      ")},
      ${(0 until 4).map { j =>
        val (lo, hi) = (j * 16 + 1, j * 16 + 16)
        s"""rvf$j AS (SELECT vec_id, v[$lo:$hi] AS v FROM rv),
      ${argminCellSql(s"fasg$j", s"c1_$j", s"rvf$j")}"""
      }.mkString(",\n      ")},
      pr AS (SELECT qid, cell FROM (
          SELECT q.vec_id AS qid, c.cell,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY ROUND(${d2Sql("q.v", "c.cv")}, 6), c.cell) AS rn
          FROM q, c1 c) WHERE rn <= 2),
      qr AS (SELECT p.qid, p.cell, list_transform(
          generate_series(1, len(q.v)), i -> q.v[i] - c.cv[i]) AS v
        FROM pr p JOIN q ON q.vec_id = p.qid JOIN c1 c ON c.cell = p.cell),
      ${(0 until 4).map { j =>
        val (lo, hi) = (j * 16 + 1, j * 16 + 16)
        s"""pdt$j AS (SELECT qr.qid, qr.cell, sc.cell AS scell,
          ROUND(${d2Sql(s"qr.v[$lo:$hi]", "sc.cv")}, 6) AS d2v
        FROM qr, c1_$j sc)"""
      }.mkString(",\n      ")},
      adc AS (SELECT p.qid, a.vec_id AS cid,
          ROUND(p0.d2v + p1.d2v + p2.d2v + p3.d2v, 6) AS adc
        FROM pr p JOIN asg a ON a.cell = p.cell
          JOIN fasg0 e0 ON e0.vec_id = a.vec_id
          JOIN fasg1 e1 ON e1.vec_id = a.vec_id
          JOIN fasg2 e2 ON e2.vec_id = a.vec_id
          JOIN fasg3 e3 ON e3.vec_id = a.vec_id
          JOIN pdt0 p0 ON p0.qid = p.qid AND p0.cell = p.cell
            AND p0.scell = e0.cell
          JOIN pdt1 p1 ON p1.qid = p.qid AND p1.cell = p.cell
            AND p1.scell = e1.cell
          JOIN pdt2 p2 ON p2.qid = p.qid AND p2.cell = p.cell
            AND p2.scell = e2.cell
          JOIN pdt3 p3 ON p3.qid = p.qid AND p3.cell = p.cell
            AND p3.scell = e3.cell
        WHERE a.vec_id <> p.qid),
      r AS (SELECT qid, cid, adc, CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY adc, cid) AS INT) AS rank FROM adc)
      SELECT qid, rank, CAST(cid AS BIGINT) AS cid, adc AS adc_d2
      FROM r WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Shared by q263 (inline build+probe) and q264 (saved-index probe):
    * both must reproduce exactly this trajectory — seeded coarse Lloyd,
    * residual sub-codebooks, nProbe=2 probing, ADC ranking. */
  private def ivfPqOracle: String =
    s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      px AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos
          FROM ev)),
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 10),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev
        WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0")},
      ${argminCellSql("asg", "c1")},
      rv AS (SELECT e.vec_id, list_transform(
          generate_series(1, len(e.v)), i -> e.v[i] - c.cv[i]) AS v
        FROM ev e JOIN asg a USING (vec_id) JOIN c1 c ON c.cell = a.cell),
      ${(0 until 4).map(j => pqSubspaceSql(j, j * 16 + 1, j * 16 + 16, 8,
        src = "rv")).mkString(",\n      ")},
      pr AS (SELECT qid, cell FROM (
          SELECT q.vec_id AS qid, c.cell,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY ROUND(${d2Sql("q.v", "c.cv")}, 6), c.cell) AS rn
          FROM q, c1 c) WHERE rn <= 2),
      qr AS (SELECT p.qid, p.cell, list_transform(
          generate_series(1, len(q.v)), i -> q.v[i] - c.cv[i]) AS v
        FROM pr p JOIN q ON q.vec_id = p.qid JOIN c1 c ON c.cell = p.cell),
      ${(0 until 4).map { j =>
        val (lo, hi) = (j * 16 + 1, j * 16 + 16)
        s"""pdt$j AS (SELECT qr.qid, qr.cell, sc.cell AS scell,
          ROUND(${d2Sql(s"qr.v[$lo:$hi]", "sc.cv")}, 6) AS d2v
        FROM qr, c1_$j sc)"""
      }.mkString(",\n      ")},
      adc AS (SELECT p.qid, a.vec_id AS cid,
          ROUND(p0.d2v + p1.d2v + p2.d2v + p3.d2v, 6) AS adc
        FROM pr p JOIN asg a ON a.cell = p.cell
          JOIN asg0 e0 ON e0.vec_id = a.vec_id
          JOIN asg1 e1 ON e1.vec_id = a.vec_id
          JOIN asg2 e2 ON e2.vec_id = a.vec_id
          JOIN asg3 e3 ON e3.vec_id = a.vec_id
          JOIN pdt0 p0 ON p0.qid = p.qid AND p0.cell = p.cell
            AND p0.scell = e0.cell
          JOIN pdt1 p1 ON p1.qid = p.qid AND p1.cell = p.cell
            AND p1.scell = e1.cell
          JOIN pdt2 p2 ON p2.qid = p.qid AND p2.cell = p.cell
            AND p2.scell = e2.cell
          JOIN pdt3 p3 ON p3.qid = p.qid AND p3.cell = p.cell
            AND p3.scell = e3.cell
        WHERE a.vec_id <> p.qid),
      r AS (SELECT qid, cid, adc, CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY adc, cid) AS INT) AS rank FROM adc)
      SELECT qid, rank, CAST(cid AS BIGINT) AS cid, adc AS adc_d2
      FROM r WHERE rank <= 3 ORDER BY qid, rank"""

  /** Cell-scoped near-dup CLUSTERS (Similarity.cellScopedNearDupPairs +
    * connected components): q68's cluster report on the PRUNED pair rung —
    * the answer to q68's by-design quadratic slope in BENCH_SF1.json. Same
    * threshold (0.4) and the q92 seed-centroid quantizer; the trade is
    * visible in the output: clusters that q68 joins across cell borders
    * split or vanish here, and that recall delta is exactly what the
    * shared-oracle structure (q92's assignment CTEs verbatim) pins.
    */
  val q269CellClusters = QueryDef(
    "q269_cell_clusters",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = Similarity.seedCentroids(e, "vec_id", "embedding", 8)
      val pairs = Similarity.cellScopedNearDupPairs(
        e, "vec_id", "embedding", cents, 0.4)
      graft.text.DedupOps.connectedComponents(
          pairs, e.select(col("vec_id").as("doc")))
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .filter(col("size") >= 2)
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      cent AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev
        WHERE vec_id < 8),
      ${argmaxCosSql("asg", "ev")},
      pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN ev x ON x.vec_id = a.vec_id
        JOIN ev y ON y.vec_id = b.vec_id
        WHERE ROUND(${cosineSql("x.v", "y.v")}, 6) >= 0.4),
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a)
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM labels
      GROUP BY cluster HAVING COUNT(*) >= 2 ORDER BY cluster"""))

  /** Scale-k posture twin of q269 (Similarity.cellScopedNearDupPairsL2):
    * the quantizer GROWS with the corpus — k = max(8, ceil(√n)) seed
    * centroids (the FAISS IVF convention), round-6 L2-argmin assignment
    * via the codegen'd NearestCentroid loop (driver-held centroids: no
    * n×k row materialization, no per-id window — the q117 assignment
    * path), then within-cell round-6 cosine pairs + connected components.
    * This makes the round-11 adjudication of q269's fixed-k quadratic
    * characteristic ("production posture is k growing with n") a
    * MEASURABLE operator. k∝√n is the BALANCED choice, not k∝n: the
    * brute assignment stage costs O(n·k) and the within-cell pair space
    * O(n²/k), so √n equalizes both at n^1.5 — ~5.6×/decade. (A k∝n/100
    * first cut measured 152× over two sf10 decades — the assignment
    * stage itself had become the quadratic.) The sf1/sf10 isolated
    * retimes record the slope the fixed-k rung cannot have. */
  val q297CellClustersScaleK = QueryDef(
    "q297_cell_clusters_scalek",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // bounded driver barrier: one count to size the quantizer
      val k = math.max(8L, math.ceil(math.sqrt(e.count().toDouble)).toLong)
        .toInt
      val cents = Similarity.seedCentroidsDriver(e, "vec_id", "embedding", k)
      val pairs = Similarity.cellScopedNearDupPairsL2(
        e, "vec_id", "embedding", cents, 0.4)
      graft.text.DedupOps.connectedComponents(
          pairs, e.select(col("vec_id").as("doc")))
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .filter(col("size") >= 2)
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      cent AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev
        WHERE vec_id < (SELECT greatest(8,
          CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) FROM ev)),
      asg AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, e.v)
                - 2 * list_dot_product(e.v, c.cv)
                + list_dot_product(c.cv, c.cv), 6) ASC, c.cell) AS rn
          FROM ev e, cent c) WHERE rn = 1),
      pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN ev x ON x.vec_id = a.vec_id
        JOIN ev y ON y.vec_id = b.vec_id
        WHERE ROUND(${cosineSql("x.v", "y.v")}, 6) >= 0.4),
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a)
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM labels
      GROUP BY cluster HAVING COUNT(*) >= 2 ORDER BY cluster"""))

  /** Hierarchical two-level quantizer rung (Similarity.hierCellNearDupPairs).
    * k = max(8, ceil(n/64)) grows ∝ n (constant ~64 per-cell population →
    * LINEAR pair volume, where q297's fixed-per-n^0.5-k posture pays
    * n^1.5 pair volume), and assignment is two O(√k) argmin loops instead
    * of one O(k): g=⌈√k⌉ super centroids (driver literals under the
    * SuperLiteralMax gate, a broadcast column-borne array past it —
    * driver state O(1) at any scale), then the per-super child array via
    * the codegen NearestChildCell equi-join. Honest exponent: O(n·2√k)
    * FLOPs is still Θ(n^1.5) at k∝n — the win over q297 is the ~1/16
    * constant and the linear pair/shuffle volume, measured 2.0-2.1×/decade
    * at sf10 (the constant-dominated regime); q92/q269's budget raise
    * points here. Exactly oracled: both argmin stages (round-6 d²,
    * smaller-cell tie-break), the first-k child pool, and the
    * childless-super fallback replay in SQL with k and g computed from
    * COUNT(*). */
  val q300HierCellClusters = QueryDef(
    "q300_hier_cell_clusters",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // bounded driver barrier: one count to size the quantizer
      val k = math.max(8L, math.ceil(e.count().toDouble / 64.0).toLong).toInt
      val pairs = Similarity.hierCellNearDupPairs(
        e, "vec_id", "embedding", k, 0.4)
      graft.text.DedupOps.connectedComponents(
          pairs, e.select(col("vec_id").as("doc")))
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .filter(col("size") >= 2)
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      par AS (SELECT k, greatest(1,
            CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT)) AS g
        FROM (SELECT greatest(8, CAST(ceil(COUNT(*) / 64.0) AS BIGINT)) AS k
          FROM ev)),
      supc AS (SELECT CAST(vec_id AS INT) AS s, v AS sv FROM ev
        WHERE vec_id < (SELECT g FROM par)),
      sasg AS (SELECT vec_id, s FROM (
          SELECT e.vec_id, c.s,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(list_dot_product(e.v, e.v)
                - 2 * list_dot_product(e.v, c.sv)
                + list_dot_product(c.sv, c.sv), 6) ASC, c.s) AS rn
          FROM ev e, supc c) WHERE rn = 1),
      pool AS (SELECT a.s, e.vec_id AS ccell, e.v AS cv
        FROM ev e JOIN sasg a ON a.vec_id = e.vec_id
        WHERE e.vec_id < (SELECT k FROM par)),
      chasg AS (SELECT vec_id, cell FROM (
          SELECT e2.vec_id, p.ccell AS cell,
            ROW_NUMBER() OVER (PARTITION BY e2.vec_id ORDER BY
              ROUND(list_dot_product(e2.v, e2.v)
                - 2 * list_dot_product(e2.v, p.cv)
                + list_dot_product(p.cv, p.cv), 6) ASC, p.ccell) AS rn
          FROM ev e2 JOIN sasg a2 ON a2.vec_id = e2.vec_id
          JOIN pool p ON p.s = a2.s) WHERE rn = 1),
      casg AS (SELECT e.vec_id,
          COALESCE(ch.cell, CAST(-1 - a.s AS BIGINT)) AS cell
        FROM ev e JOIN sasg a ON a.vec_id = e.vec_id
        LEFT JOIN chasg ch ON ch.vec_id = e.vec_id),
      pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM casg a JOIN casg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN ev x ON x.vec_id = a.vec_id
        JOIN ev y ON y.vec_id = b.vec_id
        WHERE ROUND(${cosineSql("x.v", "y.v")}, 6) >= 0.4),
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a)
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM labels
      GROUP BY cluster HAVING COUNT(*) >= 2 ORDER BY cluster"""))

  /** q300 from a SAVED quantizer (Similarity.saveHierQuantizer /
    * hierCellNearDupPairsSaved + IndexCache): the build-once/assign-many
    * form — supers (g = ⌈√k⌉ rows) + the distributed child relation
    * persist once per scale dir, every execution assigns from the
    * artifact (driver reads g rows, the O(√k) contract). Built on the
    * same corpus the assignment is identical, so the SAME oracle applies
    * (the q298/q299 convention); the timing delta vs q300 is the
    * amortized quantizer build. Saved==inline pinned as relation
    * equality in SimilaritySpec. */
  /** The q301 build recipe, spelled as a cache-key contract: k-formula +
    * assignment semantics. Package-private so the IndexCacheSpec can pin
    * that changing the formula misses the cache. */
  private[queries] val hierQuantizerContract =
    "k=max(8,ceil(n/64)) hier2 round6-d2 smaller-cell-ties"

  val q301HierClustersSaved = QueryDef(
    "q301_hier_clusters_saved",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // the k-FORMULA is part of the cache key: changing it (or the
      // assignment contract) must miss the cache, not serve stale cells
      val artDir = IndexCache.cachedDir(s, s"$d/embeddings.parquet",
        IndexCache.tagFor("graft_hierq_v1_", d, hierQuantizerContract)) { tmp =>
        // k sizing count runs only on a cache MISS — a cache-hit
        // execution never scans the corpus at all
        val k = math.max(8L,
          math.ceil(e.count().toDouble / 64.0).toLong).toInt
        Similarity.saveHierQuantizer(e, "vec_id", "embedding", k, tmp)
      }
      val pairs = Similarity.hierCellNearDupPairsSaved(
        s, artDir, e, "vec_id", "embedding", 0.4)
      graft.text.DedupOps.connectedComponents(
          pairs, e.select(col("vec_id").as("doc")))
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .filter(col("size") >= 2)
        .orderBy("cluster")
    },
    q300HierCellClusters.oracle)

  /** E2E ANN flagship — the q97 analog for the similarity ladder: ONE job
    * chaining the stages a nightly embedding-retrieval pipeline runs —
    * L2-normalize (Similarity.l2Normalize) → build-or-load the SAVED
    * Lloyd-IVF index (IndexCache, contract-tagged) → nProbe=3 top-3 probe
    * → recall gate vs the brute-force exact answer — one lazy plan per
    * stage, zero unbounded driver barriers (the only collects are the
    * nLists=8 centroid reads inside the probe machinery). Composition of
    * the proven q143 (saved build + probe) and q98 (recall harness)
    * trajectories over the NORMALIZED corpus, so the whole chain —
    * normalization included — replays in the DuckDB oracle CTE for CTE.
    * Output: per-query (n_exact, n_hit, recall); the recall NUMBERS are
    * the oracled artifact, making the quality gate itself a verified
    * operator. Plan shape pinned in PlanSpec (cell equi join, broadcast
    * probes, no data×data cartesian). */
  val q302AnnE2e = QueryDef(
    "q302_ann_e2e",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val nrm = e.select(col("vec_id"),
        Similarity.l2Normalize(col("embedding").cast("array<double>"))
          .as("nv"))
      val idxDir = IndexCache.cachedDir(s, s"$d/embeddings.parquet",
        IndexCache.tagFor("graft_e2eann_v1_", d,
          "l2norm lloyd nLists=8 iters=2")) { tmp =>
        Similarity.saveIvfIndex(Similarity.buildIvfIndexLloyd(
          nrm, "vec_id", "nv", nLists = 8, iters = 2), tmp)
      }
      val idx = Similarity.loadIvfIndex(s, idxDir)
      val qs = nrm.filter(col("vec_id") < 10)
      val approx = Similarity.queryIvfIndex(idx, qs, "vec_id", "nv",
        k = 3, nProbe = 3)
      val exact = Similarity.bruteForceTopK(qs, nrm, "vec_id", "nv", 3)
      Similarity.recallAtK(approx, exact, "qid", "cid").orderBy("qid")
    },
    Some(s"""WITH raw AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM raw),
      ev AS (SELECT vec_id, list_transform(v,
          x -> CASE WHEN n <> 0 THEN x / n ELSE 0.0 END) AS v FROM nn),
      px AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM ev)),
      c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM ev WHERE vec_id < 8),
      ${lloydStepSql("a1", "c1", "c0")},
      ${lloydStepSql("a2", "c2", "c1")},
      ${argminCellSql("asg", "c2")},
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 10),
      pr AS (SELECT qid, cell FROM (
          SELECT q.vec_id AS qid, c.cell, ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ROUND(${d2Sql("q.v", "c.cv")}, 6), c.cell) AS rn
          FROM q, c2 c) WHERE rn <= 3),
      cand AS (SELECT pr.qid, a.vec_id AS cid, ROUND(${cosineSql("q.v", "e.v")}, 6) AS sim
        FROM pr JOIN asg a ON a.cell = pr.cell
        JOIN ev e ON e.vec_id = a.vec_id
        JOIN q ON q.vec_id = pr.qid
        WHERE a.vec_id <> pr.qid),
      approx AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
        FROM cand) WHERE rank <= 3),
      xscored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
          ROUND(${cosineSql("q.v", "c.v")}, 6) AS sim
        FROM ev c, q WHERE q.vec_id <> c.vec_id),
      exact AS (SELECT qid, cid FROM (SELECT qid, cid,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rank
        FROM xscored) WHERE rank <= 3),
      hits AS (SELECT x.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM exact x JOIN approx a ON x.qid = a.qid AND x.cid = a.cid
        GROUP BY x.qid),
      base AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact GROUP BY qid)
      SELECT b.qid, b.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
        ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / b.n_exact, 6) AS recall
      FROM base b LEFT JOIN hits h ON b.qid = h.qid ORDER BY b.qid"""))

  /** DEPTH-3 tree rung (Similarity.hier3CellNearDupPairs) — the genuinely
    * sub-n^1.5 assignment the two-level q300 cannot reach: three argmin
    * loops of ~k^(1/3) candidates each (g1 = smallest integer with
    * g1³ ≥ k, computed by exact INTEGER comparison in both engines —
    * float cbrt/pow rounds perfect cubes differently across engines),
    * O(n·3·k^(1/3)) = n^(4/3) FLOPs at k∝n with the same linear pair
    * volume. Exactly oracled: all three argmin stages, the seed pools
    * (first g1/g1²/k ids routed through the levels above), and the
    * disjoint fallback spaces (−1−super / −1−g1−mid) replay in SQL with
    * k and g1 computed from COUNT(*). Same k-formula and pair semantics
    * as q300, so the two rungs' cluster outputs are directly comparable
    * cost/recall trades. */
  val q303Hier3Clusters = QueryDef(
    "q303_hier3_clusters",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      // bounded driver barrier: one count to size the quantizer
      val k = math.max(8L, math.ceil(e.count().toDouble / 64.0).toLong).toInt
      val pairs = Similarity.hier3CellNearDupPairs(
        e, "vec_id", "embedding", k, 0.4)
      graft.text.DedupOps.connectedComponents(
          pairs, e.select(col("vec_id").as("doc")))
        .groupBy("cluster").agg(count(lit(1)).as("size"))
        .filter(col("size") >= 2)
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      par0 AS (SELECT greatest(8, CAST(ceil(COUNT(*) / 64.0) AS BIGINT)) AS k
        FROM ev),
      par AS (SELECT k, (SELECT MIN(i) FROM range(1, 100000) t(i)
          WHERE i * i * i >= par0.k) AS g1 FROM par0),
      par2 AS (SELECT k, g1, g1 * g1 AS g2 FROM par),
      l1 AS (SELECT CAST(vec_id AS INT) AS s, v AS sv FROM ev
        WHERE vec_id < (SELECT g1 FROM par2)),
      sasg AS (SELECT vec_id, s FROM (
          SELECT e.vec_id, c.s,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
              ROUND(${d2Sql("e.v", "c.sv")}, 6) ASC, c.s) AS rn
          FROM ev e, l1 c) WHERE rn = 1),
      mpool AS (SELECT a.s, e.vec_id AS mcell, e.v AS mv
        FROM ev e JOIN sasg a ON a.vec_id = e.vec_id
        WHERE e.vec_id < (SELECT g2 FROM par2)),
      masg0 AS (SELECT vec_id, m FROM (
          SELECT e2.vec_id, p.mcell AS m,
            ROW_NUMBER() OVER (PARTITION BY e2.vec_id ORDER BY
              ROUND(${d2Sql("e2.v", "p.mv")}, 6) ASC, p.mcell) AS rn
          FROM ev e2 JOIN sasg a2 ON a2.vec_id = e2.vec_id
          JOIN mpool p ON p.s = a2.s) WHERE rn = 1),
      masg AS (SELECT e.vec_id, COALESCE(m0.m, CAST(-1 - a.s AS BIGINT)) AS m
        FROM ev e JOIN sasg a ON a.vec_id = e.vec_id
        LEFT JOIN masg0 m0 ON m0.vec_id = e.vec_id),
      cpool AS (SELECT ma.m, e.vec_id AS ccell, e.v AS cv
        FROM ev e JOIN masg ma ON ma.vec_id = e.vec_id
        WHERE e.vec_id < (SELECT k FROM par2)),
      casg0 AS (SELECT vec_id, cell FROM (
          SELECT e3.vec_id, q.ccell AS cell,
            ROW_NUMBER() OVER (PARTITION BY e3.vec_id ORDER BY
              ROUND(${d2Sql("e3.v", "q.cv")}, 6) ASC, q.ccell) AS rn
          FROM ev e3 JOIN masg ma2 ON ma2.vec_id = e3.vec_id
          JOIN cpool q ON q.m = ma2.m) WHERE rn = 1),
      casg AS (SELECT e.vec_id, COALESCE(c0.cell,
          CASE WHEN ma.m >= 0
            THEN CAST(-1 AS BIGINT) - (SELECT g1 FROM par2) - ma.m
            ELSE ma.m END) AS cell
        FROM ev e JOIN masg ma ON ma.vec_id = e.vec_id
        LEFT JOIN casg0 c0 ON c0.vec_id = e.vec_id),
      pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM casg a JOIN casg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN ev x ON x.vec_id = a.vec_id
        JOIN ev y ON y.vec_id = b.vec_id
        WHERE ROUND(${cosineSql("x.v", "y.v")}, 6) >= 0.4),
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a)
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM labels
      GROUP BY cluster HAVING COUNT(*) >= 2 ORDER BY cluster"""))

  /** TREE-SEEDED Lloyd IVF (Similarity.buildIvfIndexHierLloyd — the
    * large-k build path: fixed g=⌈√k⌉ supers, distributed child
    * centroids, each Lloyd step reassigns WITHIN supers at O(n·√k)
    * FLOPs/iter instead of flat Lloyd's O(n·k), driver state never k·dim)
    * probed through the shared queryIvfIndex tail. k=9 → g=3, a real
    * three-super tree; two scoped Lloyd iterations. The DuckDB oracle
    * replays the whole trajectory CTE for CTE — super assignment, seed
    * routing, both within-super argmin+means steps, final assignment,
    * flat centroid probing, in-cell cosine top-3 — the q117 replay with
    * the scoping rule added, so the two oracles share every fragment
    * definition (d2Sql/cosineSql). */
  val q304HierLloydIvf = QueryDef(
    "q304_hier_lloyd_ivf",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val idx = Similarity.buildIvfIndexHierLloyd(e, "vec_id", "embedding",
        k = 9, iters = 2)
      Similarity.queryIvfIndex(idx, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 3, nProbe = 2)
        .orderBy("qid", "rank")
    },
    Some({
      // one within-super Lloyd step: argmin over the super's own children,
      // then round-6 element means per surviving (super, cell) — the
      // lloydStepSql shape with the scoping join added
      def scopedStep(asg: String, cent: String, prev: String): String =
        s"""$asg AS (SELECT vec_id, super, cell FROM (
            SELECT e.vec_id, c.super, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY ROUND(${d2Sql("e.v", "c.cv")}, 6), c.cell) AS rn
            FROM ev e JOIN asup s ON s.vec_id = e.vec_id
            JOIN $prev c ON c.super = s.super) WHERE rn = 1),
          $cent AS (SELECT super, cell, list(val ORDER BY pos) AS cv FROM (
              SELECT a.super, a.cell, p.pos, ROUND(AVG(p.val), 6) AS val
              FROM $asg a JOIN px p USING (vec_id)
              GROUP BY a.super, a.cell, p.pos)
            GROUP BY super, cell)"""
      s"""WITH ev AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      px AS (SELECT vec_id, pos, v[pos] AS val FROM (
          SELECT vec_id, v, UNNEST(generate_series(1, len(v))) AS pos FROM ev)),
      sup AS (SELECT CAST(vec_id AS INT) AS super, v AS sv FROM ev
        WHERE vec_id < 3),
      asup AS (SELECT vec_id, super FROM (
          SELECT e.vec_id, c.super, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ROUND(${d2Sql("e.v", "c.sv")}, 6), c.super) AS rn
          FROM ev e, sup c) WHERE rn = 1),
      c0 AS (SELECT s.super, CAST(e.vec_id AS BIGINT) AS cell, e.v AS cv
        FROM ev e JOIN asup s ON s.vec_id = e.vec_id WHERE e.vec_id < 9),
      ${scopedStep("a1", "c1", "c0")},
      ${scopedStep("a2", "c2", "c1")},
      asg AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY ROUND(${d2Sql("e.v", "c.cv")}, 6), c.cell) AS rn
          FROM ev e JOIN asup s ON s.vec_id = e.vec_id
          JOIN c2 c ON c.super = s.super) WHERE rn = 1),
      q AS (SELECT vec_id, v FROM ev WHERE vec_id < 10),
      pr AS (SELECT qid, cell FROM (
          SELECT q.vec_id AS qid, c.cell, ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ROUND(${d2Sql("q.v", "c.cv")}, 6), c.cell) AS rn
          FROM q, c2 c) WHERE rn <= 2),
      cand AS (SELECT pr.qid, a.vec_id AS cid,
          ROUND(${cosineSql("q.v", "e.v")}, 6) AS sim
        FROM pr JOIN asg a ON a.cell = pr.cell
        JOIN ev e ON e.vec_id = a.vec_id
        JOIN q ON q.vec_id = pr.qid
        WHERE a.vec_id <> pr.qid),
      r AS (SELECT qid, cid, sim, CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY sim DESC, cid) AS INT) AS rank FROM cand)
      SELECT qid, rank, cid, sim FROM r WHERE rank <= 3 ORDER BY qid, rank"""
    }))

  override val defs: Seq[QueryDef] = Seq(
    q48CosineTopK, q49CosineNearDup, q50AnnLsh, q65IvfTopk, q68EmbedClusters,
    q51MultimodalFeatures, q52FrameSample, q84QuantizeInt8, q92SemDedup,
    q98AnnRecall, q108HardNegatives, q117IvfLloyd, q122IncrementalSemdedup,
    q124HammingTopk, q125Matryoshka, q143IvfProbeSaved, q178MmrRerank,
    q231LabelNoise, q261PqAdc, q262PqRecall, q263IvfPq, q264IvfPqSaved,
    q269CellClusters, q270IvfRange, q271IvfAdd, q272EmbedCov, q273PcaPower,
    q274Isotropy, q276AbttCorrect, q277PcaDeflate, q280IvfPqAdd,
    q281PcaTopK, q282PcaWhiten, q285AbttTopk, q293IvfCellAudit,
    q294IvfCellSplit, q295OpqRotation, q297CellClustersScaleK,
    q300HierCellClusters, q301HierClustersSaved, q302AnnE2e,
    q303Hier3Clusters, q304HierLloydIvf)
}
