package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.{DedupOps, ExactSubstrIndex, LshBandIndex, TextAnalysis}

/** Deduplication operators over the documents table: exact, n-gram Jaccard,
  * MinHash+LSH banding, SimHash. Signatures are md5-derived so the DuckDB
  * oracle reproduces them bit-for-bit (TextAnalysis.md5Int32).
  */
object DedupQueries extends QueryGroup {

  /** ONE build contract for the gram-index artifact q288 and q296 share
    * on purpose — both probe the same saved index, so the recipe lives in
    * one constant and rides the cache key (see IndexCache.tagFor). */
  // layout=r14: build now aligns write tasks to bucket dirs (≤64 files
  // instead of tasks×64 — the sf0.1 artifact measured 2054 tiny files);
  // layout=r15: bucket count is scale-adaptive (ExactSubstrIndex
  // .adaptiveBuckets — 8 dirs at the local SFs instead of 64; the 22 MB
  // sf0.1 artifact in 131 files was file/commit-bound, guide §6) and the
  // build dedup+write share one exchange. The relation is unchanged; the
  // tag bump rebuilds cached artifacts once so every probe measures the
  // same layout.
  private val xsubContract = "train=doc_id%10!=0 sub=24 buckets=adaptive layout=r15"

  /** Exact dedup via hash-groupBy. The corpus has no true duplicates, so
    * duplicates are synthesized deterministically (docs with doc_id % 10 == 0
    * appear twice) — the operator under test is the group-detect itself. */
  val q44ExactDup = QueryDef(
    "q44_exact_dup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val withDups = docs.unionAll(docs.filter(col("doc_id") % 10 === 0))
      DedupOps.exactDupGroups(withDups, "doc_id", md5(col("text")))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(col("n_docs")).as("n_dup_docs"),
          min(col("first_id")).as("min_first_id"),
          max(col("n_docs")).cast("bigint").as("max_group"))
    },
    Some("""WITH dup AS (SELECT * FROM documents
        UNION ALL SELECT * FROM documents WHERE doc_id % 10 = 0),
      g AS (SELECT md5(text) AS dup_key, COUNT(doc_id) AS n_docs, MIN(doc_id) AS first_id
            FROM dup GROUP BY md5(text) HAVING COUNT(doc_id) > 1)
      SELECT COUNT(*) AS n_groups, CAST(SUM(n_docs) AS BIGINT) AS n_dup_docs,
        MIN(first_id) AS min_first_id, CAST(MAX(n_docs) AS BIGINT) AS max_group
      FROM g"""))

  /** Exact 2-gram Jaccard pairs (shingle-equi-join, never all-pairs). */
  val q45NgramJaccard = QueryDef(
    "q45_ngram_jaccard",
    (s, d) => DedupOps.ngramJaccardPairs(
      Tables.documents(s, d).filter(col("doc_id") < 60),
      "doc_id", col("text"), 2, 0.05)
      .orderBy("d1", "d2"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
              FROM documents WHERE doc_id < 60),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(words)), i -> array_to_string(words[i:i+1], ' ')))) AS s
             FROM w),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
      SELECT d1, d2, jaccard FROM (
        SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
        FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id)
      WHERE jaccard >= 0.05 ORDER BY d1, d2"""))

  /** Directed n-gram containment (asymmetric Jaccard): the quote /
    * boilerplate-reuse detector symmetric Jaccard misses. Top-20 most
    * contained (src, dst) pairs among the q45 document subset. */
  val q121Containment = QueryDef(
    "q121_containment",
    (s, d) => DedupOps.ngramContainmentPairs(
      Tables.documents(s, d).filter(col("doc_id") < 60),
      "doc_id", col("text"), 2, 0.1)
      .orderBy(col("containment").desc, col("src"), col("dst")).limit(20),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
              FROM documents WHERE doc_id < 60),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(words)), i -> array_to_string(words[i:i+1], ' ')))) AS s
             FROM w),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
      dir AS (
        SELECT d1 AS src, d2 AS dst,
            ROUND(CAST(i AS DOUBLE) / x.n, 6) AS containment
          FROM inter JOIN sz x ON d1 = x.doc_id
        UNION ALL
        SELECT d2, d1, ROUND(CAST(i AS DOUBLE) / y.n, 6)
          FROM inter JOIN sz y ON d2 = y.doc_id)
      SELECT src, dst, containment FROM dir WHERE containment >= 0.1
      ORDER BY containment DESC, src, dst LIMIT 20"""))

  /** Shared DuckDB CTE block rebuilding DedupOps' minhash → LSH-band
    * candidate pairs (shingles, 32-bit md5 hashes, per-seed signatures,
    * 2-row bands, distinct collision pairs) — ONE definition so the
    * q46/q55/q120/q142 oracles cannot drift apart. Yields CTEs `w, sh, h,
    * sig, bands, pairs`; prepend WITH (or WITH RECURSIVE) and compose.
    * `where` optionally restricts the document universe. */
  /** The MinHash signature + banding replay chain (w/sh/h/sig/bands) —
    * shared by the pair oracles and the q290 saved-index probe oracle. */
  private def minhashBandCtes(where: String): String = {
    val sigExprs = DedupOps.MinhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      s"min((hv * $a + $b) % ${DedupOps.MinhashP}) AS sig_$i"
    }.mkString(", ")
    val bandSelects = (0 until 3).map { j =>
      val v = s"CAST(sig_${2 * j} AS VARCHAR) || ',' || CAST(sig_${2 * j + 1} AS VARCHAR)"
      s"SELECT doc_id, $j AS band_id, $v AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents$where),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(words)), i -> array_to_string(words[i:i+1], ' ')))) AS s
             FROM w),
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hv FROM sh),
      sig AS (SELECT doc_id, $sigExprs FROM h GROUP BY doc_id),
      bands AS ($bandSelects)"""
  }

  private def minhashPairCtes(where: String): String =
    s"""${minhashBandCtes(where)},
      pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id)"""

  /** MinHash signatures + LSH banding: candidate pairs sharing ≥1 band. */
  val q46MinhashLsh = QueryDef(
    "q46_minhash_lsh",
    (s, d) => {
      val sig = DedupOps.minhashSignatures(Tables.documents(s, d), "doc_id", col("text"), 2)
      DedupOps.lshCandidatePairs(sig, "doc_id", bandsOf = 2).orderBy("d1", "d2")
    },
    Some(s"WITH ${minhashPairCtes("")} SELECT d1, d2 FROM pairs ORDER BY d1, d2"))

  /** 16-bit SimHash per document (token multiset, md5 bit votes). */
  val q47Simhash = QueryDef(
    "q47_simhash",
    (s, d) => DedupOps.simhash(
      Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", col("text"))
      .orderBy("doc_id"),
    Some {
      val bits = 16
      val sums = (0 until bits)
        .map(b => s"SUM(((hv >> $b) & 1) * 2 - 1) AS s_$b").mkString(", ")
      val combine = (0 until bits)
        .map(b => s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
             FROM documents WHERE doc_id < 100),
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS hv FROM t),
      sm AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
      SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM sm ORDER BY doc_id"""
    })

  /** Near-dup CLUSTERING: LSH candidate pairs → connected components →
    * cluster sizes. The decision step of a dedup pipeline (keep min-id doc
    * per cluster); oracle = recursive-CTE transitive closure over the same
    * md5-reproducible pair graph. */
  val q55DedupClusters = QueryDef(
    "q55_dedup_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sig = DedupOps.minhashSignatures(docs, "doc_id", col("text"), 2)
      // closure-equivalent chain edges, NOT bucket cliques: identical
      // clusters (the shared oracle pins it), linear edge volume
      val pairs = DedupOps.lshClusterEdges(sig, "doc_id")
      val comps = DedupOps.connectedComponents(
        pairs, docs.select(col("doc_id").as("doc")))
      comps.groupBy("cluster").agg(count(lit(1)).as("size"))
        .filter(col("size") >= 2)
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE ${minhashPairCtes("")},
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a)
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM labels
      GROUP BY cluster HAVING COUNT(*) >= 2 ORDER BY cluster"""))

  /** SimHash chunk-indexed near-dup pairs (Hamming ≤ 3 over 16-bit
    * signatures; pigeonhole candidates from 4-bit chunk equality). */
  val q72SimhashPairs = QueryDef(
    "q72_simhash_pairs",
    (s, d) => DedupOps.simhashNearDupPairs(
      Tables.documents(s, d).filter(col("doc_id") < 2000), "doc_id", col("text"))
      .orderBy("d1", "d2"),
    Some {
      val bits = 16
      val sums = (0 until bits)
        .map(b => s"SUM(((hv >> $b) & 1) * 2 - 1) AS s_$b").mkString(", ")
      val combine = (0 until bits)
        .map(b => s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
             FROM documents WHERE doc_id < 2000),
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) AS hv FROM t),
      sm AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
      s AS (SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM sm),
      ch AS (SELECT doc_id, simhash, c, (simhash >> (4 * c)) & 15 AS v
             FROM s, range(0, 4) t(c)),
      cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM ch a JOIN ch b ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
      SELECT d1, d2,
        CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
      FROM cand JOIN s x ON d1 = x.doc_id JOIN s y ON d2 = y.doc_id
      WHERE bit_count(xor(x.simhash, y.simhash)) <= 3 ORDER BY d1, d2"""
    })

  /** The dedup DECISION on the same pair graph as q55: keep the min-id doc
    * per near-dup cluster, singletons survive. One summary row pins total,
    * survivors, and removed counts. */
  val q71DedupKeep = QueryDef(
    "q71_dedup_keep",
    (s, d) => {
      // bounded id range: q55 already exercises the full-corpus clustering;
      // this query pins the keep-decision arithmetic, not corpus scale
      val docs = Tables.documents(s, d).filter(col("doc_id") < 4000)
      val sig = DedupOps.minhashSignatures(docs, "doc_id", col("text"), 2)
      val pairs = DedupOps.lshCandidatePairs(sig, "doc_id")
      val kept = DedupOps.dedupByClusters(pairs, docs.select(col("doc_id").as("doc")))
      // ONE plan, one job: left-join the corpus against the kept set and
      // aggregate — the clustering subtree executes exactly once, vs the
      // previous docs.count()/kept.count() pair that ran the minhash+LSH+CC
      // pipeline twice as two separate driver actions.
      docs.select(col("doc_id"))
        .join(kept.select(col("doc").as("doc_id"), lit(1).as("__kept")),
          Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_total"),
          count(col("__kept")).as("n_kept"),
          (count(lit(1)) - count(col("__kept"))).as("n_removed"))
    },
    Some {
      val sigExprs = DedupOps.MinhashSeeds.zipWithIndex.map { case ((a, b), i) =>
        s"min((hv * $a + $b) % ${DedupOps.MinhashP}) AS sig_$i"
      }.mkString(", ")
      val bandSelects = (0 until 3).map { j =>
        val v = s"CAST(sig_${2 * j} AS VARCHAR) || ',' || CAST(sig_${2 * j + 1} AS VARCHAR)"
        s"SELECT doc_id, $j AS band_id, $v AS band_val FROM sig"
      }.mkString(" UNION ALL ")
      // docs outside the pair graph are singletons and survive; inside the
      // graph exactly one per component survives
      s"""WITH RECURSIVE dd AS (SELECT doc_id, text FROM documents WHERE doc_id < 4000),
      w AS (SELECT doc_id, string_split(text, ' ') AS words FROM dd),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(words)), i -> array_to_string(words[i:i+1], ' ')))) AS s
             FROM w),
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS hv FROM sh),
      sig AS (SELECT doc_id, $sigExprs FROM h GROUP BY doc_id),
      bands AS ($bandSelects),
      pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM dd),
      g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_in_graph,
                   CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters FROM labels)
      SELECT n_total, n_total - n_in_graph + n_clusters AS n_kept,
        n_in_graph - n_clusters AS n_removed FROM t, g"""
    })

  /** Incremental exact dedup: an incoming batch (which overlaps the existing
    * corpus AND contains intra-batch duplicates) is cleaned with one anti
    * join + one keep-first — the per-batch production shape. */
  val q77IncrementalDedup = QueryDef(
    "q77_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.filter(col("doc_id") < 600)
      // incoming: ids 400-1199 (400-599 duplicate existing text) plus a
      // second copy of every %7==0 doc under a shifted id (intra-batch dups)
      val incoming = docs.filter(col("doc_id") >= 400 && col("doc_id") < 1200)
        .unionAll(docs.filter(col("doc_id") >= 400 && col("doc_id") < 1200
          && col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
      val kept = DedupOps.incrementalExactDedup(incoming, existing,
        "doc_id", md5(col("text")))
      kept.agg(
        count(lit(1)).as("n_kept"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).cast("bigint").as("id_sum"))
    },
    // k IS NOT NULL on both CTEs: the null-key contract (null text is not
    // content), and a NULL inside a NOT IN subquery would otherwise empty
    // the whole `fresh` set (three-valued logic)
    Some("""WITH existing AS (SELECT md5(text) AS k FROM documents
        WHERE doc_id < 600 AND text IS NOT NULL),
      incoming AS (
        SELECT doc_id, md5(text) AS k FROM documents
          WHERE doc_id >= 400 AND doc_id < 1200 AND text IS NOT NULL
        UNION ALL
        SELECT doc_id + 100000, md5(text) FROM documents
          WHERE doc_id >= 400 AND doc_id < 1200 AND doc_id % 7 = 0
            AND text IS NOT NULL),
      fresh AS (SELECT * FROM incoming WHERE k NOT IN (SELECT k FROM existing)),
      kept AS (SELECT k, MIN(doc_id) AS doc_id FROM fresh GROUP BY k)
      SELECT COUNT(*) AS n_kept, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM kept"""))

  /** Bloom-prefiltered incremental exact dedup: same contract as q77 but the
    * batch is prefiltered map-side by a Bloom sketch of the corpus keys, so
    * only might-contain rows reach the anti-join shuffle. The result is
    * EXACT (the oracle is the plain set-difference SQL) — the sketch decides
    * where rows are verified, never whether they survive. */
  val q78BloomDedup = QueryDef(
    "q78_bloom_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.filter(col("doc_id") < 250)
      val incoming = docs.filter(col("doc_id") >= 150 && col("doc_id") < 500)
        .unionAll(docs.filter(col("doc_id") >= 150 && col("doc_id") < 500
          && col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
      val kept = DedupOps.incrementalExactDedupBloom(incoming, existing,
        "doc_id", md5(col("text")), expectedKeys = 10000L)
      kept.agg(
        count(lit(1)).as("n_kept"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).cast("bigint").as("id_sum"))
    },
    Some("""WITH existing AS (SELECT md5(text) AS k FROM documents WHERE doc_id < 250),
      incoming AS (
        SELECT doc_id, md5(text) AS k FROM documents
          WHERE doc_id >= 150 AND doc_id < 500
        UNION ALL
        SELECT doc_id + 100000, md5(text) FROM documents
          WHERE doc_id >= 150 AND doc_id < 500 AND doc_id % 11 = 0),
      fresh AS (SELECT * FROM incoming WHERE k NOT IN (SELECT k FROM existing)),
      kept AS (SELECT k, MIN(doc_id) AS doc_id FROM fresh GROUP BY k)
      SELECT COUNT(*) AS n_kept, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM kept"""))

  /** Corpus-wide exact paragraph dedup with document reconstruction (the
    * RefinedWeb/FineWeb repetition remover): each distinct paragraph survives
    * only at its first occurrence (min doc id, then min position); documents
    * reassemble from surviving paragraphs in order. Exact reconstructed-text
    * oracle. */
  val q79ParagraphDedup = QueryDef(
    "q79_paragraph_dedup",
    (s, d) => DedupOps.paragraphDedup(
      Tables.documents(s, d).filter(col("doc_id") < 300), "doc_id", col("text"))
      .orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id, string_split(text, '. ') AS parts
               FROM documents WHERE doc_id < 300),
      e AS (SELECT doc_id, unnest(range(1, len(parts) + 1)) AS pos, parts FROM d),
      p AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos, parts[pos] AS para FROM e),
      m AS (SELECT para, MIN(doc_id) AS mdoc FROM p GROUP BY para),
      m2 AS (SELECT p.para AS para, p.doc_id AS doc_id, MIN(p.pos) AS mpos
             FROM p JOIN m ON p.para = m.para AND p.doc_id = m.mdoc
             GROUP BY p.para, p.doc_id),
      keep AS (SELECT p.doc_id, p.pos, p.para FROM p
               JOIN m2 ON p.para = m2.para AND p.doc_id = m2.doc_id
                 AND p.pos = m2.mpos),
      r AS (SELECT doc_id, string_agg(para, '. ' ORDER BY pos) AS text
            FROM keep GROUP BY doc_id)
      SELECT doc_id, text FROM r ORDER BY doc_id"""))

  /** Winnowing fingerprints (k=8 char-grams, window w=4): per-doc
    * fingerprint-set stats. */
  val q58Winnowing = QueryDef(
    "q58_winnowing",
    (s, d) => DedupOps.winnow(
      Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", col("text"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"), max("fp").as("max_fp"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, text, len(text) - 7 AS ng FROM documents
               WHERE doc_id < 100 AND len(text) >= 11),
      g AS (SELECT doc_id, unnest(range(1, ng + 1)) AS pos, text, ng FROM t),
      h AS (SELECT doc_id, pos, ng,
              CAST(('0x' || substr(md5(substr(text, pos, 8)), 1, 8)) AS BIGINT) AS h
            FROM g),
      wmin AS (SELECT doc_id, pos, ng,
              MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM h),
      fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= ng - 3)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
        MIN(fp) AS min_fp, MAX(fp) AS max_fp
      FROM fps GROUP BY doc_id ORDER BY doc_id"""))

  /** Cross-document shared SPANS from positioned winnowing fingerprints —
    * fingerprint-granular exact-substring detection: aligned fp matches at
    * constant position difference chain into runs (gaps-and-islands), each
    * reported as a span with char-length estimate. The over-common-fp
    * guard and the run threshold are both replayed by the oracle. */
  val q126SharedSpans = QueryDef(
    "q126_shared_spans",
    (s, d) => DedupOps.sharedSpans(
      Tables.documents(s, d).filter(col("doc_id") < 120), "doc_id", col("text"),
      minRun = 6)
      .orderBy("d1", "d2", "start1", "start2"),
    Some("""WITH t AS (SELECT doc_id, text, len(text) - 7 AS ng FROM documents
               WHERE doc_id < 120 AND len(text) >= 11),
      g AS (SELECT doc_id, unnest(range(1, ng + 1)) AS pos, text, ng FROM t),
      h AS (SELECT doc_id, pos, ng,
              CAST(('0x' || substr(md5(substr(text, pos, 8)), 1, 8)) AS BIGINT) AS h
            FROM g),
      wmin AS (SELECT doc_id, pos, ng,
              MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM h),
      fps AS (SELECT doc_id AS doc, pos, fp FROM wmin WHERE pos <= ng - 3),
      occ AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 64),
      rare AS (SELECT f.doc, f.pos, f.fp FROM fps f JOIN occ USING (fp)),
      m AS (SELECT a.doc AS d1, b.doc AS d2, a.pos AS p1, a.pos - b.pos AS diff
            FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc < b.doc),
      isl AS (SELECT d1, d2, diff, p1,
              p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, diff ORDER BY p1)
                AS island FROM m),
      runs AS (SELECT d1, d2, diff, island,
              CAST(COUNT(*) AS BIGINT) AS len_grams, MIN(p1) AS start1
            FROM isl GROUP BY d1, d2, diff, island)
      SELECT d1, d2, CAST(start1 AS BIGINT) AS start1,
        CAST(start1 - diff AS BIGINT) AS start2, len_grams,
        len_grams + 10 AS approx_chars
      FROM runs WHERE len_grams >= 6 ORDER BY d1, d2, start1, start2"""))

  /** EXACT substring dedup spans (DedupOps.exactSubstrSpans, Lee et al.
    * 2022 ExactSubstr): every maximal doc region covered by 24-char
    * substrings occurring ≥ 2 times corpus-wide — the exact counterpart
    * of q126's fingerprint-sampled spans. The engine prunes by window
    * hash then VERIFIES on the real gram text, so the oracle replays only
    * the text-level semantics: hash choice cannot change the answer. */
  val q279ExactSubstr = QueryDef(
    "q279_exact_substr",
    (s, d) => DedupOps.exactSubstrSpans(
      Tables.documents(s, d), "doc_id", col("text"), sub = 24)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id", "start_pos"),
    Some(s"""WITH $exactSubstrRunsCtes
      SELECT doc_id, CAST(sp AS BIGINT) AS start_pos,
        CAST(ep AS BIGINT) AS end_pos,
        CAST(ep - sp + 1 AS BIGINT) AS span_chars, n_grams
      FROM runs ORDER BY doc_id, start_pos"""))

  /** The q279 span pipeline's CTE chain up to `runs` (doc_id, sp, ep,
    * n_grams) — shared verbatim by the card (q283) and cut (q284)
    * oracles so the three stay one trajectory. */
  private def exactSubstrRunsCtes: String =
    """t AS (SELECT doc_id, text, len(text) - 23 AS ng FROM documents
               WHERE text IS NOT NULL AND len(text) >= 24),
      g AS (SELECT doc_id, unnest(range(1, ng + 1)) AS pos, text FROM t),
      s AS (SELECT doc_id, pos, substr(text, pos, 24) AS g FROM g),
      dup AS (SELECT g FROM s GROUP BY g HAVING COUNT(*) >= 2),
      m AS (SELECT doc_id, pos FROM s JOIN dup USING (g)),
      nw AS (SELECT doc_id, pos,
          CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 24
            THEN 0 ELSE 1 END AS nw FROM m),
      i2 AS (SELECT doc_id, pos,
          SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM nw),
      runs AS MATERIALIZED (SELECT doc_id, MIN(pos) AS sp, MAX(pos) + 23 AS ep,
          CAST(COUNT(*) AS BIGINT) AS n_grams FROM i2 GROUP BY doc_id, isl)"""

  /** Per-doc exact-duplication CARD (DedupOps.exactSubstrCard): the
    * keep/drop layer over q279 — span count, duplicated chars, round-6
    * duplicated fraction, keep = dup_frac < 0.2. Docs with no spans
    * (incl. shorter than the 24-char window) surface with zeros via the
    * left join — a keep, not a missing row. */
  val q283ExactDupCard = QueryDef(
    "q283_exact_dup_card",
    (s, d) => DedupOps.exactSubstrCard(
      Tables.documents(s, d), "doc_id", col("text"), sub = 24,
      maxDupFrac = 0.2)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id"),
    Some(s"""WITH $exactSubstrRunsCtes,
      card AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(ep - sp + 1) AS BIGINT) AS dup_chars
        FROM runs GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
        COALESCE(c.n_spans, 0) AS n_spans,
        COALESCE(c.dup_chars, 0) AS dup_chars,
        CASE WHEN len(d.text) = 0 THEN 0.0 ELSE
          ROUND(CAST(COALESCE(c.dup_chars, 0) AS DOUBLE) / len(d.text), 6) + 0.0
          END AS dup_frac,
        CASE WHEN len(d.text) = 0 THEN TRUE ELSE
          (ROUND(CAST(COALESCE(c.dup_chars, 0) AS DOUBLE) / len(d.text), 6)
          < 0.2) END AS keep
      FROM documents d LEFT JOIN card c USING (doc_id)
      WHERE d.text IS NOT NULL
      ORDER BY doc_id"""))

  /** Exact-substring CUT (DedupOps.exactSubstrCut): the Lee et al.
    * removal action — every q279 span excised, complement segments
    * concatenated in order; span-free docs pass through verbatim. The
    * oracle rebuilds the complement with a LAG window over the runs plus
    * a per-doc tail segment and an ordered STRING_AGG. */
  val q284ExactSubstrCut = QueryDef(
    "q284_exact_substr_cut",
    (s, d) => DedupOps.exactSubstrCut(
      Tables.documents(s, d), "doc_id", col("text"), sub = 24)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id"),
    Some(s"""WITH $exactSubstrRunsCtes,
      seg AS (
        SELECT doc_id,
          COALESCE(LAG(ep) OVER (PARTITION BY doc_id ORDER BY sp), 0) + 1
            AS ks,
          sp - 1 AS ke
        FROM runs
        UNION ALL
        SELECT r.doc_id, MAX(r.ep) + 1 AS ks, MAX(len(t.text)) AS ke
        FROM runs r JOIN t USING (doc_id) GROUP BY r.doc_id),
      clean AS (SELECT s.doc_id,
          STRING_AGG(substr(t.text, CAST(s.ks AS INT),
            CAST(GREATEST(0, s.ke - s.ks + 1) AS INT)), '' ORDER BY s.ks)
            AS ct
        FROM seg s JOIN t USING (doc_id) GROUP BY s.doc_id)
      SELECT d.doc_id, COALESCE(c.ct, d.text) AS clean_text
      FROM documents d LEFT JOIN clean c USING (doc_id)
      WHERE d.text IS NOT NULL
      ORDER BY doc_id"""))

  /** The q286/q287 shared chain: eval = doc_id % 10 = 0, train = the
    * rest; `cruns` = contamination runs (doc_id, sp, ep, n_grams) of
    * 24-char eval grams occurring anywhere in train. */
  private def contamRunsCtes: String =
    """ev AS (SELECT doc_id, text, len(text) - 23 AS ng FROM documents
        WHERE text IS NOT NULL AND len(text) >= 24 AND doc_id % 10 = 0),
      tr AS (SELECT doc_id, text, len(text) - 23 AS ng FROM documents
        WHERE text IS NOT NULL AND len(text) >= 24 AND doc_id % 10 <> 0),
      eg AS (SELECT doc_id, pos, substr(text, pos, 24) AS g FROM (
        SELECT doc_id, unnest(range(1, ng + 1)) AS pos, text FROM ev)),
      tg AS (SELECT DISTINCT substr(text, pos, 24) AS g FROM (
        SELECT unnest(range(1, ng + 1)) AS pos, text FROM tr)),
      cm AS (SELECT doc_id, pos FROM eg WHERE g IN (SELECT g FROM tg)),
      cnw AS (SELECT doc_id, pos,
          CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 24
            THEN 0 ELSE 1 END AS nw FROM cm),
      ci2 AS (SELECT doc_id, pos,
          SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM cnw),
      cruns AS MATERIALIZED (SELECT doc_id, MIN(pos) AS sp,
          MAX(pos) + 23 AS ep, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM ci2 GROUP BY doc_id, isl)"""

  /** Cross-corpus EXACT-substring contamination spans
    * (DedupOps.exactSubstrContamSpans): the verbatim-span decontamination
    * criterion (GPT-3 appendix C / Lee et al.) — every maximal region of
    * an eval doc (doc_id % 10 = 0) covered by 24-char grams appearing
    * anywhere in the train split. Hash-pruned, text-verified, so the
    * oracle replays text-level semantics only. */
  val q286ContamSpans = QueryDef(
    "q286_contam_spans",
    (s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.exactSubstrContamSpans(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", col("text"), sub = 24)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id", "start_pos")
    },
    Some(s"""WITH $contamRunsCtes
      SELECT doc_id, CAST(sp AS BIGINT) AS start_pos,
        CAST(ep AS BIGINT) AS end_pos,
        CAST(ep - sp + 1 AS BIGINT) AS span_chars, n_grams
      FROM cruns ORDER BY doc_id, start_pos"""))

  /** Per-eval-doc contamination CARD (DedupOps.exactSubstrContamCard):
    * contaminated char budget + round-6 fraction + clean = frac < 0.05;
    * zeros via left join for uncontaminated (and shorter-than-window)
    * eval docs. */
  val q287ContamCard = QueryDef(
    "q287_contam_card",
    (s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.exactSubstrContamCard(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", col("text"), sub = 24, maxContamFrac = 0.05)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    },
    Some(s"""WITH $contamRunsCtes,
      card AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(ep - sp + 1) AS BIGINT) AS contam_chars
        FROM cruns GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
        COALESCE(c.n_spans, 0) AS n_spans,
        COALESCE(c.contam_chars, 0) AS contam_chars,
        CASE WHEN len(d.text) = 0 THEN 0.0 ELSE
          ROUND(CAST(COALESCE(c.contam_chars, 0) AS DOUBLE) / len(d.text), 6)
          + 0.0 END AS contam_frac,
        CASE WHEN len(d.text) = 0 THEN TRUE ELSE
          (ROUND(CAST(COALESCE(c.contam_chars, 0) AS DOUBLE) / len(d.text), 6)
          < 0.05) END AS clean
      FROM documents d LEFT JOIN card c USING (doc_id)
      WHERE d.text IS NOT NULL AND d.doc_id % 10 = 0
      ORDER BY doc_id"""))

  /** PERSISTABLE decontamination index, probe path
    * (ExactSubstrIndex.build/probeSpans): the build-once/probe-many form
    * of q286 — the train split's distinct 24-char gram relation is built
    * and saved ONCE per scale dir (content-fingerprint cached, the q143
    * pattern), then every execution only probes it with the eval split:
    * eval-side explode, hash-prune semi join against the index's `h`
    * column, text verify against (h, g). Probe cost is linear in EVAL
    * chars — the train corpus is never re-exploded. Identical semantics
    * to q286, so the SAME oracle applies; the timing difference between
    * q286 and this query IS the amortized train-side cost. */
  val q288ContamProbeSaved = QueryDef(
    "q288_contam_probe_saved",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idxDir = IndexCache.cachedDir(s, s"$d/documents.parquet",
        IndexCache.tagFor("graft_xsub_v2_", d, xsubContract)) { tmpDir =>
        val train = docs.filter(col("doc_id") % 10 =!= 0)
        ExactSubstrIndex.build(train, col("text"), tmpDir, sub = 24,
          buckets = ExactSubstrIndex.adaptiveBuckets(train, 24))
      }
      ExactSubstrIndex.probeSpans(s, idxDir,
        docs.filter(col("doc_id") % 10 === 0), "doc_id", col("text"))
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id", "start_pos")
    },
    Some(s"""WITH $contamRunsCtes
      SELECT doc_id, CAST(sp AS BIGINT) AS start_pos,
        CAST(ep AS BIGINT) AS end_pos,
        CAST(ep - sp + 1 AS BIGINT) AS span_chars, n_grams
      FROM cruns ORDER BY doc_id, start_pos"""))

  /** Incremental index ADD parity (ExactSubstrIndex.add): build the gram
    * index from HALF the train corpus (doc_id % 10 in 1-5), batch-add the
    * other half (% 10 in 6-9 — only genuinely new grams append, one keyed
    * anti join), then probe the eval split. Because the stored relation
    * is the DISTINCT gram set, build(A) + add(B) == build(A ∪ B) exactly,
    * so the probe must match q286/q288's full-train answer — the q280
    * build-then-add invariant on the dedup ladder. Runs in a throwaway
    * temp dir (the ADD path is the operator under test; caching would
    * skip it), result checkpointed so the dir can be deleted eagerly. */
  val q289ContamIndexAdd = QueryDef(
    "q289_contam_index_add",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tmp = sys.props("java.io.tmpdir") + "/graft_xsub_add_" +
        java.util.UUID.randomUUID().toString.take(8)
      val m10 = col("doc_id") % 10
      val train = docs.filter(m10 >= 1 && m10 <= 5)
      ExactSubstrIndex.build(train, col("text"), tmp, sub = 24,
        buckets = ExactSubstrIndex.adaptiveBuckets(train, 24))
      ExactSubstrIndex.add(s, tmp, docs.filter(m10 >= 6), col("text"))
      val out = ExactSubstrIndex.probeSpans(s, tmp,
        docs.filter(m10 === 0), "doc_id", col("text"))
        .withColumnRenamed("doc", "doc_id")
        .localCheckpoint(true)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(tmp), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      out.orderBy("doc_id", "start_pos")
    },
    Some(s"""WITH $contamRunsCtes
      SELECT doc_id, CAST(sp AS BIGINT) AS start_pos,
        CAST(ep AS BIGINT) AS end_pos,
        CAST(ep - sp + 1 AS BIGINT) AS span_chars, n_grams
      FROM cruns ORDER BY doc_id, start_pos"""))

  /** PERSISTABLE MinHash/LSH band index (LshBandIndex.build/add/
    * probePairs): the fuzzy-dedup incremental story — build the band
    * relation from HALF the corpus (doc_id % 4 in 1-2), batch-ADD the
    * next quarter (% 4 = 3; signature-project + pure parquet append),
    * then probe the remaining quarter (% 4 = 0) for cross-corpus
    * candidate pairs. Because the stored relation is a per-doc
    * projection, build + add == build-on-union exactly, so the oracle
    * replays signatures over the WHOLE corpus and joins the index split
    * against the probe split — including the probe's deterministic
    * `maxBucket` smallest-ids cap. Throwaway temp dir (the add path is
    * the operator under test), result checkpointed, dir deleted. */
  val q290LshIndexProbe = QueryDef(
    "q290_lsh_index_probe",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tmp = sys.props("java.io.tmpdir") + "/graft_lshidx_" +
        java.util.UUID.randomUUID().toString.take(8)
      val m4 = col("doc_id") % 4
      val idxDocs = docs.filter(m4 === 1 || m4 === 2)
      LshBandIndex.build(idxDocs, "doc_id", col("text"), tmp,
        n = 2, bandsOf = 2, buckets = LshBandIndex.adaptiveBuckets(idxDocs))
      LshBandIndex.add(s, tmp, docs.filter(m4 === 3), "doc_id", col("text"))
      val out = LshBandIndex.probePairs(s, tmp, docs.filter(m4 === 0),
        "doc_id", col("text"), maxBucket = 4096)
        .localCheckpoint(true)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(tmp), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      out.orderBy("idx_doc", "probe_doc")
    },
    Some(s"""WITH ${minhashBandCtes("")},
      idxc AS (SELECT doc_id, band_id, band_val FROM (
          SELECT doc_id, band_id, band_val,
            ROW_NUMBER() OVER (PARTITION BY band_id, band_val
              ORDER BY doc_id) AS rn
          FROM bands WHERE doc_id % 4 IN (1, 2, 3)) WHERE rn <= 4096),
      pb AS (SELECT doc_id, band_id, band_val FROM bands
        WHERE doc_id % 4 = 0)
      SELECT DISTINCT a.doc_id AS idx_doc, b.doc_id AS probe_doc
      FROM idxc a JOIN pb b USING (band_id, band_val)
      ORDER BY idx_doc, probe_doc"""))

  /** BATCH TWIN of the STREAMING decontamination flag
    * (ExactSubstrIndex.contamMatches — the stream-static semi join
    * DedupStreams-style consumers run per micro-batch): the verified
    * contaminated (doc, pos) evidence set against the SAVED gram index,
    * i.e. exactly the `cm` stage of the q286 criterion before island
    * merging (which is per-doc downstream work — the spec pins that
    * merging these positions reproduces q286's spans). Registered so the
    * streaming operator's semantics carry a driver-gated oracle, not just
    * the batch-replay parity spec. */
  val q296ContamMatches = QueryDef(
    "q296_contam_matches",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val idxDir = IndexCache.cachedDir(s, s"$d/documents.parquet",
        IndexCache.tagFor("graft_xsub_v2_", d, xsubContract)) { tmpDir =>
        val train = docs.filter(col("doc_id") % 10 =!= 0)
        ExactSubstrIndex.build(train, col("text"), tmpDir, sub = 24,
          buckets = ExactSubstrIndex.adaptiveBuckets(train, 24))
      }
      ExactSubstrIndex.contamMatches(docs.filter(col("doc_id") % 10 === 0),
        ExactSubstrIndex.loadGrams(s, idxDir), "doc_id", col("text"),
        sub = 24)
        .select(col("doc").as("doc_id"), col("pos").cast("long").as("pos"))
        .orderBy("doc_id", "pos")
    },
    Some(s"""WITH $contamRunsCtes
      SELECT doc_id, CAST(pos AS BIGINT) AS pos FROM cm
      ORDER BY doc_id, pos"""))

  /** Train/test split LEAKAGE audit — the eval-integrity composition of
    * [[graft.text.Curation.splitAssign]] and the MinHash-LSH candidate
    * pairs: a near-dup pair whose members land in DIFFERENT splits means
    * the held-out set is contaminated by a training near-duplicate. Both
    * legs are deterministic (md5 split uniforms, md5 minhash), so the
    * DuckDB oracle recomputes the full composition exactly. Scale shape:
    * the split columns join onto the (already bucketed, never all-pairs)
    * candidate pairs — two broadcast-able probes of the tiny pair set. */
  val q120SplitLeakage = QueryDef(
    "q120_split_leakage",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sp = graft.text.Curation.splitAssign(docs, "doc_id")
        .select(col("doc_id"), col("split"))
      val sig = DedupOps.minhashSignatures(docs, "doc_id", col("text"), 2)
      val pairs = DedupOps.lshCandidatePairs(sig, "doc_id", bandsOf = 2)
      pairs
        .join(sp.select(col("doc_id").as("d1"), col("split").as("split1")), Seq("d1"))
        .join(sp.select(col("doc_id").as("d2"), col("split").as("split2")), Seq("d2"))
        .filter(col("split1") =!= col("split2"))
        .groupBy("split1", "split2")
        .agg(count(lit(1)).as("n_pairs"), min("d1").as("min_d1"))
        .orderBy("split1", "split2")
    },
    Some(s"""WITH ${minhashPairCtes("")},
      u AS (SELECT doc_id,
          (CAST(('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) + 0.5) / 4294967296.0 AS u FROM documents),
      sp AS (SELECT doc_id,
          CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
               ELSE 'test' END AS split FROM u),
      lk AS (SELECT s1.split AS split1, s2.split AS split2, p.d1
        FROM pairs p
        JOIN sp s1 ON s1.doc_id = p.d1
        JOIN sp s2 ON s2.doc_id = p.d2
        WHERE s1.split <> s2.split)
      SELECT split1, split2, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(MIN(d1) AS BIGINT) AS min_d1
      FROM lk GROUP BY split1, split2 ORDER BY split1, split2"""))

  /** MinHash+LSH quality harness (the q98-for-dedup): banding decisions
    * audited against EXACT 2-gram Jaccard ≥ 0.2 on a bounded document
    * slice — n_true / n_candidates / n_hit plus recall and precision in
    * one row. This is the gate that tells an operator whether its band
    * geometry (3 bands × 2 rows) is tuned for the corpus: recall is the
    * dedup guarantee, precision is the wasted-verification cost. */
  val q142LshRecall = QueryDef(
    "q142_lsh_recall",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val truth = DedupOps.ngramJaccardPairs(docs, "doc_id", col("text"), 2, 0.2)
        .select("d1", "d2").withColumn("t", lit(1L))
      val sig = DedupOps.minhashSignatures(docs, "doc_id", col("text"), 2)
      val cand = DedupOps.lshCandidatePairs(sig, "doc_id", bandsOf = 2)
        .select("d1", "d2").withColumn("c", lit(1L))
      truth.join(cand, Seq("d1", "d2"), "full_outer")
        .agg(
          sum(col("t")).as("n_true"),
          sum(col("c")).as("n_candidates"),
          sum(col("t") * col("c")).as("n_hit"))
        .select(col("n_true"), col("n_candidates"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true"), 6).as("recall"),
          round(col("n_hit").cast("double") / col("n_candidates"), 6)
            .as("precision"))
    },
    Some(s"""WITH ${minhashPairCtes(" WHERE doc_id < 300")},
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
      truth AS (SELECT d1, d2 FROM inter
                JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
                WHERE ROUND(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) >= 0.2),
      m AS (SELECT (SELECT COUNT(*) FROM truth) AS n_true,
                   (SELECT COUNT(*) FROM pairs) AS n_candidates,
                   (SELECT COUNT(*) FROM truth t JOIN pairs p
                      ON t.d1 = p.d1 AND t.d2 = p.d2) AS n_hit)
      SELECT CAST(n_true AS BIGINT) AS n_true,
        CAST(n_candidates AS BIGINT) AS n_candidates,
        CAST(n_hit AS BIGINT) AS n_hit,
        ROUND(CAST(n_hit AS DOUBLE) / n_true, 6) AS recall,
        ROUND(CAST(n_hit AS DOUBLE) / n_candidates, 6) AS precision FROM m"""))

  /** Canonical-copy selection on the q55 cluster graph: per near-dup
    * cluster keep the LONGEST copy (tie: smallest doc_id) — the
    * keep-best-quality dedup policy, vs q71's keep-min-id. The argmax is
    * one struct-max aggregate per cluster (no per-cluster window over
    * data); output (cluster, size, kept_doc, kept_len) for clusters ≥ 2. */
  val q182DedupKeepBest = QueryDef(
    "q182_dedup_keep_best",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sig = DedupOps.minhashSignatures(docs, "doc_id", col("text"), 2)
      // chain edges (see q55): same components, linear edge volume
      val pairs = DedupOps.lshClusterEdges(sig, "doc_id")
      val comps = DedupOps.connectedComponents(
        pairs, docs.select(col("doc_id").as("doc")))
      comps.join(docs, comps("doc") === docs("doc_id"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("size"),
          max(struct(col("n_chars"), (-col("doc_id")).as("negid"))).as("best"))
        .filter(col("size") >= 2)
        .select(col("cluster"), col("size"),
          (-col("best.negid")).cast("long").as("kept_doc"),
          col("best.n_chars").as("kept_len"))
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE ${minhashPairCtes("")},
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labels AS (SELECT a AS doc, MIN(b) AS cluster FROM reach GROUP BY a),
      r AS (SELECT l.cluster, d.doc_id, d.n_chars,
          ROW_NUMBER() OVER (PARTITION BY l.cluster
            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
          COUNT(*) OVER (PARTITION BY l.cluster) AS size
        FROM labels l JOIN documents d ON l.doc = d.doc_id)
      SELECT cluster, CAST(size AS BIGINT) AS size, doc_id AS kept_doc,
        n_chars AS kept_len
      FROM r WHERE rn = 1 AND size >= 2 ORDER BY cluster"""))

  /** Edit-distance near-dup pairs (DedupOps.editDistancePairs): banded
    * Levenshtein ≤ 8 under (length-band, 8-char-prefix) blocking with a
    * 64-doc block cap — the character-level complement to q46's token
    * MinHash; catches small in-place edits. One equi self-join on the
    * block key, never all-pairs; both engines replay the identical
    * blocking so the oracle is exact. */
  val q221EditDistPairs = QueryDef(
    "q221_edit_dist_pairs",
    (s, d) => DedupOps.editDistancePairs(Tables.documents(s, d),
      "doc_id", col("text")),
    Some("""WITH d AS (SELECT doc_id AS id, text AS t,
          length(text) // 16 AS lb, substr(text, 1, 8) AS pf
        FROM documents WHERE text IS NOT NULL),
      s AS (SELECT lb, pf, COUNT(*) AS bs FROM d GROUP BY 1, 2),
      k AS (SELECT d.id, d.t, d.lb, d.pf FROM d
        JOIN s USING (lb, pf) WHERE bs <= 64)
      SELECT a.id AS doc_id_a, b.id AS doc_id_b,
        CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
      FROM k a JOIN k b ON a.lb = b.lb AND a.pf = b.pf AND a.id < b.id
      WHERE levenshtein(a.t, b.t) <= 8
      ORDER BY doc_id_a, doc_id_b"""))

  /** Per-source duplication card: exact-dup rate within the source plus
    * how much of the source is duplicated ACROSS sources — the
    * "which feed is recycling content" procurement readout on top of
    * q44's global dup groups. Two keyed aggregations (hash spread, then
    * per-source rollup), counts integer-exact, rates round 6. */
  val q236DupRateCard = QueryDef(
    "q236_dup_rate_card",
    (s, d) => {
      val h = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("source"), md5(col("text")).as("h"))
      val spread = h.groupBy("h")
        .agg(countDistinct(col("source")).as("__ns"))
      h.join(spread, Seq("h"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_distinct"),
          count(when(col("__ns") > 1, 1)).as("n_cross"))
        .withColumn("n_dup", col("n_docs") - col("n_distinct"))
        .withColumn("dup_rate", round(
          (col("n_docs") - col("n_distinct")).cast("double")
            / col("n_docs").cast("double"), 6))
        .withColumn("cross_rate", round(
          col("n_cross").cast("double") / col("n_docs").cast("double"), 6))
        .select("source", "n_docs", "n_distinct", "n_dup", "dup_rate",
          "n_cross", "cross_rate")
        .orderBy("source")
    },
    Some("""WITH h AS (SELECT source, md5(text) AS h FROM documents
          WHERE text IS NOT NULL),
      hs AS (SELECT h, CAST(COUNT(DISTINCT source) AS BIGINT) AS ns
        FROM h GROUP BY h),
      per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT h.h) AS BIGINT) AS n_distinct,
          CAST(COUNT(*) FILTER (ns > 1) AS BIGINT) AS n_cross
        FROM h JOIN hs USING (h) GROUP BY source)
      SELECT source, n_docs, n_distinct,
        n_docs - n_distinct AS n_dup,
        ROUND(CAST(n_docs - n_distinct AS DOUBLE)
          / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
        n_cross,
        ROUND(CAST(n_cross AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
          AS cross_rate
      FROM per ORDER BY source"""))

  /** Exact-dup cluster-size histogram: how many clusters of each size and
    * what share of the corpus sits in them — the "how bad is duplication"
    * distribution behind q44's flat group list. Two keyed aggregations;
    * the 1-row total broadcast back. */
  val q245DupSizeHist = QueryDef(
    "q245_dup_size_hist",
    (s, d) => {
      val h = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(md5(col("text")).as("h"))
      val tot = h.agg(count(lit(1)).as("__n"))
      h.groupBy("h").agg(count(lit(1)).as("c"))
        .groupBy(col("c").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .withColumn("doc_share", round(
          col("n_docs").cast("double") / col("__n").cast("double"), 6))
        .select("cluster_size", "n_clusters", "n_docs", "doc_share")
        .orderBy("cluster_size")
    },
    Some("""WITH h AS (SELECT md5(text) AS h FROM documents
          WHERE text IS NOT NULL),
      g AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY h),
      hist AS (SELECT c AS cluster_size,
          CAST(COUNT(*) AS BIGINT) AS n_clusters FROM g GROUP BY c),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h)
      SELECT cluster_size, n_clusters,
        cluster_size * n_clusters AS n_docs,
        ROUND(CAST(cluster_size * n_clusters AS DOUBLE)
          / CAST((SELECT n FROM tot) AS DOUBLE), 6) AS doc_share
      FROM hist ORDER BY cluster_size"""))

  /** PPJoin-style prefix-filtered exact Jaccard join over the FULL corpus
    * (DedupOps.prefixFilterJaccardPairs, t = 0.5): candidate-complete by
    * the prefix theorem, hot tokens never fan out — the principled exact
    * set-similarity join beside q46's approximate MinHash banding. The
    * oracle brute-forces all pairs at this SF, so any false negative
    * from the pruning would hash-mismatch. */
  val q246PrefixJaccard = QueryDef(
    "q246_prefix_jaccard",
    (s, d) => DedupOps.prefixFilterJaccardPairs(
      Tables.documents(s, d), "doc_id", col("text"),
      threshold = 0.5, shingle = 3),
    Some("""WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS words
        FROM documents WHERE text IS NOT NULL),
      sh AS (SELECT id, list_sort(list_distinct(list_transform(
          range(1, greatest(len(words) - 2, 0) + 1),
          i -> array_to_string(words[i:i+2], ' ')))) AS arr FROM w),
      ww AS (SELECT id, arr FROM sh WHERE len(arr) > 0),
      p AS (SELECT a.id AS doc_a, b.id AS doc_b,
          len(list_intersect(a.arr, b.arr)) AS i,
          len(a.arr) AS na, len(b.arr) AS nb
        FROM ww a JOIN ww b ON a.id < b.id)
      SELECT doc_a, doc_b,
        ROUND(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
      FROM p WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5
      ORDER BY doc_a, doc_b"""))

  override val defs: Seq[QueryDef] = Seq(
    q44ExactDup, q45NgramJaccard, q46MinhashLsh, q47Simhash, q55DedupClusters,
    q71DedupKeep, q72SimhashPairs, q77IncrementalDedup, q78BloomDedup,
    q79ParagraphDedup, q58Winnowing, q120SplitLeakage, q121Containment,
    q126SharedSpans, q142LshRecall, q182DedupKeepBest, q221EditDistPairs,
    q236DupRateCard, q245DupSizeHist, q246PrefixJaccard, q279ExactSubstr,
    q283ExactDupCard, q284ExactSubstrCut, q286ContamSpans, q287ContamCard,
    q288ContamProbeSaved, q289ContamIndexAdd, q290LshIndexProbe,
    q296ContamMatches)
}
