package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.Curation

/** Corpus-curation operators over the documents table: per-domain caps,
  * repetition metrics, composite C4/Gopher-style rule filters.
  */
object CurationQueries extends QueryGroup {

  /** Per-source cap: at most 5 docs per source (ordered by doc_id) — the
    * "no domain dominates the corpus" rule. Output: per-source counts
    * before/after the cap.
    */
  val q73DomainCap = QueryDef(
    "q73_domain_cap",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val capped = Curation.capPerGroup(docs, "source", Seq("doc_id"), 5)
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(capped.groupBy("source").agg(count(lit(1)).as("n_kept")), Seq("source"))
        .orderBy("source")
    },
    Some("""WITH capped AS (SELECT source FROM (
        SELECT source, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents) WHERE rn <= 5)
      SELECT d.source, d.n_docs, c.n_kept FROM
        (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source) d
        JOIN (SELECT source, COUNT(*) AS n_kept FROM capped GROUP BY source) c
        USING (source)
      ORDER BY source"""))

  /** Corpus-mix sampling rates: per-language keep probabilities that land
    * the downsampled corpus on a target language mixture (training-mix
    * planning). Rate table is |languages| rows; the oracle recomputes
    * min(1, share·N/n) exactly. */
  val q80MixRates = QueryDef(
    "q80_mix_rates",
    (s, d) => Curation.mixRates(Tables.documents(s, d), "lang",
      Map("en" -> 0.6, "fr" -> 0.25, "de" -> 0.15)).orderBy("lang"),
    Some("""WITH g AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      t AS (SELECT SUM(n_docs) AS total FROM g),
      r AS (SELECT lang, n_docs,
              CAST(CASE lang WHEN 'en' THEN 0.6 WHEN 'fr' THEN 0.25
                   WHEN 'de' THEN 0.15 ELSE 0.0 END AS DOUBLE) AS target_share,
              total FROM g, t)
      SELECT lang, n_docs, target_share,
        ROUND(LEAST(CAST(1.0 AS DOUBLE),
          target_share * total / n_docs), 6) AS rate
      FROM r ORDER BY lang NULLS FIRST"""))

  /** Token- and bigram-level repetition ratios (Gopher-style repetition
    * signals) for a bounded doc range. */
  val q74Repetition = QueryDef(
    "q74_repetition",
    (s, d) => Tables.documents(s, d).filter(col("doc_id") < 50)
      .select(col("doc_id"),
        Curation.tokenRepetitionRatio(col("text")).as("tok_rep"),
        Curation.bigramRepetitionRatio(col("text")).as("bigram_rep"))
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
              FROM documents WHERE doc_id < 50),
      g AS (SELECT doc_id, words,
          list_transform(range(1, len(words)), i -> array_to_string(words[i:i+1], ' ')) AS grams
        FROM w)
      SELECT doc_id,
        CASE WHEN len(words) <= 0 THEN 0.0
          ELSE ROUND(1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6)
        END AS tok_rep,
        CASE WHEN len(words) - 1 <= 0 THEN 0.0
          ELSE ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / (len(words) - 1), 6)
        END AS bigram_rep
      FROM g ORDER BY doc_id"""))

  /** Composite C4-style rule filter: per-rule violation counts + survivors,
    * one summary row over the whole corpus. */
  val q75C4Filter = QueryDef(
    "q75_c4_filter",
    (s, d) => {
      val flagged = Curation.c4RuleFlags(Tables.documents(s, d), col("text"))
      flagged.agg(
        count(lit(1)).as("n_docs"),
        sum((!col("r_min_words")).cast("bigint")).cast("bigint").as("v_min_words"),
        sum((!col("r_word_len")).cast("bigint")).cast("bigint").as("v_word_len"),
        sum((!col("r_stopword")).cast("bigint")).cast("bigint").as("v_stopword"),
        sum((!col("r_repetition")).cast("bigint")).cast("bigint").as("v_repetition"),
        sum(col("keep").cast("bigint")).cast("bigint").as("n_kept"))
    },
    Some {
      val stop = graft.text.TextAnalysis.LangProfiles.head._2
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH f AS (SELECT
          len(words) >= 50 AS r_min_words,
          mean_len >= 2.0 AND mean_len <= 10.0 AS r_word_len,
          CASE WHEN words IS NULL THEN NULL
            ELSE len(list_filter($stop, p -> list_contains(list_distinct(words), p))) > 0
          END AS r_stopword,
          (CASE WHEN len(words) <= 0 THEN 0.0
            ELSE ROUND(1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6)
          END) <= 0.8 AS r_repetition
        FROM (SELECT words, CAST(len(text) - (len(words) - 1) AS DOUBLE) / len(words) AS mean_len
              FROM (SELECT text, string_split(text, ' ') AS words FROM documents)))
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(CAST(NOT r_min_words AS BIGINT)) AS BIGINT) AS v_min_words,
        CAST(SUM(CAST(NOT r_word_len AS BIGINT)) AS BIGINT) AS v_word_len,
        CAST(SUM(CAST(NOT r_stopword AS BIGINT)) AS BIGINT) AS v_stopword,
        CAST(SUM(CAST(NOT r_repetition AS BIGINT)) AS BIGINT) AS v_repetition,
        CAST(SUM(CAST(r_min_words AND r_word_len AND r_stopword AND r_repetition AS BIGINT)) AS BIGINT) AS n_kept
      FROM f"""
    })

  /** PII redaction: deterministic synthetic emails/phones are injected into
    * the text (derived from doc_id), scrubbed, and the replacement counts
    * verified — both regexes are RE2-compatible so DuckDB reproduces the
    * scrub byte-for-byte. */
  val q76PiiRedact = QueryDef(
    "q76_pii_redact",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
      val salted = docs.withColumn("dirty",
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +32 2 "),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit(" 456 789")))
      salted
        .withColumn("clean", Curation.redactPii(col("dirty")))
        .agg(
          count(lit(1)).as("n_docs"),
          sum((length(col("dirty")) - length(col("clean"))).cast("bigint"))
            .cast("bigint").as("chars_removed"),
          sum((size(split(col("clean"), "<EMAIL>", -1)) - 1).cast("bigint"))
            .cast("bigint").as("n_emails"),
          sum((size(split(col("clean"), "<PHONE>", -1)) - 1).cast("bigint"))
            .cast("bigint").as("n_phones"))
    },
    Some(s"""WITH dirty AS (SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +32 2 '
            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' 456 789' AS dirty
        FROM documents WHERE doc_id < 200),
      c AS (SELECT dirty,
          regexp_replace(regexp_replace(dirty,
            '${Curation.EmailRe}', '<EMAIL>', 'g'),
            '${Curation.PhoneRe}', '<PHONE>', 'g') AS clean
        FROM dirty)
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(len(dirty) - len(clean)) AS BIGINT) AS chars_removed,
        CAST(SUM(len(string_split(clean, '<EMAIL>')) - 1) AS BIGINT) AS n_emails,
        CAST(SUM(len(string_split(clean, '<PHONE>')) - 1) AS BIGINT) AS n_phones
      FROM c"""))

  /** Luhn-validated payment-card PII audit: deterministic synthetic card
    * numbers injected per doc — even doc_ids get a Luhn-VALID number,
    * odd ones an off-by-one INVALID twin — so the counts separate
    * validation from mere pattern matching. The check-digit arithmetic
    * (fold over reversed digits) replays exactly in the oracle. */
  val q128CcLuhn = QueryDef(
    "q128_cc_luhn",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
      val salted = docs.withColumn("dirty", concat(col("text"),
        lit(" card "),
        when(col("doc_id") % 2 === 0, lit("4111 1111 1111 1111"))
          .otherwise(lit("4111-1111-1111-1112")),
        lit(" end")))
      salted.agg(
        count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all(col("dirty"),
            lit(Curation.CardRe), lit(0))).cast("bigint"))
          .cast("bigint").as("n_candidates"),
        sum(Curation.luhnValidCount(col("dirty")).cast("bigint"))
          .cast("bigint").as("n_valid_cards"))
    },
    Some(s"""WITH dirty AS (SELECT doc_id,
          text || ' card ' || CASE WHEN doc_id % 2 = 0
            THEN '4111 1111 1111 1111' ELSE '4111-1111-1111-1112' END
            || ' end' AS dirty
        FROM documents WHERE doc_id < 200),
      cand AS (SELECT doc_id,
          regexp_extract_all(dirty, '${Curation.CardRe}') AS cs FROM dirty),
      v AS (SELECT doc_id, len(cs) AS n_cand,
          len(list_filter(list_transform(cs, c -> regexp_replace(c, '[^0-9]', '', 'g')),
            d -> list_sum(list_transform(range(1, len(d) + 1), i ->
              CASE WHEN i % 2 = 0 THEN
                CASE WHEN CAST(reverse(d)[i:i] AS INT) * 2 > 9
                  THEN CAST(reverse(d)[i:i] AS INT) * 2 - 9
                  ELSE CAST(reverse(d)[i:i] AS INT) * 2 END
              ELSE CAST(reverse(d)[i:i] AS INT) END)) % 10 = 0)) AS n_valid
        FROM cand)
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(n_cand) AS BIGINT) AS n_candidates,
        CAST(SUM(n_valid) AS BIGINT) AS n_valid_cards
      FROM v"""))

  /** Sequence-packing plan (graft.text.Packing): documents concatenated per
    * source in doc_id order and cut into 4096-char context windows — per
    * stream: windows needed, payload, boundary straddlers. Running-sum
    * window per stream; the oracle recomputes offsets with the same
    * window function. */
  val q82ChunkPack = QueryDef(
    "q82_chunk_pack",
    (s, d) => graft.text.Packing.chunkSummary(
      Tables.documents(s, d), "source", "doc_id", col("n_chars"), 4096L)
      .orderBy("source"),
    Some("""WITH p AS (SELECT source, doc_id, n_chars,
        SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS end_off
        FROM documents),
      q AS (SELECT source, n_chars, end_off - n_chars AS start_off,
        (end_off - n_chars) // 4096 AS chunk_first,
        CASE WHEN n_chars > 0 THEN (end_off - 1) // 4096
             ELSE (end_off - n_chars) // 4096 END AS chunk_last
        FROM p)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_size,
        CAST(MAX(chunk_last) + 1 AS BIGINT) AS n_windows,
        CAST(SUM(CASE WHEN chunk_last > chunk_first THEN 1 ELSE 0 END) AS BIGINT)
          AS n_straddlers
      FROM q GROUP BY source ORDER BY source NULLS FIRST"""))

  /** Packed-window MATERIALIZATION: the write side of q82 — documents cut
    * at 4096-char window boundaries and reassembled per (source, window).
    * md5 of every window's text compared exactly cross-engine. */
  val q88PackWindows = QueryDef(
    "q88_pack_windows",
    (s, d) => graft.text.Packing.packWindows(
      Tables.documents(s, d), "source", "doc_id", col("text"), 4096L)
      .select(col("source"), col("chunk_id"),
        md5(col("window_text")).as("win_md5"),
        length(col("window_text")).cast("bigint").as("win_len"),
        col("n_docs"))
      .orderBy("source", "chunk_id"),
    Some("""WITH p AS (SELECT source, doc_id, text, len(text) AS sz,
          CAST(SUM(len(text)) OVER (PARTITION BY source ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
        FROM documents),
      q AS (SELECT *, end_off - sz AS start_off FROM p WHERE sz > 0),
      c AS (SELECT source, text, sz, start_off, end_off,
          unnest(range(start_off // 4096, (end_off - 1) // 4096 + 1)) AS chunk_id
        FROM q),
      f AS (SELECT source, chunk_id, start_off,
          substr(text,
            CAST(greatest(chunk_id * 4096 - start_off, 0) AS INTEGER) + 1,
            CAST(least((chunk_id + 1) * 4096, end_off)
              - greatest(chunk_id * 4096, start_off) AS INTEGER)) AS frag
        FROM c),
      w AS (SELECT source, chunk_id,
          md5(string_agg(frag, '' ORDER BY start_off)) AS win_md5,
          CAST(SUM(len(frag)) AS BIGINT) AS win_len,
          COUNT(*) AS n_docs
        FROM f GROUP BY source, chunk_id)
      SELECT source, chunk_id, win_md5, win_len, n_docs FROM w
      ORDER BY source, chunk_id"""))

  /** Gopher rule battery: per-source failure counts for each quality rule
    * plus survivors of the full conjunction. minWords lowered to 20 so the
    * synthetic corpus (30-40-word docs) exercises both branches. */
  val q90GopherRules = QueryDef(
    "q90_gopher_rules",
    (s, d) => Curation.gopherRuleFlags(
      Tables.documents(s, d), col("text"), minWords = 20)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("g_words"), 1L).otherwise(0L)).as("f_words"),
        sum(when(!col("g_word_len"), 1L).otherwise(0L)).as("f_word_len"),
        sum(when(!col("g_symbol"), 1L).otherwise(0L)).as("f_symbol"),
        sum(when(!col("g_bullet"), 1L).otherwise(0L)).as("f_bullet"),
        sum(when(!col("g_ellipsis"), 1L).otherwise(0L)).as("f_ellipsis"),
        sum(when(!col("g_alpha"), 1L).otherwise(0L)).as("f_alpha"),
        sum(when(!col("g_stopword"), 1L).otherwise(0L)).as("f_stopword"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .orderBy("source"),
    Some {
      val stops = graft.text.TextAnalysis.LangProfiles.head._2
        .map(w => s"'$w'").mkString("[", ", ", "]")
      // plain (non-interpolated) strings so regex backslashes stay literal
      """WITH w AS (SELECT source, text,
          list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS words
        FROM documents),
      m AS (SELECT source,
          len(words) AS nw,
          len(string_split(text, chr(10))) AS nl,
          CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(words)
            AS mean_len,
          (len(text) - len(replace(text, '#', ''))) AS hashes,
          (len(text) - len(replace(text, '...', ''))) / 3 AS ells,
          len(regexp_extract_all(text, '(?m)^[ \t]*[-*""" + "•" + """]')) AS bl,
          len(regexp_extract_all(text, '(?m)\.\.\.$')) AS el,
          len(list_filter(words, t -> regexp_matches(t, '[a-zA-Z]'))) AS aw,
          CASE WHEN words IS NULL THEN NULL
            ELSE len(list_filter(""" + stops + """, p -> list_contains(words, p)))
          END AS sh
        FROM w),
      f AS (SELECT source,
          (nw >= 20 AND nw <= 100000) AS g_words,
          (nw > 0 AND mean_len >= 3.0 AND mean_len <= 10.0) AS g_word_len,
          (nw > 0 AND CAST(hashes + ells AS DOUBLE) / nw <= 0.1) AS g_symbol,
          (CAST(bl AS DOUBLE) / nl <= 0.9) AS g_bullet,
          (CAST(el AS DOUBLE) / nl <= 0.3) AS g_ellipsis,
          (nw > 0 AND CAST(aw AS DOUBLE) / nw >= 0.8) AS g_alpha,
          (sh >= 2) AS g_stopword
        FROM m)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN NOT g_words THEN 1 ELSE 0 END) AS BIGINT) AS f_words,
        CAST(SUM(CASE WHEN NOT g_word_len THEN 1 ELSE 0 END) AS BIGINT) AS f_word_len,
        CAST(SUM(CASE WHEN NOT g_symbol THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol,
        CAST(SUM(CASE WHEN NOT g_bullet THEN 1 ELSE 0 END) AS BIGINT) AS f_bullet,
        CAST(SUM(CASE WHEN NOT g_ellipsis THEN 1 ELSE 0 END) AS BIGINT) AS f_ellipsis,
        CAST(SUM(CASE WHEN NOT g_alpha THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
        CAST(SUM(CASE WHEN NOT g_stopword THEN 1 ELSE 0 END) AS BIGINT) AS f_stopword,
        CAST(SUM(CASE WHEN g_words AND g_word_len AND g_symbol AND g_bullet
          AND g_ellipsis AND g_alpha AND g_stopword THEN 1 ELSE 0 END) AS BIGINT)
          AS n_keep
      FROM f GROUP BY source ORDER BY source NULLS FIRST"""
    })

  /** Deterministic exact-k per-group sample: md5(seed|id) ranking makes the
    * selection a pure function of (seed, id) — reproducible across re-runs
    * and engines, which is exactly what the oracle demonstrates. */
  val q87HashSample = QueryDef(
    "q87_hash_sample",
    (s, d) => Curation.deterministicSample(
      Tables.documents(s, d).select("doc_id", "source"),
      "source", "doc_id", k = 3)
      .orderBy("source", "doc_id"),
    Some("""WITH r AS (SELECT doc_id, source,
        ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5('42' || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT doc_id, source FROM r WHERE rk <= 3 ORDER BY source NULLS FIRST, doc_id"""))

  /** Benchmark decontamination: training docs sharing >= 1 word 5-gram with
    * the "benchmark" slice are flagged with their hit counts — the test-set
    * leakage guard. Benchmark shingles broadcast; the corpus never
    * shuffles. */
  val q85Decontam = QueryDef(
    "q85_decontamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.decontaminationFlags(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 400),
        docs.filter(col("doc_id") < 20),
        "doc_id", col("text"), n = 5)
        .orderBy("doc_id")
    },
    Some("""WITH sh5 AS (SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, len(words) - 3),
          i -> array_to_string(words[i:i+4], ' ')))) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        WHERE len(words) >= 5),
      train AS (SELECT * FROM sh5 WHERE doc_id >= 100 AND doc_id < 400),
      bench AS (SELECT DISTINCT s FROM sh5 WHERE doc_id < 20)
      SELECT doc_id, COUNT(*) AS n_hits
      FROM train JOIN bench USING (s)
      GROUP BY doc_id HAVING COUNT(*) >= 1 ORDER BY doc_id"""))

  /** Morton (Z-order) interleave (io.Layout.zValue): the multi-column
    * clustering key behind zorderWrite, pinned bit-for-bit against DuckDB's
    * integer bit arithmetic. */
  val q83ZValue = QueryDef(
    "q83_zvalue",
    (s, d) => Tables.orders(s, d).filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        graft.io.Layout.zValue(
          col("o_orderkey") % 256, col("o_custkey") % 256, 8).as("z"))
      .orderBy("o_orderkey"),
    Some {
      // parens around every shift term: DuckDB parses a << b | c << d
      // left-to-right, so an unparenthesized OR-chain overflows the shift
      val terms = (0 until 8).flatMap(i => Seq(
        s"((((o_orderkey % 256) >> $i) & 1) << ${2 * i})",
        s"((((o_custkey % 256) >> $i) & 1) << ${2 * i + 1})"))
      s"""SELECT o_orderkey, CAST(${terms.mkString(" | ")} AS BIGINT) AS z
      FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""
    })

  /** Token-balanced serpentine shard assignment (io.Layout.balancedShards:
    * distributed rank via ops.RangeScan.rank, no global window) plus the
    * deterministic md5 training-shuffle order, pinned exactly: per-shard
    * doc/token totals and an md5 over the ids in shuffle order. */
  val q91ShardAssign = QueryDef(
    "q91_shard_assign",
    (s, d) => {
      import graft.io.Layout
      // (doc_id, w) only: the rank's snapshot stores every column it gets
      val docs = Tables.documents(s, d).select(col("doc_id"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
      Layout.balancedShards(docs, "doc_id", "w", 8)
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("w")).as("tok_total"),
          md5(array_join(transform(
            sort_array(collect_list(struct(
              Layout.shuffleKey(col("doc_id")).as("k"),
              col("doc_id").cast("string").as("i")))),
            p => p("i")), ",")).as("order_md5"))
        .orderBy("shard")
    },
    Some("""WITH r AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS w FROM documents),
      rk AS (SELECT doc_id, w,
          ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) - 1 AS rnk FROM r),
      s AS (SELECT doc_id, w,
          CAST(CASE WHEN (rnk // 8) % 2 = 0 THEN rnk % 8
               ELSE 7 - (rnk % 8) END AS INT) AS shard
        FROM rk)
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(w) AS BIGINT) AS tok_total,
        md5(string_agg(CAST(doc_id AS VARCHAR), ','
          ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)))) AS order_md5
      FROM s GROUP BY shard ORDER BY shard"""))

  /** Corpus release diff (Curation.corpusDiff): v1 drops ids ≡3 (mod 10),
    * v2 drops ids ≡6 and perturbs text of ids ≡0 (mod 7) — all four
    * statuses exercised. Exact md5 compare under one full-outer join. */
  val q96CorpusDiff = QueryDef(
    "q96_corpus_diff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.filter(col("doc_id") % 10 =!= 3)
      val v2 = docs.filter(col("doc_id") % 10 =!= 6).withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      Curation.corpusDiff(v1, v2, "doc_id", md5(col("text")))
        .groupBy("status").agg(count(lit(1)).as("n"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy("status")
    },
    Some("""WITH v1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents
          WHERE doc_id % 10 <> 3),
      v2 AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0
          THEN text || ' v2' ELSE text END) AS fp2 FROM documents
          WHERE doc_id % 10 <> 6),
      j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS id,
          CASE WHEN fp1 IS NULL THEN 'added'
               WHEN fp2 IS NULL THEN 'removed'
               WHEN fp1 <> fp2 THEN 'changed'
               ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(id) AS min_id, MAX(id) AS max_id
      FROM j GROUP BY status ORDER BY status"""))

  /** FLAGSHIP curation pipeline, end-to-end in one lazy plan: Gopher rule
    * filter → exact keep-first dedup on the content hash → per-source cap →
    * per-language release report. The curation twin of q60's preprocessing
    * chain: three keyed shuffles total (dedup window, cap window, final
    * groupBy) and zero driver barriers — every stage composes lazily. */
  val q97CurationE2e = QueryDef(
    "q97_curation_e2e",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val passed = Curation.gopherRuleFlags(docs, col("text"), minWords = 20)
        .filter(col("keep"))
        .select(docs.columns.map(col): _*)
      val unique = graft.ops.Dedup.keepFirst(
        passed.withColumn("__h", md5(col("text"))), Seq("__h"), Seq("doc_id"))
        .drop("__h")
      val capped = Curation.capPerGroup(unique, "source", Seq("doc_id"), 15)
      capped
        .withColumn("nt", graft.text.TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("q", graft.text.TextAnalysis.qualityScore(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          graft.ops.Aggregates.decAvg(col("q"), 6).as("avg_quality"))
        .orderBy("lang")
    },
    Some {
      val stops = graft.text.TextAnalysis.LangProfiles.head._2
        .map(w => s"'$w'").mkString("[", ", ", "]")
      """WITH w AS (SELECT doc_id, source, lang, text,
          list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS words
        FROM documents),
      m AS (SELECT doc_id, source, lang, text, words,
          len(words) AS nw,
          len(string_split(text, chr(10))) AS nl,
          CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
            / len(words) AS mean_len,
          (len(text) - len(replace(text, '#', ''))) AS hashes,
          (len(text) - len(replace(text, '...', ''))) / 3 AS ells,
          len(regexp_extract_all(text, '(?m)^[ \t]*[-*""" + "•" + """]')) AS bl,
          len(regexp_extract_all(text, '(?m)\.\.\.$')) AS el,
          len(list_filter(words, t -> regexp_matches(t, '[a-zA-Z]'))) AS aw,
          len(list_filter(""" + stops + """, p -> list_contains(words, p))) AS sh
        FROM w),
      passed AS (SELECT doc_id, source, lang, text FROM m
        WHERE nw >= 20 AND nw <= 100000
          AND nw > 0 AND mean_len >= 3.0 AND mean_len <= 10.0
          AND CAST(hashes + ells AS DOUBLE) / nw <= 0.1
          AND CAST(bl AS DOUBLE) / nl <= 0.9
          AND CAST(el AS DOUBLE) / nl <= 0.3
          AND CAST(aw AS DOUBLE) / nw >= 0.8
          AND sh >= 2),
      uniq AS (SELECT doc_id, source, lang, text FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
            ORDER BY doc_id) AS rn FROM passed) WHERE rn = 1),
      capped AS (SELECT doc_id, lang, text FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY doc_id) AS rn FROM uniq) WHERE rn <= 15),
      sc AS (SELECT lang,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
          ROUND(0.3 * least(1.0,
              CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
            + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE))
            + 0.3 * least(1.0,
                CAST(len(list_filter(['the', 'a', 'of', 'and', 'is', 'to'],
                  p -> list_contains(string_split(text, ' '), p))) AS DOUBLE)
                * 10.0 / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS q
        FROM capped)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS n_tokens,
        CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(q) AS avg_quality
      FROM sc GROUP BY lang ORDER BY lang"""
    })

  /** Sliding-window chunking with overlap (Packing.chunkSliding): chunk
    * geometry + exact chunk text md5-pinned for the first 100 docs —
    * size 256, stride 192 ⇒ 64-char overlap. */
  val q100ChunkSliding = QueryDef(
    "q100_chunk_sliding",
    (s, d) => graft.text.Packing.chunkSliding(
      Tables.documents(s, d).filter(col("doc_id") < 100),
      "doc_id", col("text"), size = 256, stride = 192)
      .select(col("doc_id"), col("chunk_idx"),
        md5(col("chunk_text")).as("chunk_md5"),
        length(col("chunk_text")).cast("bigint").as("chunk_len"))
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH d AS (SELECT doc_id, text, len(text) AS n FROM documents
          WHERE doc_id < 100),
      c AS (SELECT doc_id, text,
          unnest(range(0, CAST(CASE WHEN n <= 256 THEN 1
            ELSE ceil(CAST(n - 256 AS DOUBLE) / 192) + 1 END AS BIGINT))) AS idx
        FROM d)
      SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
        md5(substr(text, CAST(idx * 192 + 1 AS INT), 256)) AS chunk_md5,
        CAST(len(substr(text, CAST(idx * 192 + 1 AS INT), 256)) AS BIGINT)
          AS chunk_len
      FROM c ORDER BY doc_id, chunk_idx"""))

  /** SFT conversation lint (Curation.conversationFlags): conversations are
    * synthesized deterministically from documents (2-4 turns; ids ≡0 mod 11
    * get a role repeat, ids ≡0 mod 13 an empty final turn), then the
    * array<struct> validator runs — per-turn-count rule failure counts.
    * 3-turn conversations close on 'user', so v_closes fails for that whole
    * stratum by construction (the lint catching a real shape defect). */
  val q101ConversationQa = QueryDef(
    "q101_conversation_qa",
    (s, d) => {
      val nTurns = (col("doc_id") % 3 + 2).cast("int")
      val conv = transform(sequence(lit(0), nTurns - 1), i => struct(
        when(col("doc_id") % 11 === 0 && i === 1, lit("user"))
          .otherwise(when(i % 2 === 0, lit("user")).otherwise(lit("assistant")))
          .as("role"),
        when(col("doc_id") % 13 === 0 && i === nTurns - 1, lit(""))
          .otherwise(col("text").substr(i * 40 + 1, lit(40))).as("content")))
      Curation.conversationFlags(
        Tables.documents(s, d).withColumn("conv", conv), col("conv"))
        .groupBy("n_turns")
        .agg(count(lit(1)).as("n_convs"),
          sum(when(!col("v_opens"), 1L).otherwise(0L)).as("f_opens"),
          sum(when(!col("v_alternates"), 1L).otherwise(0L)).as("f_alternates"),
          sum(when(!col("v_nonempty"), 1L).otherwise(0L)).as("f_nonempty"),
          sum(when(!col("v_closes"), 1L).otherwise(0L)).as("f_closes"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_valid"))
        .orderBy("n_turns")
    },
    Some("""WITH c AS (SELECT doc_id,
          CAST(doc_id % 3 + 2 AS INT) AS n_turns,
          list_transform(range(0, CAST(doc_id % 3 + 2 AS BIGINT)), i ->
            struct_pack(
              role := CASE WHEN doc_id % 11 = 0 AND i = 1 THEN 'user'
                           WHEN i % 2 = 0 THEN 'user'
                           ELSE 'assistant' END,
              content := CASE WHEN doc_id % 13 = 0 AND i = doc_id % 3 + 1
                              THEN ''
                              ELSE substr(text, CAST(i * 40 + 1 AS INT), 40)
                         END)) AS conv
        FROM documents),
      f AS (SELECT n_turns,
          (list_transform(conv, t -> t.role)[1] IN ('user', 'system')) AS v_opens,
          (len(list_filter(range(1, n_turns), i ->
            list_transform(conv, t -> t.role)[i]
              = list_transform(conv, t -> t.role)[i + 1])) = 0) AS v_alternates,
          (CASE WHEN len(list_filter(conv, t -> len(t.content) = 0)) > 0 THEN FALSE
                WHEN len(list_filter(conv, t -> t.content IS NULL)) > 0 THEN NULL
                ELSE TRUE END) AS v_nonempty,
          (list_transform(conv, t -> t.role)[-1] = 'assistant') AS v_closes
        FROM c)
      SELECT n_turns, CAST(COUNT(*) AS BIGINT) AS n_convs,
        CAST(SUM(CASE WHEN NOT v_opens THEN 1 ELSE 0 END) AS BIGINT) AS f_opens,
        CAST(SUM(CASE WHEN NOT v_alternates THEN 1 ELSE 0 END) AS BIGINT)
          AS f_alternates,
        CAST(SUM(CASE WHEN NOT v_nonempty THEN 1 ELSE 0 END) AS BIGINT)
          AS f_nonempty,
        CAST(SUM(CASE WHEN NOT v_closes THEN 1 ELSE 0 END) AS BIGINT) AS f_closes,
        CAST(SUM(CASE WHEN v_opens AND v_alternates AND v_nonempty AND v_closes
          THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
      FROM f GROUP BY n_turns ORDER BY n_turns"""))

  /** Gopher char-level repetition metrics (Curation.ngramCharStats): the
    * most-frequent-bigram and duplicated-bigram character fractions for the
    * first 60 docs, gram identity included so the argmax tie-break is
    * pinned cross-engine. */
  val q102NgramCharStats = QueryDef(
    "q102_ngram_char_stats",
    (s, d) => Curation.ngramCharStats(
      Tables.documents(s, d).filter(col("doc_id") < 60),
      "doc_id", col("text"), n = 2)
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, len(text) AS tl,
          string_split(text, ' ') AS words
        FROM documents WHERE doc_id < 60),
      g AS (SELECT doc_id, tl, unnest(list_transform(
          range(1, greatest(len(words) - 1, 0) + 1),
          i -> array_to_string(words[i:i+1], ' '))) AS gram
        FROM w),
      c AS (SELECT doc_id, tl, gram, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM g GROUP BY doc_id, tl, gram),
      t AS (SELECT doc_id, tl, gram, cnt,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
        FROM c),
      d AS (SELECT doc_id,
          CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * len(gram) ELSE 0 END)
            AS BIGINT) AS dup_chars
        FROM c GROUP BY doc_id)
      SELECT t.doc_id, t.gram AS top_gram, t.cnt AS top_count,
        ROUND(CAST(t.cnt * len(t.gram) AS DOUBLE) / t.tl, 6) AS top_frac,
        ROUND(CAST(d.dup_chars AS DOUBLE) / t.tl, 6) AS dup_frac
      FROM t JOIN d ON t.doc_id = d.doc_id
      WHERE t.rn = 1 ORDER BY t.doc_id"""))

  /** Shared DuckDB CTE chain for the DSIR queries: hashed uni+bigram
    * features, per-doc raw bucket counts, smoothed per-bucket log ratios
    * target-vs-raw (target = English docs, raw = the rest; α=0.5, B=4096),
    * per-doc log importance weights.
    */
  private val DsirCtes =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
          FROM documents),
      f AS (
        SELECT doc_id, lang, f FROM (
          SELECT doc_id, lang, unnest(ws) AS f FROM t) u WHERE len(f) > 0
        UNION ALL
        SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)),
            i -> ws[i] || ' ' || ws[i + 1])) AS f
          FROM t WHERE len(ws) >= 2),
      fb AS (SELECT doc_id, lang,
          CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS b FROM f),
      db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n FROM fb
          WHERE lang <> 'en' GROUP BY doc_id, b),
      rawc AS (SELECT b, CAST(SUM(n) AS BIGINT) AS rc FROM db GROUP BY b),
      tgtc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM fb
          WHERE lang = 'en' GROUP BY b),
      rt AS (SELECT CAST(SUM(rc) AS BIGINT) AS rtot FROM rawc),
      tt AS (SELECT CAST(SUM(tc) AS BIGINT) AS ttot FROM tgtc),
      r AS (SELECT b,
          ln((COALESCE(tc, 0) + 0.5) / (ttot + 0.5 * 4096))
            - ln((rc + 0.5) / (rtot + 0.5 * 4096)) AS lr
        FROM rawc LEFT JOIN tgtc USING (b), rt, tt),
      w AS (SELECT doc_id,
          ROUND(CAST(SUM(CAST(n * lr AS DECIMAL(38,12))) AS DOUBLE), 6)
            AS logw,
          CAST(SUM(n) AS BIGINT) AS n_feats
        FROM db JOIN r USING (b) GROUP BY doc_id)"""

  /** DSIR importance weights: hashed-n-gram log importance ratios of every
    * non-English doc toward the English target distribution; the 20 most
    * target-like documents. */
  val q104DsirWeights = QueryDef(
    "q104_dsir_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Curation.dsirLogWeights(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", col("text"))
        .orderBy(col("logw").desc, col("doc_id")).limit(20)
    },
    Some(DsirCtes +
      """ SELECT doc_id, logw, n_feats FROM w
      ORDER BY logw DESC, doc_id LIMIT 20"""))

  /** DSIR resampling: deterministic Gumbel-max top-k over the importance
    * weights — a without-replacement draw from softmax(logw) that every
    * engine reproduces exactly (uniforms from md5(seed‖doc_id)). */
  val q105DsirResample = QueryDef(
    "q105_dsir_resample",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val w = Curation.dsirLogWeights(
        docs.filter(col("lang") =!= "en"), docs.filter(col("lang") === "en"),
        "doc_id", col("text"))
      Curation.gumbelTopK(w, "doc_id", "logw", k = 15)
        .select("doc_id", "logw", "n_feats", "key")
    },
    Some(DsirCtes +
      """ SELECT doc_id, logw, n_feats,
        ROUND(logw - ln(-ln(
          (CAST(('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) + 0.5) / 4294967296.0)), 6) AS key
      FROM w ORDER BY key DESC, doc_id LIMIT 15"""))

  /** Deterministic train/val/test split: md5-thresholded assignment at
    * 0.8/0.1/0.1, audited per (lang, split) — a document can never migrate
    * between splits across runs or corpus growth. */
  val q109SplitAssign = QueryDef(
    "q109_split_assign",
    (s, d) => Curation.splitAssign(Tables.documents(s, d), "doc_id")
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"))
      .orderBy("lang", "split"),
    Some("""WITH a AS (SELECT doc_id, lang,
        (CAST(('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8))
          AS BIGINT) + 0.5) / 4294967296.0 AS u FROM documents),
      sp AS (SELECT doc_id, lang,
          CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
               ELSE 'test' END AS split FROM a)
      SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(MIN(doc_id) AS BIGINT) AS min_id
      FROM sp GROUP BY lang, split ORDER BY lang NULLS FIRST, split"""))

  /** Model-based quality filtering: the fastText-style hashed linear
    * scorer with a fixture weight vector w(b) = (b%41-20)/32 — exact in
    * binary, so the per-document sum is order-independent and the DuckDB
    * oracle replays feature hashing, scoring, and the sigmoid bit-for-bit
    * under the round-6 contract. Top-20 highest-quality documents. */
  val q118QualityClassifier = QueryDef(
    "q118_quality_classifier",
    (s, d) => Curation.hashedLinearScore(
      Tables.documents(s, d), "doc_id", col("text"),
      b => (b % 41 - lit(20)).cast("double") / lit(32.0))
      .orderBy(col("score").desc, col("doc_id")).limit(20),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      f AS (SELECT doc_id, f FROM (
            SELECT doc_id, unnest(ws) AS f FROM t) u WHERE len(f) > 0
        UNION ALL
        SELECT doc_id, unnest(list_transform(range(1, len(ws)),
            i -> ws[i] || ' ' || ws[i + 1])) AS f
          FROM t WHERE len(ws) >= 2),
      fb AS (SELECT doc_id,
          CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS b FROM f),
      z AS (SELECT doc_id, SUM((b % 41 - 20) / 32.0) AS zs,
          CAST(COUNT(*) AS BIGINT) AS n_feats FROM fb GROUP BY doc_id),
      sc AS (SELECT doc_id, n_feats,
          ROUND(1.0 / (1.0 + exp(-(zs / n_feats))), 6) AS score FROM z)
      SELECT doc_id, n_feats, score, score >= 0.5 AS keep FROM sc
      ORDER BY score DESC, doc_id LIMIT 20"""))

  /** Length-bucketed batching audit: per power-of-two token-length bucket,
    * the padding-waste accounting that decides inference batch shapes. */
  val q111LengthBuckets = QueryDef(
    "q111_length_buckets",
    (s, d) => graft.text.Packing.lengthBuckets(
      Tables.documents(s, d)
        .select(graft.text.TextAnalysis.tokenCount(col("text")).as("n_toks")),
      col("n_toks"))
      .orderBy("bucket"),
    Some("""WITH t AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
      b AS (SELECT n, CASE WHEN n > 0 THEN
            GREATEST(16, CAST(1 AS BIGINT) << length(bin(CAST(n - 1 AS BIGINT))))
          ELSE 16 END AS bucket FROM t)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS tok_total,
        CAST(SUM(bucket - n) AS BIGINT) AS pad_total,
        ROUND(CAST(SUM(bucket - n) AS BIGINT)
          / (CAST(bucket AS DOUBLE) * COUNT(*)), 6) AS waste_frac
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** Approximate-sketch accuracy audit: HyperLogLog++ distinct counts and
    * approx percentiles against their exact twins, with within-tolerance
    * flags. At 100 TB the sketches ARE the practical path (one pass, fixed
    * memory, mergeable across partitions — exact distinct shuffles every
    * key); this query keeps their error budget under the correctness gate:
    * the oracle recomputes the EXACT values and expects every tolerance
    * flag to be true, so a Spark-side sketch regression fails the
    * round's CORRECTNESS file, not just a dashboard.
    */
  val q112ApproxAudit = QueryDef(
    "q112_approx_audit",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      // Aggregate SHAPE matters here (measured at sf0.1/noop: 4.8 s as one
      // agg vs 0.7 s split): two DISTINCT aggregates plus buffer-based
      // percentiles in ONE Aggregate force an Expand that triples the
      // corpus and push the whole stage out of partial aggregation, while
      // separate 1-row aggregates each get a column-pruned scan with
      // map-side partials — and three cheap scans beat one 3x-expanded
      // pass at any scale. The 1-row cross joins are broadcast no-ops.
      // isNotNull before distinct(): COUNT(DISTINCT x) excludes NULLs, but
      // distinct()+count(1) would count a NULL key as one value — a latent
      // off-by-one if this split-aggregate pattern is reused on a nullable
      // column (TPC-H keys happen to be non-null; don't rely on it).
      val parts = li.filter(col("l_partkey").isNotNull)
        .select(col("l_partkey")).distinct()
        .agg(count(lit(1)).as("n_parts_exact"))
      val supps = li.filter(col("l_suppkey").isNotNull)
        .select(col("l_suppkey")).distinct()
        .agg(count(lit(1)).as("n_supps_exact"))
      val rest = li.agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("__parts_apx"),
        approx_count_distinct(col("l_suppkey"), rsd = 0.02).as("__supps_apx"),
        percentile(col("l_quantity").cast("double"), lit(0.5)).as("qty_p50_exact"),
        percentile_approx(col("l_quantity").cast("double"), lit(0.5), lit(10000))
          .as("__qty_p50_apx"))
      parts.crossJoin(supps).crossJoin(rest)
      .select(
        col("n_parts_exact"),
        (abs(col("__parts_apx") - col("n_parts_exact")).cast("double")
          / col("n_parts_exact") <= 0.05).as("parts_apx_ok"),
        col("n_supps_exact"),
        (abs(col("__supps_apx") - col("n_supps_exact")).cast("double")
          / col("n_supps_exact") <= 0.05).as("supps_apx_ok"),
        round(col("qty_p50_exact"), 6).as("qty_p50_exact_r"),
        (abs(col("__qty_p50_apx") - col("qty_p50_exact"))
          <= greatest(abs(col("qty_p50_exact")) * 0.02, lit(1.0))).as("qty_apx_ok"))
    },
    Some("""SELECT
      CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
      TRUE AS parts_apx_ok,
      CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps_exact,
      TRUE AS supps_apx_ok,
      ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS qty_p50_exact_r,
      TRUE AS qty_apx_ok
      FROM lineitem"""))

  /** UT1-style URL blocklist: hosts synthesized over documents, a 2-entry
    * blocklist that must also catch SUBdomains — the suffix-explode equi
    * join (never a LIKE scan). Per-(host, blocked) audit counts. */
  val q113UrlBlocklist = QueryDef(
    "q113_url_blocklist",
    (s, d) => {
      import s.implicits._
      import graft.text.UrlOps
      val k = col("doc_id")
      val host = when(k % 7 === 0, "ads.tracker.net")
        .when(k % 7 === 1, "sub.ads.tracker.net")
        .when(k % 7 === 2, "news.example.com")
        .when(k % 7 === 3, "spam.co")
        .otherwise("safe.example.org")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("https://"), host, lit("/p/"), k.cast("string")).as("url"))
      val bl = Seq("tracker.net", "spam.co").toDF("domain")
      UrlOps.blocklistFlags(docs, "doc_id", col("url"), bl)
        .groupBy(UrlOps.urlHost(col("url")).as("host"), col("blocked"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_id"))
        .orderBy("host")
    },
    Some("""WITH u AS (SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN 'ads.tracker.net'
             WHEN doc_id % 7 = 1 THEN 'sub.ads.tracker.net'
             WHEN doc_id % 7 = 2 THEN 'news.example.com'
             WHEN doc_id % 7 = 3 THEN 'spam.co'
             ELSE 'safe.example.org' END AS host FROM documents),
      f AS (SELECT doc_id, host,
          EXISTS (SELECT 1 FROM (VALUES ('tracker.net'), ('spam.co')) b(d)
                  WHERE u.host = b.d OR u.host LIKE '%.' || b.d) AS blocked
        FROM u)
      SELECT host, blocked, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(MIN(doc_id) AS BIGINT) AS min_id
      FROM f GROUP BY host, blocked ORDER BY host"""))

  /** C4 line-level filtering: multi-line pages synthesized deterministically
    * (8-token lines; ~1/3 lack terminal punctuation; doc%5 gets a
    * "javascript" boilerplate line, doc%7 a too-short line), then the line
    * rules drop offenders and the document reassembles from survivors —
    * md5-compared against the oracle's identical pipeline. */
  val q115C4Lines = QueryDef(
    "q115_c4_lines",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"), split(col("text"), " ").as("__toks"))
      val nl = greatest(ceil(size(col("__toks")) / lit(8.0)).cast("int"), lit(1))
      val lines = docs
        .select(col("doc_id"), posexplode(transform(sequence(lit(0), nl - 1),
          i => array_join(slice(col("__toks"), i * 8 + 1, lit(8)), " "))))
        .withColumnRenamed("pos", "idx")
        .withColumn("line",
          when(col("doc_id") % 5 === 0 && col("idx") === 0,
            "please enable javascript to continue.")
          .when(col("doc_id") % 7 === 0 && col("idx") === 1, "click here.")
          .otherwise(concat(col("col"),
            when((col("doc_id") + col("idx")) % 3 =!= 0, ".").otherwise(""))))
      Curation.c4LineFilter(lines, "doc_id", "idx", col("line"))
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE doc_id < 100),
      l0 AS (SELECT doc_id, unnest(list_transform(
          range(0, GREATEST(CAST(ceil(len(words) / 8.0) AS INT), 1)),
          i -> struct_pack(idx := i,
            line := array_to_string(words[i*8+1 : i*8+8], ' ')))) AS p
        FROM w),
      l1 AS (SELECT doc_id, p.idx AS idx,
          CASE WHEN doc_id % 5 = 0 AND p.idx = 0
               THEN 'please enable javascript to continue.'
               WHEN doc_id % 7 = 0 AND p.idx = 1 THEN 'click here.'
               ELSE p.line || CASE WHEN (doc_id + p.idx) % 3 <> 0
                    THEN '.' ELSE '' END END AS line
        FROM l0),
      f AS (SELECT doc_id, idx, line,
          (regexp_matches(line, '[.!?"'']$')
            AND len(list_filter(string_split(line, ' '), t -> len(t) > 0)) >= 5
            AND NOT contains(lower(line), 'javascript')
            AND NOT contains(lower(line), 'lorem ipsum')
            AND NOT contains(lower(line), 'cookie')) AS keep
        FROM l1)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        md5(COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
          ORDER BY idx), '')) AS clean_md5
      FROM f GROUP BY doc_id ORDER BY doc_id"""))

  /** Token-weighted corpus-mix rates: per-language keep probabilities that
    * land the downsampled corpus on a target TOKEN mixture (the unit a
    * training mix is specified in), not a document mixture. */
  val q116MixTokens = QueryDef(
    "q116_mix_tokens",
    (s, d) => Curation.mixRatesWeighted(Tables.documents(s, d), "lang",
      graft.text.TextAnalysis.tokenCount(col("text")).cast("long"),
      Map("en" -> 0.5, "fr" -> 0.2, "de" -> 0.15, "es" -> 0.1, "zh" -> 0.05))
      .orderBy("lang"),
    Some("""WITH g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS w_tokens
        FROM documents GROUP BY lang),
      t AS (SELECT CAST(SUM(w_tokens) AS BIGINT) AS total FROM g),
      r AS (SELECT lang, n_docs, w_tokens,
          CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.2
               WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.1 WHEN 'zh' THEN 0.05
               ELSE 0.0 END AS DOUBLE) AS target_share, total FROM g, t)
      SELECT lang, n_docs, w_tokens, target_share,
        ROUND(LEAST(CAST(1.0 AS DOUBLE),
          target_share * total / w_tokens), 6) AS rate
      FROM r ORDER BY lang NULLS FIRST"""))

  /** Temperature-scaled multilingual sampling (T=2): tempered shares
    * p ∝ tokens^(1/T) and the per-language up/down-sampling boost —
    * no hand-written target map, unlike q116. Exact oracle: decimal token
    * sums, pow + scalar-window normalizers; boost divides the UNROUNDED
    * shares (round-6 only on output columns, matching the Spark order of
    * operations — dividing a rounded-to-zero natural share would yield
    * Infinity for rare groups). */
  val q119TemperatureMix = QueryDef(
    "q119_temperature_mix",
    (s, d) => Curation.temperatureMixShares(Tables.documents(s, d), "lang",
      graft.text.TextAnalysis.tokenCount(col("text")).cast("long"),
      temperature = 2.0)
      .orderBy("lang"),
    Some("""WITH g AS (SELECT lang,
          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS w_tokens
        FROM documents GROUP BY lang),
      t AS (SELECT lang, w_tokens,
          CAST(w_tokens AS DOUBLE)
            / CAST(SUM(w_tokens) OVER () AS DOUBLE) AS natural_raw,
          pow(CAST(w_tokens AS DOUBLE), 0.5)
            / SUM(pow(CAST(w_tokens AS DOUBLE), 0.5)) OVER () AS tempered_raw
        FROM g)
      SELECT lang, w_tokens, ROUND(natural_raw, 6) AS natural_share,
        ROUND(tempered_raw, 6) AS tempered_share,
        ROUND(tempered_raw / natural_raw, 6) AS boost
      FROM t ORDER BY lang NULLS FIRST"""))

  /** Weighted sampling without replacement (Curation.weightedSample, A-ES):
    * top-20 docs by u^(1/n_chars) priority — longer docs proportionally
    * likelier, yet the pick is a pure function of (seed, doc_id). The plan
    * is TakeOrderedAndProject (per-partition heaps), never a global sort. */
  val q151WeightedSample = QueryDef(
    "q151_weighted_sample",
    (s, d) => Curation.weightedSample(
      Tables.documents(s, d).select("doc_id", "source", "n_chars"),
      "doc_id", col("n_chars"), k = 20)
      .select("doc_id", "source", "n_chars", "priority"),
    Some("""WITH p AS (SELECT doc_id, source, n_chars,
        LN((CAST(('0x' || substr(md5('42' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) + 1.0) / 1152921504606846976.0)
          / CAST(n_chars AS DOUBLE) AS pri
      FROM documents)
      SELECT doc_id, source, n_chars, ROUND(pri, 6) AS priority
      FROM p ORDER BY pri DESC, doc_id LIMIT 20"""))

  /** Exact-total stratified sample (Curation.stratifiedAllocation +
    * stratifiedSample): largest-remainder integer allocation of a 50-doc
    * budget across sources, then the md5-ranked per-stratum pick. Output
    * is the allocation audit: Σ n_target = 50 exactly, n_kept == n_target
    * for every stratum. */
  val q152StratifiedSample = QueryDef(
    "q152_stratified_sample",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val alloc = Curation.stratifiedAllocation(docs, "source", 50)
      val kept = Curation.stratifiedSample(docs, "source", "doc_id", 50)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      alloc.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_target"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    },
    Some("""WITH g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source),
      t AS (SELECT SUM(n_docs) AS total FROM g),
      a AS (SELECT source, n_docs, (n_docs * 50) // total AS base,
          (n_docs * 50) % total AS rem FROM g, t),
      s AS (SELECT SUM(base) AS sum_base FROM a),
      r AS (SELECT source, n_docs, base, rem,
          ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM a),
      al AS (SELECT source, n_docs,
          CAST(base + CASE WHEN rk <= 50 - sum_base THEN 1 ELSE 0 END AS BIGINT)
            AS n_target FROM r, s),
      ranked AS (SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY md5('42' || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents),
      kept AS (SELECT ranked.source, CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM ranked JOIN al ON ranked.source = al.source
        WHERE rn <= n_target GROUP BY ranked.source)
      SELECT al.source, al.n_docs, al.n_target,
        COALESCE(kept.n_kept, 0) AS n_kept
      FROM al LEFT JOIN kept ON al.source = kept.source
      ORDER BY al.source NULLS FIRST"""))

  /** Token-budget waterfilling across sources (Curation.budgetWaterfill):
    * 140k chars allocated by doc-count weight, capped at each source's
    * available mass with redistribution — the closed-form prefix-sum
    * water level, all math over the ≤#sources report frame. Prefix sums
    * run over integer-valued doubles, so any summation order is exact. */
  val q188BudgetWaterfill = QueryDef(
    "q188_budget_waterfill",
    (s, d) => Curation.budgetWaterfill(
      Tables.documents(s, d).groupBy("source")
        .agg(sum(col("n_chars")).as("avail"), count(lit(1)).as("wt")),
      "source", col("avail"), col("wt"), budget = 140000L),
    Some("""WITH per AS (SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS a,
          CAST(COUNT(*) AS DOUBLE) AS w FROM documents GROUP BY source),
      r AS (SELECT source, a, w, a / w AS r FROM per
        WHERE a IS NOT NULL AND w IS NOT NULL AND w > 0),
      p AS (SELECT source, a, w, r,
          SUM(a) OVER (ORDER BY r, source) AS ca,
          SUM(w) OVER (ORDER BY r, source) AS cw,
          SUM(a) OVER () AS ta, SUM(w) OVER () AS tw FROM r),
      s AS (SELECT source, a, w, r, ca, cw, ta, tw,
          CASE WHEN tw > cw THEN (140000.0 - ca) / (tw - cw) >= r
            ELSE 140000.0 >= ca END AS saturated FROM p),
      lv AS (SELECT source, a, w, saturated,
          (140000.0 - COALESCE(
            MAX(CASE WHEN saturated THEN ca END) OVER (), 0.0))
          / (tw - COALESCE(
            MAX(CASE WHEN saturated THEN cw END) OVER (), 0.0)) AS level
        FROM s)
      SELECT source, a AS available, w AS weight, saturated,
        ROUND(CASE WHEN saturated THEN a ELSE level * w END, 6) AS allocation
      FROM lv ORDER BY source"""))

  /** CCNet line-df boilerplate strip (Curation.boilerplateStrip): line
    * structure is synthesized deterministically onto each document — a
    * per-source copyright header (df = every doc, stripped), the document
    * body (df ≈ 1, kept), a newsletter plug on ids ≡0 mod 3 (df ≈ 1/3 of
    * the source > the 25% threshold, stripped) and a low-df "sig-k" line
    * (df 1-2, under the fraction threshold even when it passes the minDf
    * floor, kept) — so every rule branch is exercised. Reported per
    * source; reconstructed doc contents are pinned by an order-independent
    * md5-int32 SUM (q91's per-shard-order pattern). Unlike q79's
    * keep-first paragraph dedup, a flagged line vanishes from EVERY doc,
    * first copy included.
    */
  val q266Boilerplate = QueryDef(
    "q266_boilerplate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val lined = concat_ws("\n",
        concat(lit("(c) 2026 "), col("source"), lit(" media group")),
        col("text"),
        when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter today")),
        concat(lit("sig-"), (col("doc_id") % 50).cast("string")))
      Curation.boilerplateStrip(docs.withColumn("__lined", lined),
          "doc_id", "source", col("__lined"), minDf = 2, maxDfFrac = 0.25)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_lines")).cast("bigint").as("n_lines"),
          sum(col("n_removed")).cast("bigint").as("n_removed"),
          sum(graft.text.TextAnalysis.md5Int32(col("text")))
            .cast("bigint").as("text_hash_sum"))
        .orderBy("source")
    },
    Some("""WITH d AS (SELECT doc_id, source,
          concat_ws(chr(10),
            '(c) 2026 ' || source || ' media group',
            text,
            CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today' END,
            'sig-' || CAST(doc_id % 50 AS VARCHAR)) AS t
        FROM documents),
      l AS (SELECT doc_id, source, i AS pos, ls[i] AS line FROM (
          SELECT doc_id, source, string_split(t, chr(10)) AS ls,
            unnest(range(1, len(string_split(t, chr(10))) + 1)) AS i FROM d)),
      f AS (SELECT source, line, COUNT(*) AS df FROM (
          SELECT DISTINCT source, line, doc_id FROM l) GROUP BY 1, 2),
      n AS (SELECT source, COUNT(DISTINCT doc_id) AS nd FROM d GROUP BY 1),
      b AS (SELECT f.source, f.line FROM f JOIN n USING (source)
        WHERE f.df >= 2 AND f.df > n.nd * 0.25),
      k AS (SELECT l.doc_id, l.source, l.pos, l.line,
          (b.line IS NOT NULL) AS is_b
        FROM l LEFT JOIN b ON l.source = b.source AND l.line = b.line),
      r AS (SELECT doc_id, source,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          array_to_string(list(line ORDER BY pos) FILTER (NOT is_b), chr(10))
            AS text
        FROM k GROUP BY 1, 2)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_lines) AS BIGINT) AS n_lines,
        CAST(SUM(n_removed) AS BIGINT) AS n_removed,
        CAST(SUM(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
          AS text_hash_sum
      FROM r GROUP BY source ORDER BY source NULLS FIRST"""))

  override val defs: Seq[QueryDef] = Seq(q73DomainCap, q74Repetition,
    q75C4Filter, q76PiiRedact, q80MixRates, q82ChunkPack, q83ZValue,
    q85Decontam, q87HashSample, q88PackWindows, q90GopherRules, q91ShardAssign,
    q96CorpusDiff, q97CurationE2e, q100ChunkSliding, q101ConversationQa,
    q102NgramCharStats, q104DsirWeights, q105DsirResample, q109SplitAssign,
    q111LengthBuckets, q112ApproxAudit, q113UrlBlocklist, q115C4Lines,
    q116MixTokens, q118QualityClassifier, q119TemperatureMix, q128CcLuhn,
    q151WeightedSample, q152StratifiedSample, q188BudgetWaterfill,
    q266Boilerplate)
}
