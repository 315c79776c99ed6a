package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Aggregates.decAvg
import graft.text.TextAnalysis

/** Text-analysis operators over the documents table (north-star extensions:
  * token counting, language ID, quality scoring, fingerprinting).
  */
object TextQueries extends QueryGroup {

  /** Token/char statistics per language. */
  val q40TokenStats = QueryDef(
    "q40_token_stats",
    (s, d) => Tables.documents(s, d)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        max(col("n_tokens")).cast("int").as("max_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("lang"),
    Some("""SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
      CAST(MAX(len(string_split(text, ' '))) AS INT) AS max_tokens,
      CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
      FROM documents GROUP BY lang ORDER BY lang NULLS FIRST"""))

  /** Language-ID heuristic vs the labeled lang column (confusion counts). */
  val q41LangId = QueryDef(
    "q41_lang_id",
    (s, d) => Tables.documents(s, d)
      .withColumn("predicted", TextAnalysis.langId(col("text")))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "predicted"),
    Some {
      val scores = TextAnalysis.LangProfiles.map { case (l, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($arr, p -> list_contains(words, p))) AS s_$l"
      }.mkString(", ")
      val langs = TextAnalysis.LangProfiles.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
      s"""WITH w AS (SELECT lang, string_split(text, ' ') AS words FROM documents),
      sc AS (SELECT lang, $scores FROM w),
      p AS (SELECT lang, (CASE $cases ELSE 'und' END) AS predicted
            FROM (SELECT *, $m AS m FROM sc))
      SELECT lang, predicted, COUNT(*) AS cnt FROM p
      GROUP BY lang, predicted ORDER BY lang NULLS FIRST, predicted NULLS FIRST"""
    })

  /** Quality score (length prior + lexical diversity + stopword term),
    * averaged per source with exact decimal sums. */
  val q42QualityScore = QueryDef(
    "q42_quality_score",
    (s, d) => Tables.documents(s, d)
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .groupBy("source")
      .agg(decAvg(col("q"), 6).as("avg_quality"), count(lit(1)).as("n_docs"))
      .orderBy("source"),
    Some("""WITH sc AS (SELECT source,
        ROUND(0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
          + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE))
          + 0.3 * least(1.0,
              CAST(len(list_filter(['the', 'a', 'of', 'and', 'is', 'to'],
                p -> list_contains(string_split(text, ' '), p))) AS DOUBLE)
              * 10.0 / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS q
      FROM documents)
      SELECT source,
        CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(q) AS avg_quality,
        COUNT(*) AS n_docs
      FROM sc GROUP BY source ORDER BY source NULLS FIRST"""))

  /** 60-bit md5 document fingerprints: distinct/min/max per source. */
  val q43Fingerprint = QueryDef(
    "q43_fingerprint",
    (s, d) => Tables.documents(s, d)
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .groupBy("source")
      .agg(
        countDistinct(col("fp")).as("n_fp"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
      .orderBy("source"),
    Some("""SELECT source,
      CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp, MIN(fp) AS min_fp, MAX(fp) AS max_fp
      FROM (SELECT source, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp
            FROM documents)
      GROUP BY source ORDER BY source NULLS FIRST"""))

  /** True rolling-hash (Rabin-Karp) fingerprints via the codegen'd
    * RollingHash expression; oracle replays the recurrence with a recursive
    * CTE. */
  val q57RollingHash = QueryDef(
    "q57_rolling_hash",
    (s, d) => Tables.documents(s, d).filter(col("doc_id") < 100)
      .select(col("doc_id"), TextAnalysis.rollingHash(col("text")).as("rhash"))
      .orderBy("doc_id"),
    Some("""WITH RECURSIVE t AS (SELECT doc_id, text, len(text) AS n
              FROM documents WHERE doc_id < 100),
      r(doc_id, pos, h) AS (
        SELECT doc_id, 0, CAST(0 AS BIGINT) FROM t
        UNION ALL
        SELECT r.doc_id, r.pos + 1,
          (r.h * 257 + ord(substr(t.text, r.pos + 1, 1))) % 1000000007
        FROM r JOIN t USING (doc_id) WHERE r.pos < t.n)
      SELECT doc_id, h AS rhash FROM r JOIN t USING (doc_id)
      WHERE pos = n ORDER BY doc_id"""))

  /** Character-n-gram language-ID variant (trigram profiles) vs the labeled
    * lang column — the classic n-gram-profile heuristic next to q41's
    * stopword scorer. */
  val q70LangIdNgram = QueryDef(
    "q70_lang_id_ngram",
    (s, d) => Tables.documents(s, d)
      .withColumn("predicted", TextAnalysis.langIdNgram(col("text")))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "predicted"),
    Some {
      val scores = TextAnalysis.TrigramProfiles.map { case (l, gs) =>
        val arr = gs.map(g => s"'$g'").mkString("[", ", ", "]")
        s"len(list_filter($arr, p -> list_contains(grams, p))) AS s_$l"
      }.mkString(", ")
      val langs = TextAnalysis.TrigramProfiles.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = m AND m > 0 THEN '$l'").mkString(" ")
      s"""WITH g AS (SELECT lang,
            list_distinct(CASE WHEN len(text) >= 3
              THEN list_transform(range(1, len(text) - 1), i -> substr(text, i, 3))
              ELSE [] END) AS grams
            FROM documents),
      sc AS (SELECT lang, $scores FROM g),
      p AS (SELECT lang, (CASE $cases ELSE 'und' END) AS predicted
            FROM (SELECT *, $m AS m FROM sc))
      SELECT lang, predicted, COUNT(*) AS cnt FROM p
      GROUP BY lang, predicted ORDER BY lang NULLS FIRST, predicted NULLS FIRST"""
    })

  /** URL canonicalization (graft.text.UrlOps): messy synthetic crawl URLs —
    * mixed-case scheme/host, www prefixes, default ports, tracking params,
    * unsorted query strings, trailing slashes, fragments — collapse to one
    * canonical form per resource. The oracle runs the same RE2-compatible
    * regex pipeline in DuckDB; output is the canonical-URL histogram.
    */
  val q81UrlCanon = QueryDef(
    "q81_url_canon",
    (s, d) => {
      val k = col("o_orderkey")
      val url = concat(
        when(k % 2 === 0, lit("HTTPS")).otherwise(lit("http")), lit("://"),
        when(k % 3 === 0, lit("WWW.Example.COM")).otherwise(lit("docs.example.org")),
        when(k % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/Path/"), (k % 50).cast("string"),
        when(k % 4 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&b="), (k % 7).cast("string"), lit("&a=1"),
        when(k % 6 === 0, lit("#frag")).otherwise(lit("")))
      Tables.orders(s, d).select(url.as("u"))
        .select(graft.text.UrlOps.canonicalizeUrl(col("u")).as("canon_url"))
        .groupBy("canon_url").agg(count(lit(1)).as("n"))
        .orderBy("canon_url")
    },
    Some(s"""WITH u AS (SELECT
        (CASE WHEN o_orderkey % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        (CASE WHEN o_orderkey % 3 = 0 THEN 'WWW.Example.COM' ELSE 'docs.example.org' END) ||
        (CASE WHEN o_orderkey % 5 = 0 THEN ':443' ELSE '' END) ||
        '/Path/' || CAST(o_orderkey % 50 AS VARCHAR) ||
        (CASE WHEN o_orderkey % 4 = 0 THEN '/' ELSE '' END) ||
        '?utm_source=feed&b=' || CAST(o_orderkey % 7 AS VARCHAR) || '&a=1' ||
        (CASE WHEN o_orderkey % 6 = 0 THEN '#frag' ELSE '' END) AS u
        FROM orders),
      c AS (SELECT
        sch || '://' ||
        (CASE WHEN sch = 'http' THEN regexp_replace(hostw, ':80$$', '')
              WHEN sch = 'https' THEN regexp_replace(hostw, ':443$$', '')
              ELSE hostw END) ||
        regexp_replace(
          regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
          '/$$', '') ||
        (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END)
          AS canon_url
        FROM (SELECT u,
          lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
          regexp_replace(
            lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
            '^www\\.', '') AS hostw,
          list_sort(list_filter(
            string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'),
            p -> len(p) > 0 AND NOT regexp_matches(p,
              '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)=')))
          AS kept FROM u))
      SELECT canon_url, COUNT(*) AS n FROM c
      GROUP BY canon_url ORDER BY canon_url"""))

  /** BM25 top-20 (graft.text.Retrieval): bag-of-words corpus search with
    * Lucene-style idf — query-term filter BEFORE any shuffle, so work is
    * proportional to the terms' posting lists. Exact oracle: DuckDB
    * recomputes tf/df/dl and the same closed-form score.
    */
  val q86Bm25 = QueryDef(
    "q86_bm25_topk",
    (s, d) => graft.text.Retrieval.bm25(
      Tables.documents(s, d), "doc_id", col("text"),
      Seq("spark", "shuffle", "window"))
      .orderBy(col("score").desc, col("doc_id")).limit(20),
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
          len(string_split(text, ' ')) AS dl
        FROM documents),
      stats AS (SELECT COUNT(*) AS n,
          CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
        FROM documents),
      tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM t
        WHERE term IN ('spark', 'shuffle', 'window')
        GROUP BY doc_id, dl, term),
      dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      sc AS (SELECT doc_id,
          ln((n - df + 0.5) / (df + 0.5) + 1.0)
            * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
          AS s
        FROM tf JOIN dft USING (term), stats)
      SELECT doc_id, ROUND(SUM(s), 6) AS score FROM sc
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""))

  /** Unigram-LM perplexity proxy: corpus-trained token frequencies score
    * each doc's length-normalized NLL; the 20 most "surprising" documents.
    * Decimal-cast term sums make the float total order-independent. */
  val q89UnigramNll = QueryDef(
    "q89_unigram_nll",
    (s, d) => TextAnalysis.unigramNll(Tables.documents(s, d), "doc_id", col("text"))
      .orderBy(col("nll").desc, col("doc_id")).limit(20),
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
      tt AS (SELECT doc_id, tok FROM t WHERE len(tok) > 0),
      dt AS (SELECT doc_id, tok, COUNT(*) AS n FROM tt GROUP BY doc_id, tok),
      tf AS (SELECT tok, CAST(SUM(n) AS BIGINT) AS c FROM dt GROUP BY tok),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM tf)
      SELECT doc_id,
        ROUND(CAST(SUM(CAST(n * -ln(CAST(c AS DOUBLE) / total)
            AS DECIMAL(38,12))) AS DOUBLE) / CAST(SUM(n) AS BIGINT), 6) AS nll,
        CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM dt JOIN tf USING (tok), tot
      GROUP BY doc_id ORDER BY nll DESC, doc_id LIMIT 20"""))

  /** HTML → text extraction (text.HtmlText): the WET-generation step.
    * HTML is synthesized deterministically around each document (title,
    * style/script subtrees, comments, entities, block tags), then both
    * engines run the same RE2 extraction chain — md5-compared output. */
  /** Unicode-noise suffix exercising every normalizeText rule: curly
    * quotes, em dash, ellipsis, NBSP, a zero-width split, a control byte
    * (appended engine-side: Scala escape / DuckDB chr(7)). */
  private val NormNoise = " \u201Cq\u201D \u2014 x\u2026\u00A0y\u200Bz 5\u20329\u2033\u2028p\u0085q\u009Cr"

  /** Unicode text normalization (TextAnalysis.normalizeText): documents
    * salted with the full noise alphabet, normalized, md5-compared
    * cross-engine — the canonical form every dedup/hash key depends on.
    * The DuckDB oracle replays the regex chain with RE2 \x{...} classes. */
  val q123TextNormalize = QueryDef(
    "q123_text_normalize",
    (s, d) => Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), TextAnalysis.normalizeText(
        concat(col("text"), lit(NormNoise + "\u0007"))).as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
        length(col("norm")).cast("bigint").as("n_chars"))
      .orderBy("doc_id"),
    Some(s"""WITH r AS (SELECT doc_id, text || '$NormNoise' || chr(7) AS raw
          FROM documents WHERE doc_id < 200),
      n1 AS (SELECT doc_id, regexp_replace(raw,
          '[\\x{2018}\\x{2019}\\x{201A}\\x{201B}\\x{2032}]', '''', 'g') AS t FROM r),
      n2 AS (SELECT doc_id, regexp_replace(t,
          '[\\x{201C}\\x{201D}\\x{201E}\\x{201F}\\x{2033}]', '"', 'g') AS t FROM n1),
      n3 AS (SELECT doc_id, regexp_replace(t,
          '[\\x{2010}-\\x{2015}\\x{2212}]', '-', 'g') AS t FROM n2),
      n4 AS (SELECT doc_id, regexp_replace(t, '\\x{2026}', '...', 'g') AS t FROM n3),
      n5 AS (SELECT doc_id, regexp_replace(t,
          '[\\x{00A0}\\x{0085}\\x{1680}\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]', ' ', 'g')
          AS t FROM n4),
      n6 AS (SELECT doc_id, regexp_replace(t,
          '[\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g') AS t FROM n5),
      n7 AS (SELECT doc_id, regexp_replace(t,
          '[\\x{0001}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}\\x{0080}-\\x{0084}\\x{0086}-\\x{009F}]',
          '', 'g') AS t FROM n6),
      n8 AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS norm
          FROM n7)
      SELECT doc_id, md5(norm) AS norm_md5,
        CAST(len(norm) AS BIGINT) AS n_chars
      FROM n8 ORDER BY doc_id"""))

  val q93HtmlExtract = QueryDef(
    "q93_html_extract",
    (s, d) => {
      import graft.text.HtmlText
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" &amp; more</title><style>p{color:red}</style>" +
          "<script>var x=1&&2;</script></head><body><!-- nav --><p>"),
        col("text"),
        lit("</p><div>tail &lt;b&gt;&nbsp;end</div></body></html>"))
      Tables.documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          HtmlText.htmlTitle(html).as("title"),
          length(HtmlText.htmlToText(html)).cast("bigint").as("text_len"),
          md5(HtmlText.htmlToText(html)).as("text_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT doc_id,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
        || ' &amp; more</title><style>p{color:red}</style>'
        || '<script>var x=1&&2;</script></head><body><!-- nav --><p>'
        || text || '</p><div>tail &lt;b&gt;&nbsp;end</div></body></html>' AS html
      FROM documents WHERE doc_id < 50),
      s1 AS (SELECT doc_id, html, regexp_replace(html,
        '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h),
      s2 AS (SELECT doc_id, html,
        regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s1),
      s3 AS (SELECT doc_id, html, regexp_replace(t,
        '(?i)<br[^>]*>|</p>|</div>|</h[1-6]>|</li>|</tr>', chr(10), 'g') AS t
        FROM s2),
      s4 AS (SELECT doc_id, html,
        regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s3),
      s5 AS (SELECT doc_id, html,
        replace(replace(replace(replace(replace(replace(t,
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
          '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
      s6 AS (SELECT doc_id, html,
        trim(regexp_replace(regexp_replace(t, '[ \t]+', ' ', 'g'),
          ' *\n[ \n]*', chr(10), 'g')) AS txt FROM s5)
      SELECT doc_id,
        trim(regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)) AS title,
        CAST(len(txt) AS BIGINT) AS text_len,
        md5(txt) AS text_md5
      FROM s6 ORDER BY doc_id"""))

  /** Corpus report card: the per-source health dashboard a curation run
    * publishes — docs, tokens, chars, exact-dup rate, language spread,
    * median doc length, mean quality — ALL from one groupBy (a single
    * shuffle, one pass over the corpus; no per-metric jobs). */
  val q94CorpusReport = QueryDef(
    "q94_corpus_report",
    (s, d) => Tables.documents(s, d)
      .withColumn("nt", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("h", md5(col("text")))
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"),
        countDistinct(col("lang")).as("n_langs"),
        round(expr("percentile(nt, 0.5)"), 6).as("p50_tokens"),
        decAvg(col("q"), 6).as("avg_quality"))
      .orderBy("source"),
    Some("""WITH b AS (SELECT source, lang, n_chars,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        md5(text) AS h,
        ROUND(0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
          + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE))
          + 0.3 * least(1.0,
              CAST(len(list_filter(['the', 'a', 'of', 'and', 'is', 'to'],
                p -> list_contains(string_split(text, ' '), p))) AS DOUBLE)
              * 10.0 / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS q
      FROM documents)
      SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS n_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        ROUND(quantile_cont(nt, 0.5), 6) AS p50_tokens,
        CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(q) AS avg_quality
      FROM b GROUP BY source ORDER BY source NULLS FIRST"""))

  /** One BPE learning round as three DuckDB CTEs: adjacent-pair counts
    * weighted by word freq, the (n DESC, a, b) argmax, and the greedy
    * left-to-right merge application — `list_reduce` over single-element
    * lists replays EXACTLY the fold `Bpe.applyMerge`/learnMerges use, so
    * the whole iterative learning loop unrolls into an exact oracle (the
    * same move q117 makes for Lloyd iterations). */
  private def bpeRoundSql(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS n FROM (
          SELECT freq, syms[i] AS a, syms[i+1] AS b
          FROM $prev, UNNEST(range(1, len(syms))) AS t(i)) GROUP BY a, b),
      m$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
      w$r AS (SELECT w, freq,
          list_reduce(list_transform(syms, s -> [s]),
            (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a AND x[1] = m.b
              THEN list_append(acc[1:len(acc)-1], m.a || m.b)
              ELSE list_append(acc, x[1]) END) AS syms
        FROM $prev, m$r m)"""
  }

  /** Learned BPE merge table (text.Bpe.learnMerges): one distributed pair
    * aggregate per round over the collapsed (word, freq) table.
    * Deterministic under any partition layout: the per-round argmax
    * total-orders on (freq desc, left, right). FULLY ORACLED since round 4:
    * the DuckDB oracle unrolls all 8 learning rounds CTE-for-CTE
    * ([[bpeRoundSql]]) — pair counts, argmax, greedy merge application —
    * so "iterative" no longer means "rows-only". The hand-computed golden
    * merge sequence stays pinned in TextDedupSpec as a second witness. */
  val q95BpeMerges = QueryDef(
    "q95_bpe_merges",
    (s, d) => {
      import s.implicits._
      graft.text.Bpe.learnMerges(Tables.documents(s, d), col("text"), 8)
        .zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
        .toDF("rank", "left", "right", "pair_freq")
    },
    Some("""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
          list_append(list_transform(range(1, len(w)+1), i -> w[i:i]), '</w>') AS syms
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      """ + (1 to 8).map(bpeRoundSql).mkString(",\n      ") + "\n      " +
      (1 to 8).map(r =>
        s"""SELECT $r AS rank, a AS "left", b AS "right", n AS pair_freq FROM m$r""")
        .mkString(" UNION ALL ") + " ORDER BY rank"))

  /** BPE ENCODE over the corpus with the 8 learned merges — the other half
    * of the tokenizer (q95 learns, this applies) through the UDF-free
    * native Column chain. The oracle re-derives the merges with the same
    * unrolled CTEs and then exploits a closure property instead of
    * re-encoding: the final learning word table w8 IS word→symbols under
    * the learned merges, so encoding = per-doc ordered join of words
    * against w8. Output md5-compresses each doc's token sequence. */
  val q127BpeEncode = QueryDef(
    "q127_bpe_encode",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.Bpe.learnMerges(docs, col("text"), 8)
      graft.text.Bpe.encode(docs.filter(col("doc_id") < 50), col("text"), merges)
        .select(col("doc_id"), col("n_bpe_tokens"),
          md5(concat_ws("|", col("bpe_tokens"))).as("tokens_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
          list_append(list_transform(range(1, len(w)+1), i -> w[i:i]), '</w>') AS syms
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      """ + (1 to 8).map(bpeRoundSql).mkString(",\n      ") + """,
      dw AS (SELECT doc_id, i, string_split(text, ' ')[i] AS w
        FROM documents, UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS t(i)
        WHERE doc_id < 50),
      flat AS (SELECT d.doc_id, flatten(list(w8.syms ORDER BY d.i)) AS toks
        FROM dw d JOIN w8 ON w8.w = d.w
        WHERE len(d.w) > 0 GROUP BY d.doc_id)
      SELECT a.doc_id,
        CAST(COALESCE(len(f.toks), 0) AS INT) AS n_bpe_tokens,
        md5(COALESCE(array_to_string(f.toks, '|'), '')) AS tokens_md5
      FROM (SELECT doc_id FROM documents WHERE doc_id < 50) a
      LEFT JOIN flat f USING (doc_id) ORDER BY a.doc_id"""))

  /** Viterbi DP chain SQL for the unigram-tokenizer oracles: forward CTEs
    * <tag>f0..<tag>fW (state = bests/backs lists, one list_append per
    * position; candidates = the ≤ maxPieceLen pieces ending at the
    * position, each ROUND-6 of bests[i] + map score, argmax ties broken
    * LONGEST-FIRST via the CASE order) over word table `wordsCte` with
    * the single-row score-map CTE `mapCte`; then backtrack CTEs
    * <tag>b0..<tag>bW, ending at <tag>seg (w, freq, pieces) — char-split
    * rows for words beyond maxWordLen unioned in, matching
    * Unigram.segmentWordColumn's fallback. Every step is MATERIALIZED:
    * each references its predecessor's columns several times and the
    * inliner would otherwise expand the chain multiplicatively (the q280
    * lesson). Cells past a word's length are harmless garbage both here
    * and in the engine — the backtrack starts at len(w) and only ever
    * moves left, so they are never read. */
  private def unigramDpSql(tag: String, wordsCte: String, mapCte: String,
      maxPieceLen: Int, maxWordLen: Int): String = {
    val fwd = (1 to maxWordLen).map { j =>
      val pls = 1 to math.min(maxPieceLen, j)
      val candDefs = pls.map { pl =>
        val lo = j - pl + 1
        s"""CASE WHEN len(m[w[$lo:$j]]) > 0
            THEN ROUND(bests[$lo] + m[w[$lo:$j]][1], 6) END AS c$pl"""
      }.mkString(", ")
      val cs = pls.map(p => s"c$p").mkString(", ")
      val bj = if (pls.size == 1) "c1" else s"greatest($cs)"
      val bk = pls.reverse.map(pl => s"WHEN c$pl = bj THEN $pl").mkString(" ")
      s"""${tag}f$j AS MATERIALIZED (SELECT w, freq,
          list_append(bests, bj) AS bests,
          list_append(backs, CASE $bk END) AS backs
        FROM (SELECT w, freq, bests, backs, $bj AS bj, $cs FROM (
          SELECT w, freq, bests, backs, $candDefs
          FROM ${tag}f${j - 1}, $mapCte)))"""
    }.mkString(",\n      ")
    val back = (1 to maxWordLen).map { k =>
      s"""${tag}b$k AS MATERIALIZED (SELECT w, freq, backs,
          CASE WHEN pos > 0 THEN pos - backs[pos + 1] ELSE pos END AS pos,
          CASE WHEN pos > 0
            THEN list_prepend(w[pos - backs[pos + 1] + 1:pos], pieces)
            ELSE pieces END AS pieces
        FROM ${tag}b${k - 1})"""
    }.mkString(",\n      ")
    s"""${tag}f0 AS (SELECT w, freq, [CAST(0 AS DOUBLE)] AS bests,
        [0] AS backs FROM $wordsCte WHERE len(w) <= $maxWordLen),
      $fwd,
      ${tag}b0 AS (SELECT w, freq, backs, len(w) AS pos,
        CAST([] AS VARCHAR[]) AS pieces FROM ${tag}f$maxWordLen),
      $back,
      ${tag}seg AS (SELECT w, freq, pieces FROM ${tag}b$maxWordLen
        UNION ALL
        SELECT w, freq,
          list_transform(range(1, len(w) + 1), i -> w[i:i]) AS pieces
        FROM $wordsCte WHERE len(w) > $maxWordLen)"""
  }

  /** Full unigram hard-EM learn replay (Unigram.learn semantics, CTE for
    * CTE): word table, weighted substring seed + top-seedSize ∪ chars cut,
    * round-6 seed scores, then `rounds` EM rounds — score map, Viterbi DP
    * chain, usage aggregate, zero-usage prune (chars immune), char-floor
    * adj, round-6 rescore — ending at `ufin` (p, usage, adj): the
    * top-vocabSize ∪ chars final cut awaiting renormalization. */
  private def unigramLearnCtes(maxPieceLen: Int, seedSize: Int,
      vocabSize: Int, rounds: Int, maxWordLen: Int): String = {
    val adj = "usage + CASE WHEN len(p) = 1 THEN 1 ELSE 0 END"
    val roundsSql = (1 to rounds).map { r =>
      val pv = s"v${r - 1}"
      s"""um$r AS (SELECT map(list(p ORDER BY p), list(s ORDER BY p)) AS m
          FROM $pv),
        ${unigramDpSql(s"u${r}d", "wt", s"um$r", maxPieceLen, maxWordLen)},
        uu$r AS (SELECT p, CAST(SUM(freq) AS BIGINT) AS usage FROM
          (SELECT freq, unnest(pieces) AS p FROM u${r}dseg) GROUP BY p),
        uk$r AS (SELECT $pv.p, COALESCE(u.usage, CAST(0 AS BIGINT)) AS usage
          FROM $pv LEFT JOIN uu$r u USING (p)
          WHERE COALESCE(u.usage, 0) > 0 OR len($pv.p) = 1),
        v$r AS MATERIALIZED (SELECT p, ROUND(ln(CAST($adj AS DOUBLE) /
            CAST((SELECT SUM($adj) FROM uk$r) AS DOUBLE)), 6) AS s, usage
          FROM uk$r)"""
    }.mkString(",\n      ")
    s"""wt AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM
        (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      sc AS MATERIALIZED (SELECT p, CAST(SUM(freq) AS BIGINT) AS cnt FROM
        (SELECT freq, unnest(flatten(list_transform(range(1, len(w) + 1),
          i -> list_transform(range(1, least($maxPieceLen, len(w) - i + 1) + 1),
            l -> w[i:i+l-1])))) AS p FROM wt) GROUP BY p),
      ks AS MATERIALIZED (
        SELECT p, cnt FROM
          (SELECT p, cnt FROM sc ORDER BY cnt DESC, p LIMIT $seedSize)
        UNION
        SELECT p, cnt FROM sc WHERE len(p) = 1),
      v0 AS MATERIALIZED (SELECT p, ROUND(ln(CAST(cnt AS DOUBLE) /
          CAST((SELECT SUM(cnt) FROM ks) AS DOUBLE)), 6) AS s,
        CAST(0 AS BIGINT) AS usage FROM ks),
      $roundsSql,
      ufin AS MATERIALIZED (SELECT p, usage, adj FROM (
        SELECT p, usage, $adj AS adj,
          ROW_NUMBER() OVER (ORDER BY ($adj) DESC, p) AS rn
        FROM v$rounds) WHERE rn <= $vocabSize OR len(p) = 1)"""
  }

  /** Unigram-LM tokenizer LEARN (text.Unigram.learn, the SentencePiece
    * family via deterministic hard EM): seed substring counts → 2
    * Viterbi-EM rounds → final vocab with raw usage and renormalized
    * round-6 log-probs. FULLY ORACLED: the DuckDB side unrolls the seed
    * cut, both EM rounds (score maps, the per-word Viterbi DP position by
    * position, usage counts, the char-floor rescore) and the final
    * top-vocabSize ∪ chars cut CTE for CTE — the q95 discipline applied
    * to a dynamic-programming tokenizer. The hand-computed trajectory is
    * additionally pinned in UnigramSpec. */
  val q291UnigramLearn = QueryDef(
    "q291_unigram_learn",
    (s, d) => {
      import s.implicits._
      graft.text.Unigram.learn(Tables.documents(s, d), col("text"),
        maxPieceLen = 4, seedSize = 200, vocabSize = 48, rounds = 2,
        maxWordLen = 16)
        .toDF("piece", "usage", "logp")
        .orderBy("piece")
    },
    Some(s"""WITH ${unigramLearnCtes(4, 200, 48, 2, 16)}
      SELECT p AS piece, usage, ROUND(ln(CAST(adj AS DOUBLE) /
          CAST((SELECT SUM(adj) FROM ufin) AS DOUBLE)), 6) + 0.0 AS logp
      FROM ufin ORDER BY piece"""))

  /** Unigram-LM tokenizer ENCODE (text.Unigram.encode): Viterbi-best
    * segmentation of every document under the q291-learned vocabulary,
    * through the UDF-free native Column DP (one aggregate HOF per word —
    * whole-stage codegen; the mapPartitions twin for production-size
    * vocabs is spec-pinned identical). The oracle re-learns with the same
    * unrolled CTEs, builds the final score map, and replays the encode DP
    * over the word table — documents then reassemble by position exactly
    * as in q127. */
  val q292UnigramEncode = QueryDef(
    "q292_unigram_encode",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = graft.text.Unigram.learn(docs, col("text"),
        maxPieceLen = 4, seedSize = 200, vocabSize = 48, rounds = 2,
        maxWordLen = 16)
      graft.text.Unigram.encode(docs.filter(col("doc_id") < 50),
        col("text"), vocab, maxPieceLen = 4, maxWordLen = 16)
        .select(col("doc_id"), col("n_unigram_tokens"),
          md5(concat_ws("|", col("unigram_tokens"))).as("tokens_md5"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${unigramLearnCtes(4, 200, 48, 2, 16)},
      emap AS (SELECT map(list(p ORDER BY p), list(lp ORDER BY p)) AS m
        FROM (SELECT p, ROUND(ln(CAST(adj AS DOUBLE) /
          CAST((SELECT SUM(adj) FROM ufin) AS DOUBLE)), 6) AS lp FROM ufin)),
      ${unigramDpSql("e", "wt", "emap", 4, 16)},
      dw AS (SELECT doc_id, i, string_split(text, ' ')[i] AS w
        FROM documents, UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS t(i)
        WHERE doc_id < 50),
      flat AS (SELECT d.doc_id, flatten(list(es.pieces ORDER BY d.i)) AS toks
        FROM dw d JOIN eseg es ON es.w = d.w
        WHERE len(d.w) > 0 GROUP BY d.doc_id)
      SELECT a.doc_id,
        CAST(COALESCE(len(f.toks), 0) AS INT) AS n_unigram_tokens,
        md5(COALESCE(array_to_string(f.toks, '|'), '')) AS tokens_md5
      FROM (SELECT doc_id FROM documents WHERE doc_id < 50) a
      LEFT JOIN flat f USING (doc_id) ORDER BY a.doc_id"""))

  /** BPE ENCODE FROM A SAVED ARTIFACT (Bpe.saveMerges/loadMerges +
    * IndexCache): the build-once/encode-many form of q127, completing the
    * build-once discipline for the tokenizer family — the merge table is
    * learned and persisted ONCE per scale dir (content-fingerprint cached,
    * crash-safe atomic publish — the q143/q288 pattern), then every
    * execution only loads the tiny ordered artifact and encodes. Identical
    * semantics to q127, so the SAME oracle applies; the timing difference
    * between q127 and this query IS the amortized learning cost (encode
    * cost tracks the INPUT batch, not the training corpus). */
  val q298BpeEncodeSaved = QueryDef(
    "q298_bpe_encode_saved",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val artDir = IndexCache.cachedDir(s, s"$d/documents.parquet",
        IndexCache.tagFor("graft_bpe_v1_", d, "merges=8")) { tmpDir =>
        graft.text.Bpe.saveMerges(s,
          graft.text.Bpe.learnMerges(docs, col("text"), 8), s"$tmpDir/merges")
      }
      val merges = graft.text.Bpe.loadMerges(s, s"$artDir/merges")
      graft.text.Bpe.encode(docs.filter(col("doc_id") < 50), col("text"),
          merges)
        .select(col("doc_id"), col("n_bpe_tokens"),
          md5(concat_ws("|", col("bpe_tokens"))).as("tokens_md5"))
        .orderBy("doc_id")
    },
    q127BpeEncode.oracle)

  /** Unigram ENCODE FROM A SAVED ARTIFACT (Unigram.save/load +
    * IndexCache): q292's build-once twin — the learned vocabulary
    * (piece, usage, logp) persists once per scale dir and every execution
    * only loads it and runs the Viterbi encode. Same semantics as q292,
    * same oracle; the q298 convention on the unigram rung. */
  val q299UnigramEncodeSaved = QueryDef(
    "q299_unigram_encode_saved",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val artDir = IndexCache.cachedDir(s, s"$d/documents.parquet",
        IndexCache.tagFor("graft_unigram_v1_", d,
          "maxPieceLen=4 seedSize=200 vocabSize=48 rounds=2 maxWordLen=16")) { tmpDir =>
        graft.text.Unigram.save(s,
          graft.text.Unigram.learn(docs, col("text"), maxPieceLen = 4,
            seedSize = 200, vocabSize = 48, rounds = 2, maxWordLen = 16),
          s"$tmpDir/vocab")
      }
      val vocab = graft.text.Unigram.load(s, s"$artDir/vocab")
      graft.text.Unigram.encode(docs.filter(col("doc_id") < 50),
          col("text"), vocab, maxPieceLen = 4, maxWordLen = 16)
        .select(col("doc_id"), col("n_unigram_tokens"),
          md5(concat_ws("|", col("unigram_tokens"))).as("tokens_md5"))
        .orderBy("doc_id")
    },
    q292UnigramEncode.oracle)

  /** Alphabetical-scan argmax over per-script char counts as nested SQL
    * CASE: the alphabetically first name whose count is >= all others
    * wins — identical to dominantScript's least-struct tie-break toward
    * the smaller NAME. Names are sorted HERE (not trusted from the input
    * Seq) so a future out-of-alphabetical-order ScriptRanges entry cannot
    * silently diverge the two tie-breaks. */
  private def dominantSql(names: Seq[String]): String = {
    val ordered = names.sorted
    val none = ordered.map(n => s"${n}_chars = 0").mkString(" AND ")
    val cases = ordered.map { n =>
      val ge = ordered.filter(_ != n)
        .map(m => s"${n}_chars >= ${m}_chars").mkString(" AND ")
      s"WHEN $ge THEN '$n'"
    }.mkString(" ")
    // ELSE 'none': an all-NULL count row (every text in the group NULL)
    // falls through every NULL-valued WHEN — dominantScript's
    // when(-best.negn > 0).otherwise("none") lands on 'none' there too
    s"CASE WHEN $none THEN 'none' $cases ELSE 'none' END"
  }

  /** Writing-system detection: per-language corpus totals of characters in
    * each script's codepoint ranges plus the dominant script — the
    * zero-model router that splits a multilingual crawl into script
    * streams. Ranges interpolate into the oracle as literal BMP intervals,
    * so Java regex and RE2 run the IDENTICAL pattern (\p{Script} spellings
    * differ between the engines and are deliberately avoided). */
  val q129ScriptShares = QueryDef(
    "q129_script_shares",
    (s, d) => {
      // ONE CharClassCounts pass per document (projected BEFORE the agg so
      // the array is computed once, not re-derived per aggregate input),
      // replacing six regexp_replace passes + six stripped-string copies
      // per doc — same values, spec-pinned parity with scriptCount
      val counts = TextAnalysis.ScriptRanges.zipWithIndex.map {
        case ((n, _), i) =>
          sum(element_at(col("__sc"), i + 1).cast("bigint"))
            .cast("bigint").as(s"${n}_chars")
      }
      Tables.documents(s, d)
        .withColumn("__sc", TextAnalysis.scriptCounts(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), counts: _*)
        .withColumn("dominant", TextAnalysis.dominantScript(
          TextAnalysis.ScriptRanges.map { case (n, _) => n -> col(s"${n}_chars") }))
        .orderBy("lang")
    },
    Some(s"""WITH g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        ${TextAnalysis.ScriptRanges.map { case (n, r) =>
          s"CAST(SUM(len(regexp_replace(text, '[^$r]', '', 'g'))) AS BIGINT) AS ${n}_chars"
        }.mkString(",\n        ")}
      FROM documents GROUP BY lang)
      SELECT lang, n_docs,
        ${TextAnalysis.ScriptRanges.map { case (n, _) => s"${n}_chars" }.mkString(", ")},
        ${dominantSql(TextAnalysis.ScriptRanges.map(_._1))} AS dominant
      FROM g ORDER BY lang NULLS FIRST"""))

  /** INCREMENTAL report maintenance: the corpus splits into an existing
    * partition and a new batch; each side aggregates independently to
    * distributive partials (counts, token/char/quality sums) and the
    * published report MERGES the partials — the daily-batch dashboard
    * pattern that never rescans the historical corpus. The oracle computes
    * the same report from the FULL union in one pass: merged partials must
    * equal the full recompute exactly (sums are decimal ⇒ associative).
    * Derived ratios (avg quality) come from merged sums, not averaged
    * averages. */
  val q99IncrementalReport = QueryDef(
    "q99_incremental_report",
    (s, d) => {
      val docs = Tables.documents(s, d)
      def partial(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("nt", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          sum(col("q").cast("decimal(28,6)")).as("q_sum"))
      val existing = partial(docs.filter(col("doc_id") % 5 =!= 0))
      val batch = partial(docs.filter(col("doc_id") % 5 === 0))
      existing.unionByName(batch)
        .groupBy("source")
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          sum(col("q_sum")).as("__qs"))
        .withColumn("avg_quality",
          col("__qs").cast("double") / col("n_docs"))
        .drop("__qs")
        .orderBy("source")
    },
    Some("""WITH sc AS (SELECT source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        ROUND(0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
          + 0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE))
          + 0.3 * least(1.0,
              CAST(len(list_filter(['the', 'a', 'of', 'and', 'is', 'to'],
                p -> list_contains(string_split(text, ' '), p))) AS DOUBLE)
              * 10.0 / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS q
      FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS n_tokens,
        CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_quality
      FROM sc GROUP BY source ORDER BY source NULLS FIRST"""))

  /** Interpolated bigram-LM NLL (λ=0.9): the 20 most surprising documents
    * by transition likelihood. Same float contract as q89. */
  val q103BigramNll = QueryDef(
    "q103_bigram_nll",
    (s, d) => TextAnalysis.bigramNll(Tables.documents(s, d), "doc_id", col("text"))
      .orderBy(col("nll").desc, col("doc_id")).limit(20),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      db AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2,
          CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(ws)),
            i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
          FROM t WHERE len(ws) >= 2) q
        GROUP BY doc_id, p.w1, p.w2),
      bi AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM db GROUP BY w1, w2),
      u1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY w1),
      u2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM bi GROUP BY w2),
      tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS total FROM bi),
      sc AS (SELECT doc_id, n,
          CAST(c12 AS DOUBLE) / c1 * 0.9
            + (CAST(c2 AS DOUBLE) / total) * 0.09999999999999998 AS p
        FROM db JOIN bi USING (w1, w2) JOIN u1 USING (w1) JOIN u2 USING (w2), tot)
      SELECT doc_id,
        ROUND(CAST(SUM(CAST(n * -ln(p) AS DECIMAL(38,12))) AS DOUBLE)
          / CAST(SUM(n) AS BIGINT), 6) AS nll,
        CAST(SUM(n) AS BIGINT) AS n_bigrams
      FROM sc GROUP BY doc_id ORDER BY nll DESC, doc_id LIMIT 20"""))

  /** Kneser-Ney bigram NLL (D=0.75): the 20 most surprising documents
    * under the industry-standard perplexity-filter smoothing —
    * continuation probabilities instead of raw frequency for the backoff
    * mass (TextAnalysis.knBigramNll). Same float contract as q103. */
  val q259KnBigramNll = QueryDef(
    "q259_kn_bigram_nll",
    (s, d) => TextAnalysis.knBigramNll(Tables.documents(s, d), "doc_id",
        col("text"))
      .orderBy(col("nll").desc, col("doc_id")).limit(20),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      db AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2,
          CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(ws)),
            i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
          FROM t WHERE len(ws) >= 2) q
        GROUP BY doc_id, p.w1, p.w2),
      bi AS (SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM db GROUP BY w1, w2),
      fwd AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
          CAST(COUNT(*) AS BIGINT) AS nf FROM bi GROUP BY w1),
      bwd AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM bi GROUP BY w2),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM bi),
      sc AS (SELECT doc_id, n,
          GREATEST(CAST(c12 AS DOUBLE) - 0.75, 0.0) / c1
            + (0.75 * nf / c1) * (CAST(nb AS DOUBLE) / ntypes) AS p
        FROM db JOIN bi USING (w1, w2) JOIN fwd USING (w1)
          JOIN bwd USING (w2), tot)
      SELECT doc_id,
        ROUND(CAST(SUM(CAST(n * -ln(p) AS DECIMAL(38,12))) AS DOUBLE)
          / CAST(SUM(n) AS BIGINT), 6) AS nll,
        CAST(SUM(n) AS BIGINT) AS n_bigrams
      FROM sc GROUP BY doc_id ORDER BY nll DESC, doc_id LIMIT 20"""))

  /** Top-20 collocations by pointwise mutual information
    * (TextAnalysis.pmiCollocations): PMI over the bigram event space with
    * c12 >= 5, 6-rounded, word-tie-broken — the phrase-mining signal a
    * tokenizer/vocab pipeline reads. One corpus explode; marginals derive
    * from the vocab-sized bigram table; top-k is a TakeOrdered heap. */
  val q171PmiCollocations = QueryDef(
    "q171_pmi_collocations",
    (s, d) => TextAnalysis.pmiCollocations(Tables.documents(s, d), col("text")),
    Some("""WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
      bi AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM (SELECT unnest(list_transform(range(1, len(ws)),
            i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
          FROM t WHERE len(ws) >= 2) q
        GROUP BY p.w1, p.w2),
      u1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY w1),
      u2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM bi GROUP BY w2),
      tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS total FROM bi)
      SELECT w1, w2, c12,
        ROUND(LN((CAST(c12 AS DOUBLE) * CAST(total AS DOUBLE))
          / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
      FROM bi JOIN u1 USING (w1) JOIN u2 USING (w2), tot
      WHERE c12 >= 5
      ORDER BY pmi DESC, w1, w2 LIMIT 20"""))

  /** CCNet-style perplexity buckets: split the corpus into head / middle /
    * tail terciles of the unigram-LM NLL (CCNet §4.3 quality partitioning).
    * Cutoffs come from TWO exact percentiles collected once and broadcast
    * back as a projection predicate — no global sort, no ntile window over
    * the corpus (a global ntile would funnel every row through one
    * partition; the cutoff comparison is embarrassingly parallel).
    */
  val q106PplBuckets = QueryDef(
    "q106_ppl_buckets",
    (s, d) => {
      // materialized once: the cutoff aggregate AND the bucket assignment
      // both read the per-doc NLL table — uncached, the whole scoring join
      // would replay per consumer
      val nll = TextAnalysis.unigramNll(Tables.documents(s, d), "doc_id", col("text"))
        .localCheckpoint(true)
      val cuts = nll.agg(
        percentile(col("nll"), lit(1.0 / 3)).as("c1"),
        percentile(col("nll"), lit(2.0 / 3)).as("c2"))
      nll.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          when(col("nll") <= col("c1"), "head")
            .when(col("nll") <= col("c2"), "middle")
            .otherwise("tail"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          round(min(col("nll")), 6).as("min_nll"),
          round(max(col("nll")), 6).as("max_nll"),
          sum(col("n_tokens")).as("tok_total"))
        .orderBy("bucket")
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
      tt AS (SELECT doc_id, tok FROM t WHERE len(tok) > 0),
      dt AS (SELECT doc_id, tok, COUNT(*) AS n FROM tt GROUP BY doc_id, tok),
      tf AS (SELECT tok, CAST(SUM(n) AS BIGINT) AS c FROM dt GROUP BY tok),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM tf),
      nll AS (SELECT doc_id,
          ROUND(CAST(SUM(CAST(n * -ln(CAST(c AS DOUBLE) / total)
              AS DECIMAL(38,12))) AS DOUBLE) / CAST(SUM(n) AS BIGINT), 6)
            AS nll,
          CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM dt JOIN tf USING (tok), tot GROUP BY doc_id),
      cuts AS (SELECT quantile_cont(nll, 1.0 / 3) AS c1,
          quantile_cont(nll, 2.0 / 3) AS c2 FROM nll)
      SELECT CASE WHEN nll <= c1 THEN 'head'
            WHEN nll <= c2 THEN 'middle' ELSE 'tail' END AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        ROUND(MIN(nll), 6) AS min_nll,
        ROUND(MAX(nll), 6) AS max_nll,
        CAST(SUM(n_tokens) AS BIGINT) AS tok_total
      FROM nll, cuts GROUP BY 1 ORDER BY bucket"""))

  /** Vocabulary coverage curve: the 20 most frequent tokens with their
    * cumulative corpus-coverage fraction — the "how much of the corpus do
    * the top-k types explain" diagnostic behind vocab sizing. Top-k is a
    * distributed TakeOrdered; the running sum's window sees only those k
    * rows (never the corpus), so the single-partition window is bounded by
    * k, not data size.
    */
  val q107VocabCoverage = QueryDef(
    "q107_vocab_coverage",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // materialized once: the corpus total and the top-k both read tf
      val tf = graft.ops.Spread.forAmplification(Tables.documents(s, d))
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val total = tf.agg(sum("c").as("total"))
      val w = Window.orderBy(col("c").desc, col("tok"))
      tf.orderBy(col("c").desc, col("tok")).limit(20)
        .crossJoin(broadcast(total))
        .select(
          row_number().over(w).cast("bigint").as("rank"),
          col("tok"), col("c"),
          round(sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("double") / col("total"), 6).as("cum_frac"))
        .orderBy("rank")
    },
    Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
          FROM documents),
      tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t
          WHERE len(tok) > 0 GROUP BY tok),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM tf),
      top AS (SELECT tok, c FROM tf ORDER BY c DESC, tok LIMIT 20)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rank,
        tok, c,
        ROUND(CAST(CAST(SUM(c) OVER (ORDER BY c DESC, tok
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS DOUBLE) / total, 6) AS cum_frac
      FROM top, tot ORDER BY rank"""))

  /** Hybrid retrieval: BM25 top-20 and dense-cosine top-20 (query vector =
    * vec_id 0, ids aligned with doc_id) fused by reciprocal rank — the
    * standard sparse+dense combination, with every stage after the two
    * rankers bounded by k. Exactly oracled end-to-end. */
  val q110RrfFusion = QueryDef(
    "q110_rrf_fusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sparse = graft.text.Retrieval.bm25(
        Tables.documents(s, d), "doc_id", col("text"),
        Seq("spark", "shuffle", "window"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        // bounded window: sees only the 20 TakeOrdered rows
        .select(col("doc_id"), row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).as("rank"))
      val e = Tables.embeddings(s, d)
      val dense = graft.sim.Similarity.bruteForceTopK(
        e.filter(col("vec_id") === 0), e, "vec_id", "embedding", 20)
        .select(col("cid").as("doc_id"), col("rank"))
      graft.text.Retrieval.rrfFuse(Seq(sparse, dense), "doc_id", "rank")
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    },
    Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
          len(string_split(text, ' ')) AS dl
        FROM documents),
      stats AS (SELECT COUNT(*) AS n,
          CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
        FROM documents),
      tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM t
        WHERE term IN ('spark', 'shuffle', 'window')
        GROUP BY doc_id, dl, term),
      dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      sc AS (SELECT doc_id,
          ln((n - df + 0.5) / (df + 0.5) + 1.0)
            * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
          AS s
        FROM tf JOIN dft USING (term), stats),
      bm AS (SELECT doc_id, ROUND(SUM(s), 6) AS score FROM sc GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 20),
      sp AS (SELECT doc_id,
          CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        FROM bm),
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      q AS (SELECT v FROM e WHERE vec_id = 0),
      scored AS (SELECT c.vec_id AS doc_id,
          ROUND(${SimQueries.cosineSql("q.v", "c.v")}, 6) AS sim
        FROM e c, q WHERE c.vec_id <> 0),
      dn AS (SELECT doc_id,
          CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS INT) AS rank
        FROM scored QUALIFY rank <= 20),
      u AS (SELECT doc_id, rank FROM sp
        UNION ALL SELECT doc_id, rank FROM dn)
      SELECT doc_id,
        ROUND(CAST(SUM(CAST(1.0 / (60 + rank) AS DECIMAL(38,12))) AS DOUBLE), 6)
          AS rrf,
        CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10"""))

  /** Per-source distinctive terms (c-TF-IDF): term frequency within the
    * source × inverse SOURCE frequency — the "what makes this source
    * different" summary a corpus card shows per domain. One explode into a
    * (source, term) partial-aggregated count; source-df and the rank window
    * both run over vocab-sized tables (the window partitions by source, so
    * no single-partition funnel).
    */
  val q114SourceTerms = QueryDef(
    "q114_source_terms",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // materialized once: source-df and the scoring join both read tf
      val tf = graft.ops.Spread.forAmplification(docs)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("source", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val sf = tf.groupBy("term").agg(count(lit(1)).as("df_s"))
      val nSources = docs.agg(countDistinct(col("source")).as("n_src"))
      val scored = tf.join(sf, Seq("term"))
        .crossJoin(broadcast(nSources))
        .withColumn("tfidf", round(
          col("tf") * log((col("n_src") + 1.0) / (col("df_s") + 1.0)), 6))
      val w = Window.partitionBy("source")
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select("source", "rank", "term", "tf", "tfidf")
        .orderBy("source", "rank")
    },
    Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents),
      tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t
        WHERE len(term) > 0 GROUP BY source, term),
      sf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_s FROM tf
        GROUP BY term),
      ns AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src
        FROM documents),
      sc AS (SELECT source, term, tf,
          ROUND(tf * ln((n_src + 1.0) / (df_s + 1.0)), 6) AS tfidf
        FROM tf JOIN sf USING (term), ns),
      r AS (SELECT source, term, tf, tfidf,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        FROM sc)
      SELECT source, rank, term, tf, tfidf FROM r
      WHERE rank <= 3 ORDER BY source, rank"""))

  /** Character-level Shannon entropy per doc (TextAnalysis.charEntropy):
    * the gibberish/boilerplate quality signal as a PURE codegen column
    * expression — sorted-distinct-char fold, no explode, no shuffle. The
    * oracle replays the identical left fold with list_reduce over the
    * list_sort'ed distinct chars. */
  val q150CharEntropy = QueryDef(
    "q150_char_entropy",
    (s, d) => Tables.documents(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), TextAnalysis.charEntropy(col("text")).as("entropy"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, '') AS chars
        FROM documents WHERE doc_id < 300),
      u AS (SELECT doc_id, chars, CAST(len(chars) AS DOUBLE) AS n,
          list_sort(list_distinct(chars)) AS uq FROM t)
      SELECT doc_id,
        ROUND(CASE WHEN len(chars) > 0 AND chars[1] <> '' THEN list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(uq, ch ->
              - (CAST(len(list_filter(chars, c -> c = ch)) AS DOUBLE) / n)
                * LN(CAST(len(list_filter(chars, c -> c = ch)) AS DOUBLE) / n)
                / LN(2.0))),
          (acc, x) -> acc + x) ELSE 0.0 END, 6) AS entropy
      FROM u ORDER BY doc_id"""))

  /** Jaro–Winkler fuzzy probe over part names (TextAnalysis.jaroWinkler —
    * the codegen'd JaroWinkler expression): candidates above 0.75
    * similarity to a probe string, a pure projection+filter that stays
    * inside whole-stage codegen. The oracle replays DuckDB's NATIVE
    * jaro_winkler_similarity — the expression's byte-level window/
    * transposition/prefix-boost semantics must match it exactly. */
  val q191JaroWinkler = QueryDef(
    "q191_jaro_winkler",
    (s, d) => Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"),
        round(TextAnalysis.jaroWinkler(col("p_name"), lit("small widget")), 6)
          .as("jw"))
      .filter(col("jw") > 0.75)
      .orderBy(col("jw").desc, col("p_partkey")),
    Some("""SELECT p_partkey, p_name,
        ROUND(jaro_winkler_similarity(p_name, 'small widget'), 6) AS jw
      FROM part
      WHERE ROUND(jaro_winkler_similarity(p_name, 'small widget'), 6) > 0.75
      ORDER BY jw DESC, p_partkey"""))

  /** Lexical-diversity corpus card per source
    * (TextAnalysis.lexicalDiversity): vocab, TTR, hapax share, Simpson
    * repeat probability — the templated-vs-fresh fingerprint beside
    * q148's JSD and q197's vocab overlap. */
  val q207LexicalDiversity = QueryDef(
    "q207_lexical_diversity",
    (s, d) => TextAnalysis.lexicalDiversity(Tables.documents(s, d),
        col("source"), col("text"))
      .withColumnRenamed("g", "source"),
    Some("""WITH tf AS (SELECT g, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
          SELECT source AS g, unnest(string_split(text, ' ')) AS t
          FROM documents) raw
        WHERE len(t) > 0 GROUP BY 1, 2),
      a AS (SELECT g, CAST(SUM(tf) AS BIGINT) AS n_tokens,
          CAST(COUNT(*) AS BIGINT) AS vocab,
          CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
          CAST(SUM(CAST(tf * (tf - 1) AS DECIMAL(38,0))) AS DOUBLE) AS rep
        FROM tf GROUP BY 1)
      SELECT g AS source, n_tokens, vocab,
        ROUND(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
        ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
          AS hapax_share,
        CASE WHEN n_tokens >= 2 THEN ROUND(rep / (CAST(n_tokens AS DOUBLE)
          * (CAST(n_tokens AS DOUBLE) - 1)), 6) END AS simpson
      FROM a ORDER BY g"""))

  /** Per-document TF-IDF keywords: top-3 terms per doc by
    * tf · ln((N+1)/(df+1)) with term-asc tie-break — the classic keyword
    * extraction card (q114 is the per-SOURCE c-TF-IDF variant; this is
    * document granularity with document frequency). One explode into a
    * (doc, term) combined count; df and N are vocab-/1-row-sized; the
    * rank window partitions BY DOC, so no single-partition funnel. */
  val q222DocKeywords = QueryDef(
    "q222_doc_keywords",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = graft.ops.Spread.forAmplification(docs)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(
          col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "tfidf")
        .orderBy("doc_id", "rank")
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t
        WHERE len(term) > 0 GROUP BY doc_id, term),
      df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
        GROUP BY term),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      sc AS (SELECT doc_id, term, tf,
          ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
        FROM tf JOIN df USING (term), nn),
      r AS (SELECT doc_id, term, tf, tfidf,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        FROM sc)
      SELECT doc_id, rank, term, tf, tfidf FROM r
      WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Per-source vocabulary richness estimators: hapax/dis-legomena
    * counts, Turing missing mass N1/N (the probability the NEXT token is
    * an unseen type — "is this source mined out?"), and the
    * bias-corrected Chao1 richness estimate V + N1(N1−1)/(2(N2+1)) (how
    * big the vocabulary really is) — the corpus-growth planning card
    * beside q107's coverage curve. One explode → combined (source, term)
    * count, then a ≤vocab-sized rollup; all ratio math per source. */
  val q226VocabRichness = QueryDef(
    "q226_vocab_richness",
    (s, d) => {
      val tf = graft.ops.Spread.forAmplification(Tables.documents(s, d))
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
      tf.groupBy("source").agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          count(when(col("c") === 1, 1)).as("n1"),
          count(when(col("c") === 2, 1)).as("n2"))
        .withColumn("missing_mass",
          round(col("n1").cast("double") / col("n_tokens").cast("double"), 6))
        .withColumn("chao1",
          round(col("vocab") + (col("n1") * (col("n1") - 1))
            / (lit(2.0) * (col("n2") + 1)), 6))
        .select("source", "n_tokens", "vocab", "n1", "n2",
          "missing_mass", "chao1")
        .orderBy("source")
    },
    Some("""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents),
      tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM t
        WHERE len(term) > 0 GROUP BY source, term)
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS vocab,
        CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS n1,
        CAST(COUNT(*) FILTER (c = 2) AS BIGINT) AS n2,
        ROUND(CAST(COUNT(*) FILTER (c = 1) AS DOUBLE)
          / CAST(SUM(c) AS DOUBLE), 6) AS missing_mass,
        ROUND(COUNT(*) + (COUNT(*) FILTER (c = 1)
            * (COUNT(*) FILTER (c = 1) - 1))
          / (2.0 * (COUNT(*) FILTER (c = 2) + 1)), 6) AS chao1
      FROM tf GROUP BY source ORDER BY source NULLS FIRST"""))

  override val defs: Seq[QueryDef] = Seq(
    q40TokenStats, q41LangId, q42QualityScore, q43Fingerprint, q57RollingHash,
    q70LangIdNgram, q81UrlCanon, q86Bm25, q89UnigramNll, q93HtmlExtract,
    q94CorpusReport, q95BpeMerges, q99IncrementalReport, q103BigramNll,
    q106PplBuckets, q107VocabCoverage, q110RrfFusion, q114SourceTerms,
    q123TextNormalize, q127BpeEncode, q129ScriptShares, q150CharEntropy,
    q291UnigramLearn, q292UnigramEncode, q298BpeEncodeSaved,
    q299UnigramEncodeSaved,
    q171PmiCollocations, q191JaroWinkler, q207LexicalDiversity,
    q222DocKeywords, q226VocabRichness, q259KnBigramNll)
}
