package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, language ID (n-gram/stopword heuristic), quality scoring,
  * document fingerprinting. All pure Column expressions (codegen'd, no UDFs),
  * so they run inside whole-stage codegen at any scale.
  */
object TextAnalysis {

  /** Whitespace tokens. The test corpus is single-space separated; use
    * `tokensWs` for arbitrary whitespace.
    */
  def tokens(text: Column): Column = split(text, " ")

  def tokensWs(text: Column): Column = split(text, "\\s+")

  /** A BPE-ish subword proxy: splits on word boundaries AND digit/letter
    * transitions, the cheap deterministic stand-in for a real tokenizer's
    * token count.
    */
  def bpeIshTokens(text: Column): Column =
    filter(split(text, "(?<=\\W)|(?=\\W)|(?<=\\d)(?=\\p{L})|(?<=\\p{L})(?=\\d)"),
      t => length(trim(t)) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Unicode text normalization — the canonical form computed BEFORE any
    * hashing/dedup/tokenization, because every downstream key is only as
    * stable as this step: curly quotes and primes fold to ASCII quotes,
    * the dash family to `-`, the ellipsis to `...`, the NBSP/figure-space
    * family plus NEL and the Unicode LINE/PARAGRAPH SEPARATORs to plain
    * space, zero-width characters and C0/C1 control bytes strip entirely
    * (NUL included Spark-side; the q123 oracle class starts at U+0001
    * because a DuckDB VARCHAR cannot carry NUL at all), whitespace
    * collapses to single spaces and trims. All RE2-compatible character-class regex (no UDF, no lookups)
    * so it rides whole-stage codegen and external engines replay it
    * byte-for-byte (q123's DuckDB oracle md5-compares the result).
    * Deliberately NOT lossy beyond that: case, accents, and non-Latin
    * scripts pass through — lossy folds (casefold, accent strip) are the
    * caller's policy, not the canonical form's.
    */
  def normalizeText(c: Column): Column = {
    val quotes1 = regexp_replace(c, "[\u2018\u2019\u201A\u201B\u2032]", "'")
    val quotes2 = regexp_replace(quotes1, "[\u201C\u201D\u201E\u201F\u2033]", "\"")
    val dashes = regexp_replace(quotes2, "[\u2010-\u2015\u2212]", "-")
    val ellipsis = regexp_replace(dashes, "\u2026", "...")
    // separators fold to SPACE (they separate words); NEL and the Unicode
    // LINE/PARAGRAPH SEPARATORs belong here, not in the strip class
    val spaces = regexp_replace(ellipsis,
      "[\u00A0\u0085\u1680\u2000-\u200A\u2028\u2029\u202F\u205F\u3000]", " ")
    val zw = regexp_replace(spaces, "[\u200B-\u200D\uFEFF]", "")
    // C0 (minus tab/LF/CR, handled as whitespace) + DEL + C1
    val ctrl = regexp_replace(zw,
      "[\u0000-\u0008\u000B\u000C\u000E-\u001F\u007F\u0080-\u0084\u0086-\u009F]", "")
    trim(regexp_replace(ctrl, "\\s+", " "))
  }

  /** Writing-system (script) detection for multilingual corpus routing —
    * the coarse companion to [[langId]]: language-ID profiles only cover
    * profiled languages, while script ranges split a crawl into
    * Latin/CJK/Cyrillic/… streams with zero model state. Ranges are
    * explicit BMP codepoint intervals (NOT `\p{Script}` classes, whose
    * spelling differs between Java regex and RE2 — literal ranges mean the
    * DuckDB oracle runs the identical pattern). Counting is
    * `length(regexp_replace(text, "[^range]", ""))` — codegen, no explode.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "arabic" -> "\u0600-\u06FF\u0750-\u077F",
    "cjk" -> "\u3040-\u30FF\u3400-\u4DBF\u4E00-\u9FFF",
    "cyrillic" -> "\u0400-\u04FF",
    "greek" -> "\u0370-\u03FF",
    "hangul" -> "\u1100-\u11FF\uAC00-\uD7AF",
    "latin" -> "A-Za-z\u00C0-\u024F")

  /** Count of characters inside one script's range expression. */
  def scriptCount(text: Column, ranges: String): Column =
    length(regexp_replace(text, s"[^$ranges]", ""))

  /** Parse a ScriptRanges class string ("A-Za-zÀ-ɏ" style:
    * `a-b` pairs or bare singletons) into intervals. */
  private def parseRanges(ranges: String): Seq[(Char, Char)] = {
    val out = Seq.newBuilder[(Char, Char)]
    var i = 0
    while (i < ranges.length) {
      if (i + 2 < ranges.length && ranges.charAt(i + 1) == '-') {
        out += ((ranges.charAt(i), ranges.charAt(i + 2))); i += 3
      } else { out += ((ranges.charAt(i), ranges.charAt(i))); i += 1 }
    }
    out.result()
  }

  /** ALL script counts in ONE pass: array<int> aligned with
    * [[ScriptRanges]] order, via the codegen
    * [[graft.functions.CharClassCounts]] table loop — the fused form of
    * one [[scriptCount]] per script, which pays |scripts| regex passes
    * and |scripts| stripped-string allocations per document. Bit-count
    * parity with the regex form is spec-pinned (TextAnalysisSpec),
    * including null text (null array), non-BMP surrogates (counted by
    * neither), and empty strings. */
  def scriptCounts(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.CharClassCounts(
      ColumnBridge.expression(text),
      ScriptRanges.map { case (_, r) => parseRanges(r) }))
  }

  /** Dominant script from per-script counts, ties toward the
    * alphabetically smaller name (least over (-count, name) structs — the
    * same argmin-as-struct-ordering move the quantizers use). Returns
    * "none" when no script character occurs at all.
    */
  def dominantScript(counts: Seq[(String, Column)]): Column = {
    val best = least(counts.map { case (name, c) =>
      struct((-c).as("negn"), lit(name).as("name"))
    }: _*)
    when(-best.getField("negn") > 0, best.getField("name")).otherwise("none")
  }

  /** Portable 32-bit-range hash of a string: first 8 hex chars of md5 as a
    * long. Chosen over Spark's murmur `hash()` because the DuckDB oracle can
    * compute the identical value (`CAST('0x'||substr(md5(x),1,8) AS BIGINT)`).
    * Backed by the codegen'd Md5Long expression (bit-identical to the
    * conv/substring chain, minus the hex round-trip per row).
    */
  def md5Int32(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.Md5Long(ColumnBridge.expression(c)))
  }

  /** All `sub`-codepoint sliding-window hashes (array<long>, ~60-bit
    * two-mod Rabin-Karp) in one O(n) pass — the PRUNE-ONLY hash of the
    * exact-substring family, where the hash never reaches the oracle
    * surface (candidates re-verify on gram text). Unlike [[md5Int32]] it
    * does not need DuckDB replayability — it needs O(1) per position and
    * a collision space that still prunes at 1e14 positions (32 bits do
    * not: ~23k expected occupants per value at 100 TB collapse the
    * "count >= 2" prune). See [[graft.functions.WindowHashes]]. */
  def windowHashes64(c: Column, sub: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.WindowHashes(ColumnBridge.expression(c), sub))
  }

  /** Whole-string form of [[windowHashes64]]'s recurrence: hashing a
    * gram's text yields exactly the value its source window produced —
    * the build/probe agreement the exact-substring index relies on. */
  def gramHash64(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.GramHash(ColumnBridge.expression(c)))
  }

  /** Jaro–Winkler similarity in [0,1] — the fuzzy-name complement to
    * `levenshtein` in entity matching (prefix-boosted, transposition-
    * tolerant). Backed by the codegen'd JaroWinkler expression; semantics
    * pinned to DuckDB's `jaro_winkler_similarity` (byte-level, 0.7 boost
    * threshold) so the oracle replays it natively. */
  def jaroWinkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** ALL word n-grams (non-distinct, space-joined), empty array when the
    * text has fewer than n tokens.
    *
    * Built by zip_with over n shifted slices of the token array — NOT by
    * `transform(sequence(…), i => element_at(toks, i))`: higher-order
    * lambdas re-evaluate every non-lambda subexpression per element, so an
    * element_at(split(text), i) body splits the whole text once per index —
    * O(len·tokens) per document. The slice form splits n times total.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val count = greatest(size(toks) - (n - 1), lit(0))
    val grams = (1 until n).foldLeft(slice(toks, lit(1), count)) { (acc, o) =>
      zip_with(acc, slice(toks, lit(1 + o), count),
        (a, b) => concat_ws(" ", a, b))
    }
    when(count >= 1, grams).otherwise(array().cast("array<string>"))
  }

  /** 60-bit document fingerprint (15 md5 hex chars → long). */
  def fingerprint(text: Column): Column =
    conv(substring(md5(text), 1, 15), 16, 10).cast("long")

  /** Character-level Shannon entropy (bits/char) — the gibberish/boilerplate
    * signal compression-ratio proxies approximate: low entropy flags
    * repeated-character padding and template spam, high entropy flags
    * base64/binary junk. A PURE column expression — per-row higher-order
    * array functions, no explode, no shuffle, stays inside whole-stage
    * codegen (O(distinct-chars × length) per row, distinct-chars ≤ charset).
    *
    * Cross-engine determinism: the fold visits distinct characters in
    * SORTED order with a 0.0 init, so any engine replaying the same
    * left-fold (DuckDB list_reduce over the list_sort'ed distinct chars)
    * produces the bit-identical double; result rounded to 6. Empty text
    * → 0.0 entropy.
    */
  def charEntropy(text: Column): Column = {
    // split("", …) yields [""]: drop non-single-char artifacts
    val chars = filter(split(text, ""), c => length(c) === 1)
    val n = size(chars).cast("double")
    val uniq = array_sort(array_distinct(chars))
    val folded = aggregate(uniq, lit(0.0), (acc, ch) => {
      val p = size(filter(chars, c => c === ch)).cast("double") / n
      acc - p * log(p) / log(lit(2.0))
    })
    round(when(n > 0, folded).otherwise(0.0), 6)
  }

  /** True Rabin-Karp rolling-hash fingerprint (codegen'd custom Expression;
    * see graft.functions.RollingHash).
    */
  def rollingHash(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.RollingHash(ColumnBridge.expression(text)))
  }

  /** Deflate compression ratio (codegen'd custom Expression) — the
    * boilerplate/repetition curation signal; see
    * graft.functions.CompressionRatio.
    */
  def compressionRatio(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.CompressionRatio(ColumnBridge.expression(text)))
  }

  /** Per-language stopword profiles for the language-ID heuristic.
    * Order matters: ties resolve to the earlier language.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "zh" -> Seq("的", "是", "了", "在"))

  /** Number of profile words present (each counted once) in the text. */
  def profileScore(toks: Column, profile: Seq[String]): Column =
    size(array_intersect(array_distinct(toks), array(profile.map(lit): _*)))

  /** Heuristic language ID: argmax profile score, first-profile-wins on ties,
    * "und" (undetermined) when every score is zero.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangProfiles.map { case (l, p) => l -> profileScore(toks, p) }
    argmaxLang(scores)
  }

  private def argmaxLang(scores: Seq[(String, Column)]): Column = {
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
  }

  /** Per-language character-trigram profiles (most frequent trigrams of each
    * language, spaces included) for the n-gram language-ID variant.
    */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", " th", "ing", "and", "ion", " of"),
    "de" -> Seq("der", "die", "und", "sch", "ein", "ich", "cht"),
    "es" -> Seq(" de", "los", " la", "ión", "nte", "que", " es"),
    "fr" -> Seq(" le", "les", "ent", " la", "des", "ais", " et"))

  /** Distinct character trigrams of the text (empty below 3 chars). */
  def charTrigrams(text: Column): Column =
    array_distinct(
      when(length(text) >= 3,
        transform(sequence(lit(1), length(text) - 2), i => text.substr(i, lit(3))))
        .otherwise(array().cast("array<string>")))

  /** Character-n-gram language ID: argmax count of profile trigrams present
    * (each counted once), first-profile-wins on ties, "und" when all zero —
    * the classic n-gram-profile heuristic next to the stopword variant.
    *
    * |distinct_trigrams(text) ∩ profile| ≡ number of profile trigrams that
    * occur in the text as substrings, so the score is the codegen'd
    * SubstringSetScore expression (one fused contains-loop, no per-row
    * trigram arrays) — bit-identical to the HOF formulation (pinned in
    * TextAnalysisSpec) and to the q70 oracle.
    */
  def langIdNgram(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val scores = TrigramProfiles.map { case (l, p) =>
      l -> ColumnBridge.column(graft.functions.SubstringSetScore(
        ColumnBridge.expression(text),
        ColumnBridge.expression(array(p.map(lit): _*))))
    }
    argmaxLang(scores)
  }

  /** The interpreted HOF formulation of the trigram score (kept as the
    * reference twin for the codegen expression's equivalence test).
    */
  def trigramProfileScoreHof(text: Column, profile: Seq[String]): Column =
    size(array_intersect(charTrigrams(text), array(profile.map(lit): _*)))

  /** Deterministic quality score in [0,1]: length prior + lexical diversity +
    * stopword plausibility. Rounded to 6 decimals so downstream exact-decimal
    * averages are reproducible on any engine.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val enStops = LangProfiles.head._2
    val distinctRatio = size(array_distinct(toks)).cast("double") / n
    val stopHits = profileScore(toks, enStops).cast("double")
    val lengthPrior = least(lit(1.0), n / 50.0)
    round(
      lit(0.3) * lengthPrior + lit(0.4) * distinctRatio +
        lit(0.3) * least(lit(1.0), stopHits * 10.0 / n), 6)
  }

  /** Unigram-LM negative log-likelihood per document — the CCNet-style
    * perplexity proxy: train a unigram model on the corpus itself (token
    * frequencies), score each document by its length-normalized NLL
    * Σ n_t·(−ln c_t/N) / Σ n_t. High-NLL docs are "surprising" (rare-token
    * soup, boilerplate noise); low-NLL docs are stereotyped. The in-corpus
    * twin of scoring against an external LM — no model artifact needed.
    *
    * Scale shape: one explode feeds a (doc, token) partial-aggregated count
    * (map-side combine collapses repeats before the shuffle); the global
    * frequency table derives from THAT (vocab-sized groupBy, no second
    * explode); the corpus total is a 1-row aggregate broadcast back. The
    * scoring join is a keyed equi-join on token — skew from stop-words is
    * bounded because each doc contributes each token once (df ≤ |docs| per
    * token), and AQE splits any residual hot token range.
    *
    * Float contract: each NLL term is decimal(38,12)-cast before summing
    * (order-independent across partitions and engines), final value rounded
    * to 6.
    */
  /** Interpolated bigram-LM NLL — the next rung above [[unigramNll]]:
    * p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/N, scored over each
    * document's bigram transitions (length-normalized). Jelinek-Mercer
    * interpolation keeps unseen-in-corpus transitions finite without
    * discounting machinery, and every term is a ratio of corpus counts —
    * no model artifact, fully SQL-reproducible.
    *
    * Shape: one explode to (doc, w1, w2) partial counts; corpus bigram and
    * unigram tables derive from that same aggregate (no second pass over
    * documents); scoring is two keyed equi-joins plus the 1-row total
    * broadcast. Decimal-cast term sums keep the float total
    * order-independent.
    */
  def bigramNll(df: DataFrame, idCol: String, textCol: Column,
      lambda: Double = 0.9): DataFrame = {
    val toks = tokens(textCol)
    // zip_with over shifted slices, not element_at-per-index (see wordNgrams)
    val cnt = greatest(size(toks) - 1, lit(0))
    val pairs = when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(zip_with(slice(toks, lit(1), cnt), slice(toks, lit(2), cnt),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
    // materialized once: four derived tables (bi→u1/u2/total) and the final
    // join all read docBi — uncached, the document explode+aggregate would
    // replay per consumer (measured 18 jobs / 3× the work at sf0.1)
    val docBi = graft.ops.Spread.forAmplification(df, col(idCol))
      .select(col(idCol), explode(pairs).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val bi = docBi.groupBy("w1", "w2").agg(sum("n").as("c12"))
      .localCheckpoint(true)
    val uniFromBi = bi.groupBy("w1").agg(sum("c12").as("c1"))
    // w2 marginal + corpus size from the SAME bigram table (transitions
    // define the event space, so normalizations stay consistent)
    val uni2 = bi.groupBy("w2").agg(sum("c12").as("c2"))
    val total = bi.agg(sum("c12").as("total"))
    val p = col("c12").cast("double") / col("c1") * lambda +
      (col("c2").cast("double") / col("total")) * (1 - lambda)
    // enrich the DISTINCT-bigram table with its marginals first (vocab-sized
    // joins), then hit the big (doc, w1, w2) table exactly once: three
    // corpus-table shuffles collapse to one, and p (two divisions + the mix)
    // is evaluated once per corpus bigram instead of once per doc-bigram
    val biP = bi
      .join(uniFromBi, Seq("w1"))
      .join(uni2, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), p.as("p"))
    docBi
      .join(biP, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(
        round(sum((col("n") * -log(col("p"))).cast("decimal(38,12)")).cast("double")
          / sum(col("n")), 6).as("nll"),
        sum(col("n")).as("n_bigrams"))
  }

  /** Kneser-Ney smoothed bigram-LM NLL — the industry-standard smoothing
    * for perplexity filtering, one rung above [[bigramNll]]'s
    * Jelinek-Mercer mix: p(w₂|w₁) = max(c₁₂ − D, 0)/c₁ + D·N₁₊(w₁·)/c₁ ·
    * P_cont(w₂), where P_cont(w₂) = N₁₊(·w₂)/N₁₊(··) is the CONTINUATION
    * probability (how many distinct contexts w₂ completes, not how often
    * it occurs — the fix that stops "Francisco" looking likely outside
    * "San Francisco"). Absolute discount D; every quantity is a corpus
    * count ratio, fully SQL-reproducible, no model artifact.
    *
    * Shape: identical to [[bigramNll]] — one corpus explode to per-doc
    * bigram counts (materialized once), continuation/count tables all
    * derive from the SAME vocab-sized bigram table (N₁₊(w₁·) and
    * N₁₊(·w₂) are row counts of that table grouped by each side; no
    * second data pass), scoring enriches the distinct-bigram table first
    * and hits the doc-bigram table with ONE keyed join. Decimal-cast term
    * sums; round 6. Output: (idCol, nll length-normalized, n_bigrams).
    */
  def knBigramNll(df: DataFrame, idCol: String, textCol: Column,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "knBigramNll needs D in (0,1)")
    val toks = tokens(textCol)
    val cnt = greatest(size(toks) - 1, lit(0))
    val pairs = when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(zip_with(slice(toks, lit(1), cnt), slice(toks, lit(2), cnt),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
    val docBi = graft.ops.Spread.forAmplification(df, col(idCol))
      .select(col(idCol), explode(pairs).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val bi = docBi.groupBy("w1", "w2").agg(sum("n").as("c12"))
      .localCheckpoint(true)
    // c1 and N1+(w1·) from one pass over the bigram table; same for the
    // continuation side — the event space is the bigram table throughout
    val fwd = bi.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("nf"))
    val bwd = bi.groupBy("w2").agg(count(lit(1)).as("nb"))
    val types = bi.agg(count(lit(1)).as("ntypes"))
    // max(c12 − D, 0) never binds for observed bigrams (c12 ≥ 1 > D) but
    // states the standard formula; the continuation term keeps p > 0
    val p = greatest(col("c12").cast("double") - discount, lit(0.0)) /
      col("c1") +
      (lit(discount) * col("nf") / col("c1")) *
        (col("nb").cast("double") / col("ntypes"))
    val biP = bi
      .join(fwd, Seq("w1"))
      .join(bwd, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), p.as("p"))
    docBi
      .join(biP, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(
        round(sum((col("n") * -log(col("p"))).cast("decimal(38,12)")).cast("double")
          / sum(col("n")), 6).as("nll"),
        sum(col("n")).as("n_bigrams"))
  }

  /** Top-k collocations by pointwise mutual information over adjacent word
    * pairs: PMI = ln(c12·T / (c1·c2)) with marginals and T taken from the
    * bigram event space (the bigramNll convention, so normalizations stay
    * consistent). `minCount` floors c12 — PMI is noise-dominated on rare
    * pairs. Output (w1, w2, c12, pmi) ordered by (pmi desc, w1, w2),
    * limited to k — ties after 6-decimal rounding break on the words, so
    * the cut is total and engines agree.
    *
    * Shape: ONE corpus explode+groupBy (map-side combined) collapses to the
    * vocab-sized bigram table; marginals derive from that table (no second
    * data pass); the top-k is a TakeOrdered heap, never a global sort.
    */
  def pmiCollocations(df: DataFrame, textCol: Column, minCount: Long = 5L,
      k: Int = 20): DataFrame = {
    val toks = tokens(textCol)
    val cnt = greatest(size(toks) - 1, lit(0))
    val pairs = when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(zip_with(slice(toks, lit(1), cnt), slice(toks, lit(2), cnt),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
    val bi = graft.ops.Spread.forAmplification(df)
      .select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true) // read by both marginals + the total + scoring
    val u1 = bi.groupBy("w1").agg(sum("c12").as("c1"))
    val u2 = bi.groupBy("w2").agg(sum("c12").as("c2"))
    val total = bi.agg(sum("c12").as("total"))
    val pmi = log((col("c12").cast("double") * col("total").cast("double")) /
      (col("c1").cast("double") * col("c2").cast("double")))
    bi.filter(col("c12") >= minCount)
      .join(u1, Seq("w1")).join(u2, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  def unigramNll(df: DataFrame, idCol: String, textCol: Column): DataFrame = {
    // materialized once: tf, total, and the scoring join all read docTok —
    // uncached, the document explode+aggregate would replay per consumer
    val docTok = graft.ops.Spread.forAmplification(df, col(idCol))
      .select(col(idCol), explode(tokens(textCol)).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tf = docTok.groupBy("tok").agg(sum("n").as("c")).localCheckpoint(true)
    val total = tf.agg(sum("c").as("total"))
    docTok.join(tf, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        round(
          sum((col("n") * -log(col("c").cast("double") / col("total")))
            .cast("decimal(38,12)")).cast("double")
            / sum(col("n")), 6).as("nll"),
        sum(col("n")).as("n_tokens"))
  }

  /** Lexical-diversity report per corpus slice: vocabulary size, token
    * count, type-token ratio, hapax share (terms seen once — the
    * "long-tail freshness" of a source), and the Simpson repeat
    * probability Σ tf·(tf−1) / (N·(N−1)) (the chance two random tokens are
    * the same type — high = templated/repetitive). The corpus-card row a
    * mixing dashboard prints beside q148's JSD and q197's vocab overlap.
    *
    * Scale shape: ONE explode+groupBy collapses the corpus to (group,
    * term) counts; everything after is a per-group aggregation of that
    * vocab-sized table. Numerators are integer-exact DECIMAL sums; ratios
    * round to 6.
    */
  def lexicalDiversity(docs: org.apache.spark.sql.DataFrame, group: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val tf = graft.ops.Spread.forAmplification(docs)
      .select(group.as("g"), explode(tokens(text)).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("g", "t").agg(count(lit(1)).as("tf"))
    val agg = tf.groupBy("g")
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("__hapax"),
        sum((col("tf") * (col("tf") - 1)).cast("decimal(38,0)"))
          .cast("double").as("__rep"))
    val n = col("n_tokens").cast("double")
    agg.select(col("g"), col("n_tokens"), col("vocab"),
        round(col("vocab").cast("double") / n, 6).as("ttr"),
        round(col("__hapax").cast("double") /
          col("vocab").cast("double"), 6).as("hapax_share"),
        when(col("n_tokens") >= 2,
          round(col("__rep") / (n * (n - 1)), 6)).as("simpson"))
      .orderBy("g")
  }
}
