package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is a per-row projection built from codegen'd builtin
  * functions (no UDFs): at 100 TB these run inside whole-stage codegen with
  * zero shuffles — the scan is the only cost, and column pruning reaches
  * the parquet reader.
  */
object TextAnalysis {

  /** Language stopword profiles (occurrence scoring). Public, standard
    * high-frequency function words per language — the canonical table
    * lives in [[graft.functions.StopwordProfiles]] (shared with the
    * profile-dispatched `html_extract_lang` kernel); 10 languages since
    * r15 (was en/de/fr/es). Table order is the argmax tie-break order.
    */
  val profiles: Seq[(String, Seq[String])] =
    graft.functions.StopwordProfiles.table

  /** The languages the corpus-cleaning recipes recognize by default:
    * every profiled language plus the zh codepoint short-cut.
    */
  def defaultKeepLangs: Seq[String] = profiles.map(_._1) :+ "zh"

  /** SQL single-quoted string literal with '' escaping — shadows
    * functions.lit on String args by design (use `flit` for a Column
    * literal). Quote-safe in both Spark SQL and DuckDB, so query terms
    * containing a single quote cannot break or alter the expression.
    * The one quoting helper: the query families' oracle SQL uses it too.
    */
  def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Java's `\s` whitespace class written out explicitly:
    * `[ \t\n\x0B\f\r]`. Java regex `\s` includes U+000B (vertical tab)
    * but DuckDB's RE2 `\s` does not — every cross-engine tokenization
    * pins this exact class on BOTH sides so text containing U+000B
    * cannot diverge the hash gates (engine behavior is byte-identical
    * to the former `\s`). Oracle mirrors live in the graft.queries
    * families' q_fingerprint / q_dedup_exact / q_clean_corpus / q_curate_corpus /
    * q_domain_stats / q_fineweb_rules SQL.
    */
  /** [[wsClass]]'s members UNBRACKETED — the form safe to interpolate
    * into a NEGATED class. Interpolating the bracketed [[wsClass]] into
    * `[^...]` yields `[^[...]]`, which Java parses as a negated
    * nested-class union but RE2 (the DuckDB oracle side) parses as a
    * literal '[' member followed by a separate literal ']' — a silent
    * cross-engine divergence (the r15 ADVICE finding on gpt2PreRegex).
    * Declared before [[wsClass]] (object-init order).
    */
  val wsChars: String = " \\t\\n\\x0B\\f\\r"

  val wsClass: String = "[" + wsChars + "]"

  /** [[wsClass]] escaped for embedding inside a Spark SQL string
    * literal (the SQL parser consumes one level of backslashes).
    */
  val wsClassSql: String = wsClass.replace("\\", "\\\\")

  /** Whitespace tokens of a text column (lower-cased). */
  def tokensExpr(text: String): String =
    s"filter(split(lower($text), ' +'), t -> t != '')"

  /** Per-document surface statistics: char/token counts, token-length and
    * punctuation/alpha ratios — the standard quality-scoring features.
    */
  def textStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokensExpr(textCol)
    docs.select(
      col("doc_id"),
      expr(s"length($textCol)").as("n_chars"),
      expr(s"size($toks)").as("n_tokens"),
      expr(s"CAST(length(regexp_replace($textCol, '[^a-zA-Z]', '')) AS DOUBLE)" +
        s" / CAST(length($textCol) AS DOUBLE)").as("alpha_ratio"),
      expr(s"CAST(length(regexp_replace($textCol, '[^.,;:!?]', '')) AS DOUBLE)" +
        s" / CAST(length($textCol) AS DOUBLE)").as("punct_ratio"),
      expr(s"CAST(length(replace($textCol, ' ', '')) AS DOUBLE) / CAST(size($toks) AS DOUBLE)")
        .as("avg_token_len"))
  }

  /** Quality-score expression (shared by [[qualityScore]] and the fused
    * cleaning pipeline).
    */
  private[operators] def qualityExpr(textCol: String): Column = {
    val allStop = profiles.flatMap(_._2).distinct.map(lit).mkString(", ")
    val toks = tokensExpr(textCol)
    expr(
      s"""round(
         |  least(CAST(length($textCol) AS DOUBLE) / 200.0, 1.0) * 0.4 +
         |  (CAST(length(regexp_replace($textCol, '[^a-zA-Z ]', '')) AS DOUBLE)
         |     / CAST(length($textCol) AS DOUBLE)) * 0.4 +
         |  least(CAST(size(filter($toks, t -> t IN ($allStop))) AS DOUBLE)
         |     / CAST(size($toks) AS DOUBLE) * 5.0, 1.0) * 0.2
         |, 6)""".stripMargin)
  }

  /** Composite quality score in [0,1]: length sweet-spot, alpha ratio, and
    * a stopword-presence signal. Heuristic (deterministic, engine-agnostic).
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), qualityExpr(textCol).as("quality"))

  /** Adds a `lang_pred` column (shared by [[langId]] and the fused cleaning
    * pipeline; the `__g` staging column keeps the greatest() of the profile
    * scores out of every CASE branch).
    */
  private[operators] def withLangPred(docs: DataFrame, textCol: String): DataFrame = {
    // STAGED evaluation (r16): tokens once, each profile score once, then
    // argmax. The previous form re-inlined the tokenizer into all 10
    // score expressions AND re-evaluated every score inside the tie-break
    // CASE (~15-20 tokenizations per row at r16 profile depth — measured
    // 1.85x on q_lang_id when the profiles deepened). `array_position`
    // returns the FIRST index of the max, so the table-order tie-break is
    // unchanged; null/zero/zh semantics are identical (array_max over all
    // nulls is null like greatest, and the CASE then falls through to a
    // null lang_pred via element_at's null index, exactly as the WHEN
    // chain fell through).
    val scores = profiles.map { case (_, words) =>
      s"size(filter(__toks, t -> t IN (${words.map(sqlStr).mkString(", ")})))"
    }
    val langsArr = s"array(${profiles.map(p => sqlStr(p._1)).mkString(", ")})"
    docs
      .withColumn("__toks", expr(tokensExpr(textCol)))
      .withColumn("__scores", expr(s"array(${scores.mkString(", ")})"))
      .withColumn("lang_pred",
        expr(
          s"""CASE WHEN regexp_count($textCol, '[\\\\x{4e00}-\\\\x{9fff}]') > 0 THEN 'zh'
             | WHEN array_max(__scores) = 0 THEN 'unknown'
             | ELSE element_at($langsArr,
             |   CAST(array_position(__scores, array_max(__scores)) AS INT))
             | END""".stripMargin))
      .drop("__toks", "__scores")
  }

  /** N-gram/stopword-profile language identification. CJK text short-cuts
    * on codepoint range; otherwise the profile with the most token hits
    * wins (fixed tie order en, de, fr, es).
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame =
    withLangPred(docs, textCol).select("doc_id", "lang_pred")

  /** Gopher quality-rule gate (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", App. A1 — the
    * MassiveWeb filtering heuristics): the published rule set every
    * large-crawl curation pipeline starts from, emitted as per-document
    * measurements, per-rule booleans, and the conjunction `gopher_keep`:
    *
    *   1. word count within [minWords, maxWords] (paper: 50–100,000)
    *   2. mean word length within [3, 10] characters
    *   3. hash-symbol and ellipsis ('...' or '…') to-word ratios ≤ 0.1
    *   4. ≤ 90% of lines start with a bullet character (the paper
    *      removes only pages that are essentially ALL list)
    *   5. ≤ 30% of lines end with an ellipsis
    *   6. ≥ 80% of words contain at least one alphabetic character
    *   7. at least 2 hits from the paper's stop-word list
    *      {the, be, to, of, and, that, have, with}
    *
    * Every measurement is row-local string/array arithmetic — ONE codegen
    * projection, zero shuffles (plan-pinned), scan-bound at any corpus
    * size — and every expression is mirrored primitive-for-primitive in
    * the DuckDB oracle (counts via length-difference, never regex where a
    * replace does; chr(10) as the line separator because '\n' is an
    * escape in one engine and a literal in the other). Ratios are IEEE
    * divisions of exact integer counts, so the rule booleans compare
    * bit-identical doubles in both engines; NULL measurements (empty or
    * NULL text) fail their rules via coalesce(_, false). Alphabetic
    * means [a-z] on the lower-cased token — the deterministic
    * engine-agnostic reading.
    */
  def gopherRules(
      docs: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    withGopherRules(docs, textCol, minWords, maxWords).select(
      col("doc_id"), col("n_words"), col("mean_word_len"),
      col("hash_word_ratio"), col("ellipsis_word_ratio"),
      col("bullet_line_ratio"), col("ellipsis_line_ratio"),
      col("alpha_word_ratio"), col("n_stop_hits"),
      col("r_word_count"), col("r_word_len"), col("r_symbol"),
      col("r_bullet"), col("r_ellipsis"), col("r_alpha"), col("r_stop"),
      col("gopher_keep"))

  /** [[gopherRules]] as a COLUMN-ADDING pass: every measurement/rule
    * column plus `gopher_keep` appended to the input's own columns (the
    * [[CorpusPipeline]] fusion discipline — composition must not join
    * per-row projections of the corpus back on doc_id).
    */
  private[operators] def withGopherRules(
      docs: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords, "need 0 <= minWords <= maxWords")
    val bullets = "'•','‣','▪','-','*'"
    docs
      // staged columns: higher-order-function lambdas re-evaluate free
      // sub-expressions per element (the measured-4× decontamination
      // lesson), so the token and line arrays must be column references
      .withColumn("__toks",
        expr(s"coalesce(${tokensExpr(textCol)}, CAST(array() AS ARRAY<STRING>))"))
      .withColumn("__lines",
        expr(s"coalesce(filter(split($textCol, chr(10)), l -> trim(l) != ''), " +
          "CAST(array() AS ARRAY<STRING>))"))
      .withColumn("__nw", expr("CAST(size(__toks) AS BIGINT)"))
      .withColumn("__nl", expr("CAST(size(__lines) AS BIGINT)"))
      .withColumn("__mwl", expr(
        """CASE WHEN __nw = 0 THEN NULL ELSE
          | CAST(aggregate(__toks, 0L, (a, t) -> a + length(t)) AS DOUBLE) / __nw
          |END""".stripMargin))
      .withColumn("__hr", expr(
        s"""CASE WHEN __nw = 0 THEN NULL ELSE
           | CAST(length($textCol) - length(replace($textCol, '#', '')) AS DOUBLE) / __nw
           |END""".stripMargin))
      .withColumn("__er", expr(
        s"""CASE WHEN __nw = 0 THEN NULL ELSE
           | CAST((length($textCol) - length(replace($textCol, '...', ''))) DIV 3
           |   + (length($textCol) - length(replace($textCol, '…', ''))) AS DOUBLE) / __nw
           |END""".stripMargin))
      .withColumn("__br", expr(
        s"""CASE WHEN __nl = 0 THEN NULL ELSE
           | CAST(size(filter(__lines, l -> substring(ltrim(l), 1, 1) IN ($bullets))) AS DOUBLE) / __nl
           |END""".stripMargin))
      .withColumn("__elr", expr(
        """CASE WHEN __nl = 0 THEN NULL ELSE
          | CAST(size(filter(__lines,
          |   l -> right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…')) AS DOUBLE) / __nl
          |END""".stripMargin))
      .withColumn("__ar", expr(
        """CASE WHEN __nw = 0 THEN NULL ELSE
          | CAST(size(filter(__toks, t -> t RLIKE '[a-z]')) AS DOUBLE) / __nw
          |END""".stripMargin))
      .withColumn("__sh", expr(
        """CAST(size(filter(array('the','be','to','of','and','that','have','with'),
          | s -> array_contains(__toks, s))) AS BIGINT)""".stripMargin))
      .withColumn("n_words", col("__nw"))
      .withColumn("mean_word_len", expr("round(__mwl, 6)"))
      .withColumn("hash_word_ratio", expr("round(__hr, 6)"))
      .withColumn("ellipsis_word_ratio", expr("round(__er, 6)"))
      .withColumn("bullet_line_ratio", expr("round(__br, 6)"))
      .withColumn("ellipsis_line_ratio", expr("round(__elr, 6)"))
      .withColumn("alpha_word_ratio", expr("round(__ar, 6)"))
      .withColumn("n_stop_hits", col("__sh"))
      .withColumn("r_word_count", expr(s"__nw >= $minWords AND __nw <= $maxWords"))
      .withColumn("r_word_len", expr("coalesce(__mwl >= 3.0 AND __mwl <= 10.0, false)"))
      .withColumn("r_symbol", expr("coalesce(__hr <= 0.1 AND __er <= 0.1, false)"))
      .withColumn("r_bullet", expr("coalesce(__br <= 0.9, false)"))
      .withColumn("r_ellipsis", expr("coalesce(__elr <= 0.3, false)"))
      .withColumn("r_alpha", expr("coalesce(__ar >= 0.8, false)"))
      .withColumn("r_stop", expr("__sh >= 2"))
      .withColumn("gopher_keep", expr(
        "r_word_count AND r_word_len AND r_symbol AND r_bullet " +
          "AND r_ellipsis AND r_alpha AND r_stop"))
      .drop("__toks", "__lines", "__nw", "__nl", "__mwl", "__hr", "__er",
        "__br", "__elr", "__ar", "__sh")
  }

  /** Policy-boilerplate phrases whose presence drops a line in [[c4Rules]]
    * (the cookie/ToS notices every crawl page carries; the list used by
    * public C4 reproductions of Raffel et al. 2020 §2.2).
    */
  val c4PolicyPhrases: Seq[String] = Seq(
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies", "use of cookies", "use cookies")

  /** C4 cleaning-rule gate (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning with a Unified Text-to-Text Transformer", §2.2 —
    * the heuristics that produced the C4 corpus): the other canonical
    * public crawl-curation rule set next to [[gopherRules]]; a curation
    * pipeline runs both. Line-level rules REWRITE the page (C4 keeps the
    * page minus its bad lines), page-level rules gate it:
    *
    * Line keep (all must hold; kept lines form `text_clean`):
    *   1. ends in terminal punctuation — period, '!', '?', or a closing
    *      quotation mark ('"' or '”')
    *   2. has ≥ `minLineWords` whitespace words (default 5 follows the
    *      official C4 code, tfds c4_utils; the paper TEXT of Raffel et
    *      al. 2020 §2.2 says 3 words per line — a known paper/code
    *      discrepancy; the released dataset was built with 5)
    *   3. does not contain the word "javascript" (case-insensitive)
    *   4. does not contain a policy-boilerplate phrase
    *      ([[c4PolicyPhrases]])
    *
    * Page keep (`c4_keep`):
    *   5. ≥ `minSentences` sentences after line cleaning — sentences
    *      counted as terminal '.', '!', '?' characters in `text_clean`
    *      (the deterministic engine-portable proxy for the paper's
    *      English sentence splitter)
    *   6. the RAW page does not contain "lorem ipsum" (case-insensitive)
    *   7. the RAW page does not contain a curly brace '{' (code filter)
    *
    * Same contract as [[gopherRules]]: ONE codegen projection, zero
    * shuffles (plan-pinned), every expression mirrored
    * primitive-for-primitive in the DuckDB oracle (lines split on
    * chr(10) and space-trimmed; word counts on the shared ' +' split;
    * sentence counts via length-difference, never regex; NULL text fails
    * page rules via coalesce(_, false) and yields an empty `text_clean`).
    * Unlike gopherRules' measurement-only output this emits the cleaned
    * text, so the oracle hash also pins the exact line-rewrite
    * semantics cross-engine.
    */
  def c4Rules(
      docs: DataFrame, textCol: String = "text",
      minLineWords: Int = 5, minSentences: Int = 3): DataFrame =
    withC4Rules(docs, textCol, minLineWords, minSentences).select(
      col("doc_id"), col("n_lines"), col("n_kept_lines"),
      col("n_sentences"), col("text_clean"),
      col("r_sentences"), col("r_lorem"), col("r_brace"), col("c4_keep"))

  /** [[c4Rules]] as a COLUMN-ADDING pass — same composition contract as
    * [[withGopherRules]].
    */
  private[operators] def withC4Rules(
      docs: DataFrame, textCol: String = "text",
      minLineWords: Int = 5, minSentences: Int = 3): DataFrame = {
    require(minLineWords >= 0 && minSentences >= 0,
      "need minLineWords >= 0 and minSentences >= 0")
    val policyPred =
      c4PolicyPhrases.map(p => s"contains(lower(l), ${sqlStr(p)})").mkString(" OR ")
    docs
      // staged arrays (the gopherRules lesson: lambdas re-evaluate free
      // sub-expressions per element, so stage once per document). Lines
      // are TRIMMED here — C4 strips each line before testing it — which
      // is why the terminal-punct test below needs no rtrim.
      .withColumn("__lines", expr(
        s"""coalesce(filter(transform(split($textCol, chr(10)), l -> trim(l)),
           |  l -> l != ''), CAST(array() AS ARRAY<STRING>))""".stripMargin))
      .withColumn("__kept", expr(
        s"""filter(__lines, l ->
           |  right(l, 1) IN ('.', '!', '?', '"', '”')
           |  AND size(filter(split(lower(l), ' +'), t -> t != '')) >= $minLineWords
           |  AND NOT contains(lower(l), 'javascript')
           |  AND NOT ($policyPred))""".stripMargin))
      .withColumn("__tc", expr("array_join(__kept, chr(10))"))
      .withColumn("__ns", expr(
        """CAST((length(__tc) - length(replace(__tc, '.', '')))
          |  + (length(__tc) - length(replace(__tc, '!', '')))
          |  + (length(__tc) - length(replace(__tc, '?', ''))) AS BIGINT)""".stripMargin))
      .withColumn("n_lines", expr("CAST(size(__lines) AS BIGINT)"))
      .withColumn("n_kept_lines", expr("CAST(size(__kept) AS BIGINT)"))
      .withColumn("n_sentences", col("__ns"))
      .withColumn("text_clean", col("__tc"))
      .withColumn("r_sentences", expr(s"__ns >= $minSentences"))
      .withColumn("r_lorem",
        expr(s"coalesce(NOT contains(lower($textCol), 'lorem ipsum'), false)"))
      .withColumn("r_brace", expr(s"coalesce(NOT contains($textCol, '{'), false)"))
      .withColumn("c4_keep", expr("r_sentences AND r_lorem AND r_brace"))
      .drop("__lines", "__kept", "__tc", "__ns")
  }

  /** FineWeb custom quality filters (Penedo et al. 2024, "The FineWeb
    * Datasets", §3.6 / App. — the three line-shape heuristics FineWeb
    * added ON TOP of Gopher+C4 after ablations, plus the newline/word
    * ratio shipped with them; thresholds are the published defaults).
    * A document is DROPPED when any of:
    *
    *   1. fraction of lines ending in a stop char
    *      (`.` `'` `"` `!` `?`) is BELOW `minPunctRatio` (0.12)
    *   2. fraction of lines shorter than `shortLineLen` (30) chars is
    *      AT LEAST `maxShortRatio` (0.67)
    *   3. fraction of line characters sitting in DUPLICATE occurrences
    *      of a repeated line (len × (count−1), counted over exact line
    *      values within the document) is AT LEAST `maxDupCharRatio`
    *      (0.01)
    *   4. newline-to-word ratio EXCEEDS `maxNewlineWordRatio` (0.3)
    *
    * Engine-pinned semantics (the oracle hash gates these exactly):
    * lines are the trimmed, non-empty `\n`-splits; words are the
    * non-empty whitespace splits of the raw text (the explicit
    * [[wsClass]] — identical in Java and RE2); every ratio test is
    * evaluated in exact integer per-mille cross-multiplication
    * (numerator×1000 vs threshold-permille×denominator — no float
    * thresholds, 0.001 granularity). Zero-line edge:
    * rule 2 FAILS (0 < 0.67·0 is false — an empty page is all short
    * lines), rules 1 and 3 keep vacuously (0 ≥ 0.12·0; line_chars = 0),
    * and rule 4 still compares raw newlines to words, so a page of bare
    * newlines drops there too.
    *
    * Scale: one zero-shuffle projection over the corpus scan, the
    * [[gopherRules]]/[[c4Rules]] posture. The duplicate-line scan is
    * O(distinct_lines × lines) string comparisons PER DOCUMENT — row-
    * local CPU, bounded by page size, no exchange; the corpus-level
    * alternative (explode + groupBy) would shuffle every line of 100 TB
    * to measure a per-document property.
    */
  def fineWebRules(
      docs: DataFrame, textCol: String = "text",
      minPunctRatio: Double = 0.12, shortLineLen: Int = 30,
      maxShortRatio: Double = 0.67, maxDupCharRatio: Double = 0.01,
      maxNewlineWordRatio: Double = 0.3): DataFrame =
    withFineWebRules(docs, textCol, minPunctRatio, shortLineLen,
      maxShortRatio, maxDupCharRatio, maxNewlineWordRatio).select(
      col("doc_id"), col("n_lines"), col("punct_lines"),
      col("short_lines"), col("line_chars"), col("dup_line_chars"),
      col("n_words"), col("n_newlines"),
      col("r_punct"), col("r_short"), col("r_dup_lines"),
      col("r_newline"), col("fineweb_keep"))

  /** [[fineWebRules]] as a COLUMN-ADDING pass — the [[withGopherRules]]
    * composition contract. Ratio thresholds are scaled to exact integer
    * per-mille cross-multiplications, so callers may pass any double
    * with ≤3 decimals without a float compare entering the plan.
    */
  private[operators] def withFineWebRules(
      docs: DataFrame, textCol: String = "text",
      minPunctRatio: Double = 0.12, shortLineLen: Int = 30,
      maxShortRatio: Double = 0.67, maxDupCharRatio: Double = 0.01,
      maxNewlineWordRatio: Double = 0.3): DataFrame = {
    def permille(x: Double, name: String): Long = {
      val p = math.round(x * 1000)
      require(p >= 0 && math.abs(x * 1000 - p) < 1e-9,
        s"$name must be a non-negative multiple of 0.001, got $x")
      p
    }
    val punctPm = permille(minPunctRatio, "minPunctRatio")
    val shortPm = permille(maxShortRatio, "maxShortRatio")
    val dupPm = permille(maxDupCharRatio, "maxDupCharRatio")
    val nlPm = permille(maxNewlineWordRatio, "maxNewlineWordRatio")
    require(shortLineLen >= 0, "need shortLineLen >= 0")
    docs
      // staged arrays (the gopherRules lesson: lambdas re-evaluate free
      // sub-expressions per element — stage once per document)
      .withColumn("__fwl", expr(
        s"""coalesce(filter(transform(split($textCol, chr(10)), l -> trim(l)),
           |  l -> l != ''), CAST(array() AS ARRAY<STRING>))""".stripMargin))
      .withColumn("n_lines", expr("CAST(size(__fwl) AS BIGINT)"))
      .withColumn("punct_lines", expr(
        """CAST(size(filter(__fwl,
          |  l -> right(l, 1) IN ('.', '\'', '"', '!', '?'))) AS BIGINT)""".stripMargin))
      .withColumn("short_lines", expr(
        s"CAST(size(filter(__fwl, l -> length(l) < $shortLineLen)) AS BIGINT)"))
      .withColumn("line_chars", expr(
        "aggregate(__fwl, CAST(0 AS BIGINT), (acc, l) -> acc + length(l))"))
      // chars in duplicate occurrences beyond the first, per exact line
      // value: for each DISTINCT line, count its occurrences in the doc
      .withColumn("dup_line_chars", expr(
        """aggregate(array_distinct(__fwl), CAST(0 AS BIGINT), (acc, l) ->
          |  acc + length(l) * (size(filter(__fwl, x -> x = l)) - 1))""".stripMargin))
      .withColumn("n_words", expr(
        s"""CAST(size(filter(split($textCol, '$wsClassSql+'), t -> t != '')) AS BIGINT)"""))
      .withColumn("n_newlines", expr(
        s"CAST(length($textCol) - length(replace($textCol, chr(10), '')) AS BIGINT)"))
      .withColumn("r_punct", expr(
        s"coalesce(punct_lines * 1000 >= $punctPm * n_lines, false)"))
      .withColumn("r_short", expr(
        s"coalesce(short_lines * 1000 < $shortPm * n_lines, false)"))
      .withColumn("r_dup_lines", expr(
        s"coalesce(dup_line_chars * 1000 < $dupPm * line_chars" +
          s" OR line_chars = 0, false)"))
      .withColumn("r_newline", expr(
        s"coalesce(NOT (n_newlines * 1000 > $nlPm * n_words), false)"))
      .withColumn("fineweb_keep",
        expr("r_punct AND r_short AND r_dup_lines AND r_newline"))
      .drop("__fwl")
  }

  /** Token counting: whitespace tokens plus a BPE-ish regex token count
    * (letter runs, digit runs, single punctuation — the shape a byte-pair
    * tokenizer's pre-tokenizer produces).
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      expr(s"size(${tokensExpr(textCol)})").as("ws_tokens"),
      expr(s"size(regexp_extract_all($textCol, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0))")
        .as("bpe_tokens"))

  /** Document fingerprints: an md5 of whitespace-normalized lower-cased
    * text (portable across engines) and a cheap 64-bit xxhash for
    * petabyte-scale dedup keys.
    */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      normalizedMd5(textCol).as("fp_md5"),
      expr(s"xxhash64(lower(trim(regexp_replace($textCol, '$wsClassSql+', ' '))))").as("fp_xx64"))

  /** Normalization + md5 used as the exact-dedup key. */
  def normalizedMd5(textCol: String): Column =
    expr(s"md5(lower(trim(regexp_replace($textCol, '$wsClassSql+', ' '))))")

  /** Exploded (doc_id, token) pairs — the shared base of the corpus-level
    * operators below. split+explode are codegen'd; the only shuffle cost
    * is whatever the consumer aggregates.
    *
    * Deliberately explode-then-filter rather than `filter(split(...), …)`:
    * higher-order-function lambdas carry `NamedLambdaVariable` ids that
    * defeat plan canonicalization, so a HOF-bearing subtree consumed from
    * several branches would re-shuffle per branch instead of planning a
    * `ReusedExchange`. The lambda-free form lets every consumer of
    * [[docTokenFreq]] share ONE (doc, token) exchange.
    */
  def tokenPairs(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        explode(split(lower(col(textCol)), " +")).as("token"))
      .filter(col("token") =!= "")

  /** Per-document token frequencies (one shuffle on (doc_id, token);
    * map-side combine keeps the explode fan-out off the wire).
    */
  def docTokenFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    tokenPairs(docs, textCol).groupBy("doc_id", "token")
      .agg(expr("count(1)").as("tf_doc"))

  /** Corpus vocabulary: per-token total occurrences (`tf`) and document
    * frequency (`df`). Two staged shuffles — (doc,token) then token — both
    * with partial aggregation; the plan that builds vocab tables at any
    * corpus size.
    */
  def vocabulary(docs: DataFrame, textCol: String = "text"): DataFrame =
    docTokenFreq(docs, textCol).groupBy("token")
      .agg(sum("tf_doc").as("tf"), expr("count(1)").as("df"))

  /** Frequency-routed token-total join — the skew-safe replacement for a
    * `Window.partitionBy("token")` corpus total. A token-partitioned
    * window buffers one row per document containing the token in a single
    * task; for a Zipf-head token (a stopword) that partition is
    * corpus-sized at 100 TB. Here the totals are instead aggregated
    * vocabulary-style (two-phase partial aggregation: the wire carries at
    * most one row per upstream partition per token, so a stopword costs
    * #partitions rows, not #documents) and rejoined frequency-routed at
    * `headMin`:
    *
    *   - head (total >= headMin): at most P/headMin tokens exist for P
    *     total (doc, token) pairs — bounded, broadcastable, and joined
    *     without shuffling a single per-document row. Zipf puts every
    *     skewed key here.
    *   - tail (total < headMin): every surviving probe key has fewer than
    *     headMin rows by construction, so the hash-partitioned rejoin has
    *     no skewed partition; head-matched rows are filtered out before
    *     the exchange and never travel.
    *
    * Every probe row routes through exactly ONE side, so the result is
    * identical for any headMin — the knob trades broadcast size against
    * shuffle volume, never answers. All three consumers of the per-doc
    * build (totals, head probe, tail probe) share one (doc, token)
    * exchange via ReusedExchange (see [[tokenPairs]] on why the build is
    * lambda-free).
    */
  private[operators] def joinTokenTotals(
      perDoc: DataFrame, totalAgg: Column, totalName: String,
      headMin: Long, keyCol: String = "token"): DataFrame =
    routedJoin(perDoc, perDoc.groupBy(keyCol).agg(totalAgg.as(totalName)),
      keyCol, totalName, headMin)

  /** The frequency-routed join itself, for an EXTERNAL key-level table
    * (e.g. one carrying several per-key statistics): `keyTable` rows with
    * `freqCol >= headMin` join via broadcast (the Zipf head — bounded
    * count, no per-row shuffle), the rest via hash join whose partitions
    * are under `headMin` rows per key by construction. `freqCol` must be
    * non-null and must be (an upper bound on) the probe-side row count
    * per key for the skew argument to hold. Routing never changes
    * answers — every probe row matches exactly one side.
    *
    * Composition note: routing OUTPUT is a two-branch union, and each
    * branch re-instantiates the probe subtree (deduped at exchange
    * boundaries by ReusedExchange, so no extra scans/shuffles — but extra
    * plan surface). Do NOT chain routed joins one after another: a second
    * routing over the first's union multiplies branches 2×2. Compute all
    * per-key statistics into ONE key-level table first (key-level aggs
    * are small — type counts, not row counts) and route ONCE; see
    * [[bigramSurprise]].
    */
  private[operators] def routedJoin(
      probe: DataFrame, keyTable: DataFrame, keyCol: String,
      freqCol: String, headMin: Long): DataFrame = {
    require(headMin > 0, "headMin must be positive")
    val head = keyTable.filter(col(freqCol) >= headMin)
    val tail = keyTable.filter(col(freqCol) < headMin)
    val withHead = probe.join(broadcast(head), Seq(keyCol), "left")
    val viaHead = withHead.filter(col(freqCol).isNotNull)
    val attached = keyTable.columns.filterNot(_ == keyCol)
    val viaTail = attached.foldLeft(withHead.filter(col(freqCol).isNull))(_.drop(_))
      .join(tail, Seq(keyCol))
    viaHead.unionByName(viaTail)
  }

  /** Per-document top-k salient terms, scored `tf_doc * N / df` — a
    * rational-idf variant of tf-idf (monotone in tf and 1/df). The natural-
    * log idf is deliberately avoided in the scored output: ln differs in
    * the last ulp across libm implementations, which breaks cross-engine
    * hash parity; multiply/divide are IEEE-exact everywhere.
    *
    * The corpus size enters the plan as a broadcast scalar (a 1-row
    * aggregate cross-joined in), NOT a driver-side `docs.count()` action:
    * one Spark job total, no extra build-time scan before the real query
    * runs (VERDICT r2 "What's wrong" #3). Document frequencies arrive via
    * [[joinTokenTotals]] (skew-safe; `headMinDf` is its routing knob and
    * never changes answers); the only window left partitions by `doc_id`,
    * whose partitions are bounded by a document's vocabulary, and Spark
    * 4's WindowGroupLimit pushes the top-k below that exchange.
    */
  def topTerms(
      docs: DataFrame, k: Int = 5, textCol: String = "text",
      headMinDf: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val total = docs.select(expr("count(1)").as("__total_docs"))
    // df = count(nullif(tf_doc, 0)), not count(1): identical values
    // (tf_doc = count(1) >= 1, so nullif never fires), but the optimizer
    // cannot prove that, so tf_doc survives column pruning in the totals
    // branch — keeping its (doc, token) exchange canonically identical to
    // the probe branches' and eligible for ReusedExchange (one corpus
    // scan+explode instead of two; pinned in PlanShapeSpec). A plain
    // count(tf_doc) gets normalized back to count(1) and re-pruned.
    joinTokenTotals(docTokenFreq(docs, textCol),
      expr("count(nullif(tf_doc, 0))"), "df", headMinDf)
      .crossJoin(broadcast(total))
      .withColumn("score", expr(
        "round(CAST(tf_doc AS DOUBLE) * CAST(__total_docs AS DOUBLE) / CAST(df AS DOUBLE), 6)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "score", "rank")
  }

  /** Unigram surprise scoring (CCNet-style "how typical is this document
    * of the corpus" signal, ln-free): per document, the tf-weighted mean
    * INVERSE unigram probability of its tokens,
    * `sum(tf_doc * N/tf_corpus) / n_tokens` — boilerplate full of common
    * tokens scores low, rare-token noise scores high. The classic form
    * is mean negative log-prob (cross-entropy), but `ln` differs in the
    * last ulp across libm implementations and breaks cross-engine hash
    * parity (see [[topTerms]]); N/tf is a single IEEE division —
    * bit-identical everywhere — and ranks documents monotonically for
    * filtering just the same.
    *
    * Determinism discipline: each token's N/tf is quantized to integer
    * micro-units BEFORE the per-document sum, so the aggregation is
    * exact fixed-point arithmetic — engine/partition/order independent —
    * and only the final mean is rounded. The micro-units and their sum
    * are DECIMAL(38,0), not BIGINT: a singleton token's inverse
    * probability is 1e6·N, which overflows a signed 64-bit long once the
    * corpus passes ~9.2e12 tokens — inside the 100 TB posture — and
    * Spark (ANSI off) would wrap silently where DuckDB errors, breaking
    * parity. DECIMAL(38,0) stays exact to 1e38.
    *
    * Plan: one (doc, token) aggregation, corpus token totals via
    * [[joinTokenTotals]] (skew-safe two-phase aggregation + frequency-
    * routed rejoin; `headMinTf` routes, never changes answers), corpus
    * size as a broadcast scalar, and the per-document aggregation.
    */
  def unigramSurprise(
      docs: DataFrame, textCol: String = "text",
      headMinTf: Long = 100000L): DataFrame = {
    val n = docs.select(expr(
      s"CAST(sum(size(${tokensExpr(textCol)})) AS BIGINT)").as("__n"))
    joinTokenTotals(docTokenFreq(docs, textCol), sum("tf_doc"), "tf", headMinTf)
      .crossJoin(broadcast(n))
      .withColumn("__ip_micro", expr(
        "CAST(round(1e6 * CAST(__n AS DOUBLE) / CAST(tf AS DOUBLE)) AS DECIMAL(38,0))"))
      .groupBy("doc_id")
      .agg(
        sum("tf_doc").as("n_tokens"),
        expr("round(CAST(sum(CAST(tf_doc AS DECIMAL(38,0)) * __ip_micro) AS DOUBLE)" +
          " / (1e6 * CAST(sum(tf_doc) AS DOUBLE)), 6)").as("surprise"))
  }

  /** Within-document repetition signals (Gopher-style quality filters):
    * token count, distinct-token count, repetition ratio (1 - distinct /
    * total) and the share of the single most frequent token. One staged
    * aggregation; per-row otherwise.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docTokenFreq(docs, textCol).groupBy("doc_id")
      .agg(
        sum("tf_doc").as("n_tokens"),
        expr("count(1)").as("n_distinct"),
        max("tf_doc").as("__max_tf"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)")
          .as("repetition_ratio"),
        expr("round(CAST(__max_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)")
          .as("top_token_share"))

  /** Corpus mix report over declared grouping columns (language, source
    * domain, …): document counts, char volume, and each cell's share of
    * the corpus — the data-mixing summary every curation pipeline needs.
    * One shuffle on the grouping key. The corpus total is the window sum
    * of the per-group counts (groups partition the corpus, NULL keys
    * included), computed over the already-aggregated result — bounded by
    * group cardinality, so the global window is safe at any corpus size
    * and the input is scanned exactly once (no build-time `count()`
    * action — VERDICT r2 "What's wrong" #3).
    */
  def mixReport(
      docs: DataFrame,
      groupCols: Seq[String] = Seq("lang", "source"),
      textCol: String = "text"): DataFrame =
    docs.groupBy(groupCols.map(col): _*)
      .agg(
        expr("count(1)").as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("n_chars_total"))
      .withColumn("pct_docs", expr(
        "round(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) * 100.0, 6)"))

  /** Hierarchical corpus-composition report: [[mixReport]]'s counts at
    * EVERY prefix level of the grouping hierarchy in one pass —
    * (lang, source), per-lang subtotals, and the grand total — via
    * `ROLLUP`. Spark plans this as one Expand (each row duplicated once
    * per level, a CONSTANT #levels fan-out applied scan-side) feeding a
    * single two-phase aggregation — one shuffle, identical to the flat
    * report, never one pass per level. `level` is the `grouping_id()`
    * bitmask (0 = leaf, ascending = coarser), which is what
    * distinguishes a subtotal row from a genuine NULL group value — the
    * classic rollup ambiguity; both engines compute the same bitmask so
    * the column crosses the hash gate.
    */
  def mixRollup(
      docs: DataFrame,
      groupCols: Seq[String] = Seq("lang", "source"),
      textCol: String = "text"): DataFrame =
    docs.rollup(groupCols.map(col): _*)
      .agg(
        expr("count(1)").as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("n_chars_total"),
        grouping_id().cast("int").as("level"))

  /** Token-length histogram: documents bucketed by whitespace-token count
    * (`bucket = n_tokens div bucketSize`) with per-bucket doc and token
    * volumes — the input every sequence-length / packing plan starts from.
    * One shuffle on the (small) bucket key.
    */
  def tokenLengthHistogram(
      docs: DataFrame, bucketSize: Int = 16, textCol: String = "text"): DataFrame =
    docs
      .select(expr(s"size(${tokensExpr(textCol)})").as("n_tokens"))
      .groupBy(expr(s"CAST(n_tokens div $bucketSize AS INTEGER)").as("bucket"))
      .agg(
        expr("count(1)").as("n_docs"),
        expr("CAST(sum(n_tokens) AS BIGINT)").as("n_tokens_total"))
      .withColumn("bucket_lo", col("bucket") * bucketSize)

  /** Deterministic train/validation/test split assignment: a document's
    * split derives from an md5 of its id, so the assignment is stable
    * across runs, engines, partitionings, and corpus growth (new docs
    * never move old ones between splits — the property random splits
    * lack). The bucket is built from the first two md5 bytes via
    * character arithmetic, which every engine computes identically.
    *
    * `fractions` are (name, weight) pairs normalized over their sum,
    * mapped onto contiguous bucket ranges of [0, 65536).
    */
  /** Uniform bucket in [0, 65536) from the first four hex digits of a
    * staged `__h` md5 column, parsed via instr character arithmetic —
    * identical in Spark and DuckDB (no conv() portability concerns).
    */
  private[operators] def md5Bucket16Expr: String = {
    def hv(k: Int) = s"(instr('0123456789abcdef', substr(__h, $k, 1)) - 1)"
    s"(((${hv(1)} * 16 + ${hv(2)}) * 16 + ${hv(3)}) * 16 + ${hv(4)})"
  }

  def assignSplit(
      docs: DataFrame, fractions: Seq[(String, Double)],
      idCol: String = "doc_id"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0), "positive weights required")
    val total = fractions.map(_._2).sum
    val bucketExpr = md5Bucket16Expr
    val bounds = fractions.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .map(f => math.round(f * 65536).toInt)
    val cases = fractions.zipWithIndex.map { case ((name, _), i) =>
      s"WHEN __bucket < ${bounds(i + 1)} THEN '$name'"
    }.mkString(" ")
    docs
      .withColumn("__h", expr(s"md5(CAST($idCol AS STRING))"))
      .withColumn("__bucket", expr(bucketExpr))
      .withColumn("split", expr(s"CASE $cases ELSE '${fractions.last._1}' END"))
      .drop("__h", "__bucket")
  }

  /** Stratified sample by a category column with per-value fractions —
    * the mixing knob: pair with [[mixReport]] to rebalance a corpus.
    * Seeded Bernoulli sampling per stratum (`DataFrameStatFunctions
    * .sampleBy`): no shuffle, each task filters its own rows. The sample
    * depends on partitioning (per-partition RNG streams) — use
    * [[stratifiedSampleHash]] when the selection must be reproducible
    * across engines, runs, and repartitionings.
    */
  def stratifiedSample(
      docs: DataFrame, byCol: String, fractions: Map[String, Double],
      seed: Long = 42L): DataFrame =
    docs.stat.sampleBy(byCol, fractions, seed)

  /** Deterministic stratified sample: a row is kept iff its content-derived
    * bucket — the same first-four-md5-hex-digits arithmetic as
    * [[assignSplit]], hashed over `id || '|' || stratum` — falls below the
    * stratum's fraction of 65536. Fully reproducible across engines, runs,
    * partitionings, and corpus growth (adding documents never changes an
    * existing document's fate), and shuffle-free: each task filters its own
    * rows, exactly like the seeded Bernoulli form. Strata missing from
    * `fractions` are dropped (sampleBy semantics). The realized fraction is
    * exact in expectation with deviation O(1/√n) per stratum — same
    * contract as Bernoulli sampling.
    */
  def stratifiedSampleHash(
      docs: DataFrame, byCol: String, fractions: Map[String, Double],
      idCol: String = "doc_id"): DataFrame = {
    require(fractions.nonEmpty && fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val cases = fractions.toSeq.sortBy(_._1).map { case (v, f) =>
      s"WHEN '${v.replace("'", "''")}' THEN ${math.round(f * 65536).toInt}"
    }.mkString(" ")
    docs
      .withColumn("__h", expr(s"md5(concat(CAST($idCol AS STRING), '|', $byCol))"))
      .withColumn("__bucket", expr(md5Bucket16Expr))
      .filter(expr(s"__bucket < CASE $byCol $cases ELSE 0 END"))
      .drop("__h", "__bucket")
  }

  /** Deterministic weight-proportional sample: each row is kept with
    * probability min(1, targetRows · w / W_total) — the
    * sample-long-documents-proportionally-to-length (or
    * quality-score-weighted) selection every curation pipeline needs —
    * decided by ALL-INTEGER arithmetic over the row's content-derived
    * md5 bucket: keep iff `bucket · W_total < 65536 · targetRows · w`.
    * No floats anywhere, so the selection is exact and engine-portable
    * (hash-gated, q_weighted_sample), stable across runs, engines, and
    * partitionings, and shuffle-free per row (W_total attaches as a
    * 1-row broadcast scalar — the [[topTerms]] discipline). Unlike
    * [[assignSplit]] the decision is corpus-dependent ON PURPOSE — the
    * target is a fixed expected SIZE, so growing the corpus re-weights
    * everyone (use a fixed fraction-of-mass threshold instead when
    * growth-stability matters more than size). E[sample size] =
    * targetRows exactly when no row saturates (targetRows · w ≥ W_total
    * clips at P=1 — those rows are always kept, making the realized size
    * slightly below target; pick targetRows ≪ W_total/max(w) to avoid
    * saturation).
    *
    * Rows with null or non-positive weight drop (they carry zero
    * sampling mass). Overflow bound: `65536 · targetRows · max(w)` must
    * stay under 2^63 — holds through targetRows ~1e9 at max weight ~1e5;
    * beyond that, pre-scale the weights (the RELATIVE weights are all
    * that matters).
    */
  def weightedSampleHash(
      docs: DataFrame, weightExpr: String, targetRows: Long,
      idCol: String = "doc_id"): DataFrame = {
    require(targetRows > 0, "targetRows must be positive")
    val w = docs.withColumn("__w", expr(s"CAST($weightExpr AS BIGINT)"))
      .filter(col("__w").isNotNull && col("__w") > 0)
    val tot = w.agg(sum("__w").as("__wt"))
    w.crossJoin(broadcast(tot))
      .withColumn("__h", expr(s"md5(CAST($idCol AS STRING))"))
      .withColumn("__bucket", expr(md5Bucket16Expr))
      .filter(col("__bucket") * col("__wt") <
        lit(65536L) * lit(targetRows) * col("__w"))
      .drop("__h", "__bucket", "__w", "__wt")
  }

  /** BM25 keyword relevance ranking: score every document against a fixed
    * set of query terms and return the global top-k — the retrieval pass a
    * curation pipeline runs to seed quality classifiers or pull targeted
    * subsets out of a crawl.
    *
    * The whole score is a per-row projection: per-term `tf` comes from
    * `size(filter(tokens, …))` on the row's own token list, and document
    * length likewise, so the corpus is scanned ONCE with zero data
    * shuffles. Corpus statistics (N, avgdl, per-term df) are a single
    * 1-row aggregate cross-joined in as a broadcast scalar — the same
    * no-driver-action discipline as [[topTerms]]. The final top-k is a
    * `TakeOrderedAndProject` (per-partition heap + driver merge of k
    * rows), not a global sort.
    *
    * Scoring is the classic Okapi BM25 form with the rational idf
    * argument `(N - df + 0.5) / (df + 0.5)` used directly — `ln` is
    * banned from compared values (libm last-ulp divergence breaks
    * cross-engine hash parity; see [[topTerms]]) and the rational form
    * preserves the rank ordering BM25 needs. Per-term contributions are
    * quantized to integer micro-units BEFORE the cross-term sum, so the
    * aggregation is exact fixed-point arithmetic — engine/order
    * independent (the [[unigramSurprise]] determinism discipline).
    * DECIMAL(38,0), not BIGINT: a rare term's idf is O(N), so micro-units
    * reach 1e6·N·(k1+1) — past a signed long inside the 100 TB posture.
    */
  def bm25Rank(
      docs: DataFrame, terms: Seq[String], k: Int = 100,
      k1: Double = 1.2, b: Double = 0.75, textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "at least one query term required")
    val toks = tokensExpr(textCol)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"size(filter($toks, t -> t = ${sqlStr(t)})) AS __tf$i"
    }
    val base = docs.selectExpr(
      Seq("doc_id", s"size($toks) AS __dl") ++ tfCols: _*)
    val statAggs =
      Seq("count(1) AS __n",
        "CAST(sum(__dl) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS __avgdl") ++
      terms.indices.map(i =>
        s"sum(CASE WHEN __tf$i > 0 THEN 1 ELSE 0 END) AS __df$i")
    val stats = base.selectExpr(statAggs: _*)
    // every numeric literal is CAST to DOUBLE: bare `0.5` parses as a
    // DECIMAL literal in both Spark and DuckDB, and decimal-typed
    // intermediate arithmetic has engine-specific scale rules — forcing
    // doubles keeps both engines in bit-identical IEEE arithmetic
    val k1E = s"CAST($k1 AS DOUBLE)"
    val bE = s"CAST($b AS DOUBLE)"
    val termMicro = terms.indices.map { i =>
      s"""CASE WHEN __tf$i > 0 THEN CAST(round(
         |  1e6 * ((CAST(__n AS DOUBLE) - CAST(__df$i AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |           / (CAST(__df$i AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         |      * (CAST(__tf$i AS DOUBLE) * ($k1E + CAST(1.0 AS DOUBLE)))
         |      / (CAST(__tf$i AS DOUBLE)
         |         + $k1E * (CAST(1.0 AS DOUBLE) - $bE + $bE * CAST(__dl AS DOUBLE) / __avgdl))
         |) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END""".stripMargin
    }
    base.crossJoin(broadcast(stats))
      .withColumn("__micro", expr(termMicro.mkString("(", " + ", ")")))
      .filter(col("__micro") > 0)
      .select(col("doc_id"),
        expr("round(CAST(__micro AS DOUBLE) / 1e6, 6)").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Exploded (doc_id, bigram) pairs, `"w1 w2"` strings. LAMBDA-FREE by
    * design, like [[tokenPairs]]: higher-order-function lambdas carry
    * `NamedLambdaVariable` ids that defeat plan canonicalization, so a
    * HOF-built subtree consumed from several branches re-shuffles per
    * branch instead of planning `ReusedExchange`. `trim` before split
    * makes the empty-token filter unnecessary (the `' +'` regex leaves no
    * interior empties, trim kills the edge ones — same token list as
    * [[tokensExpr]]), and adjacent pairing is `arrays_zip` of the two
    * shifted `slice`s (the `greatest(…, 0)` guard keeps 0/1-token
    * documents at zero bigrams instead of a negative slice length).
    */
  def bigramPairs(docs: DataFrame, textCol: String = "text"): DataFrame =
    ngramPairs(docs, 2, textCol)

  /** Exploded (doc_id, n-gram) pairs for any n ≥ 2 — [[bigramPairs]]
    * generalized: `arrays_zip` of the n shifted `slice`s of the trimmed
    * token split, still lambda-free.
    */
  def ngramPairs(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame = {
    require(n >= 2, "ngramPairs needs n >= 2 (unigrams are tokenPairs)")
    val c = split(lower(trim(col(textCol))), " +")
    val flit = org.apache.spark.sql.functions.lit _
    val len = greatest(size(c) - (n - 1), flit(0))
    val shifted = (1 to n).map(i => slice(c, flit(i), len))
    docs.select(col("doc_id"),
        explode(arrays_zip(shifted: _*)).as("__bg"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(i => col(s"__bg.$i")): _*).as("token"))
  }

  /** Per-document adjacent-bigram frequencies — [[docTokenFreq]] over
    * bigrams (`token` holds the `"w1 w2"` string so the frequency-routed
    * total machinery applies unchanged).
    */
  def docBigramFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    bigramPairs(docs, textCol)
      .groupBy("doc_id", "token")
      .agg(expr("count(1)").as("tf_doc"))

  /** N-gram repetition signals (Gopher/RefinedWeb duplicate-n-gram
    * filters): per document, total and distinct n-gram counts, the
    * duplicate-n-gram ratio `1 - distinct/total`, and the share of the
    * single most frequent n-gram. The 2-/3-gram duplicate fractions are
    * the standard looping-text cutoffs one step past token-level
    * [[repetitionStats]]. Plan: one (doc, n-gram) aggregation + the
    * per-document rollup — both partial-aggregated; no corpus-level
    * state at all, so skew is bounded by document length.
    */
  def ngramRepetition(
      docs: DataFrame, n: Int = 2, textCol: String = "text"): DataFrame =
    ngramPairs(docs, n, textCol).groupBy("doc_id", "token")
      .agg(expr("count(1)").as("tf"))
      .groupBy("doc_id")
      .agg(
        sum("tf").as("n_ngrams"),
        expr("count(1)").as("n_distinct"),
        max("tf").as("__max_tf"))
      .select(
        col("doc_id"), col("n_ngrams"), col("n_distinct"),
        expr("round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_ngrams AS DOUBLE), 6)")
          .as("dup_ngram_ratio"),
        expr("round(CAST(__max_tf AS DOUBLE) / CAST(n_ngrams AS DOUBLE), 6)")
          .as("top_ngram_share"))

  /** Bigram surprise scoring — the conditional-probability step past
    * [[unigramSurprise]] toward the CCNet/KenLM perplexity filter: per
    * document, the frequency-weighted mean INVERSE conditional bigram
    * probability `sum(tf · cnt(w1 ·) / cnt(w1 w2)) / n_bigrams`.
    * Formulaic boilerplate (high-probability continuations) scores low;
    * disfluent or shuffled text scores high. ln-free and integer-
    * micro-unit quantized before summation, exactly like
    * [[unigramSurprise]] (DECIMAL(38,0) — a singleton bigram under a
    * stopword prefix reaches 1e6·cnt(prefix)).
    *
    * Plan: one (doc, bigram) aggregation, then TWO frequency-routed
    * total joins through [[joinTokenTotals]] — corpus bigram counts
    * keyed by the bigram, then prefix counts keyed by `w1` (a Zipf-head
    * stopword prefix is exactly the skew the routing exists for; both
    * `headMin` knobs route, never change answers) — and the final
    * per-document aggregation.
    */
  def bigramSurprise(
      docs: DataFrame, textCol: String = "text",
      headMin: Long = 100000L): DataFrame = {
    val perDoc = docBigramFreq(docs, textCol)
    // both statistics are functions of the bigram TYPE, so they are
    // assembled into one type-level table BEFORE the (single) routed join
    // back to per-document rows — chaining two routed joins instead
    // multiplies the union branches 2×2 (see [[routedJoin]]). The
    // prefix-total join runs at type level: per-prefix rows are bounded
    // by distinct continuations (≤ vocabulary), never by corpus size.
    // substring_index, not split_part: split_part's element_at is a
    // NULLABLE expression, so the left join below infers a vacuous
    // isnotnull(__w1) on its right side, pushes it under the (doc,
    // token) aggregate, and the de-canonicalized subtree re-scans the
    // corpus instead of reusing the shared exchange. substring_index is
    // non-nullable over the non-null concat_ws token — nothing to infer.
    val totals = perDoc.groupBy("token").agg(sum("tf_doc").as("tf_big"))
      .withColumn("__w1", expr("substring_index(token, ' ', 1)"))
    val prefix = totals.groupBy("__w1").agg(sum("tf_big").as("tf_prefix"))
    // LEFT join, though every key matches (prefix derives from totals):
    // an inner join lets Catalyst infer isnotnull(split_part(token, …))
    // and push it into the totals branch — a filter the probe branch
    // lacks, which de-canonicalizes the shared (doc, token) exchange and
    // forces a second corpus scan. The left join infers nothing, and in
    // the pruned probe-side instantiation (where only tf_big survives)
    // it is ELIMINATED outright because prefix aggregates on the join
    // key (duplicate-free) — no phantom distinct-prefix corpus scan.
    val typeTable = totals.join(prefix, Seq("__w1"), "left")
      .withColumn("__ip_micro", expr(
        "CAST(round(1e6 * CAST(tf_prefix AS DOUBLE) / CAST(tf_big AS DOUBLE)) AS DECIMAL(38,0))"))
      .select("token", "tf_big", "__ip_micro")
    routedJoin(perDoc, typeTable, "token", "tf_big", headMin)
      .groupBy("doc_id")
      .agg(
        sum("tf_doc").as("n_bigrams"),
        expr("round(CAST(sum(CAST(tf_doc AS DECIMAL(38,0)) * __ip_micro) AS DOUBLE)" +
          " / (1e6 * CAST(sum(tf_doc) AS DOUBLE)), 6)").as("surprise2"))
  }

  /** Kneser-Ney trigram LM cross-entropy scoring — the CCNet quality
    * filter (Wenzek et al. 2020: score every document with an n-gram LM
    * fitted on a held-out target slice; low perplexity ≈ target-like,
    * high ≈ noise), one order past [[bigramSurprise]]. `targetExpr`
    * marks the training slice (CCNet: Wikipedia; here e.g.
    * `col("lang") === "en"`); every document is scored, target or not.
    *
    * Model: interpolated Kneser-Ney with one fixed discount D
    * (Kneser & Ney 1995; Chen & Goodman 1999), lower orders on
    * CONTINUATION counts as the method prescribes. With c(·) trigram
    * counts from the target slice, N1+ type counts, and tokens padded
    * `<s> <s> … </s>` (so every scored event has a full context and the
    * tail bigram of a trigram enumerates every adjacent pair exactly
    * once):
    *
    *   P3(w3|w1w2) = max(c(w1w2w3)−D, 0)/c(w1w2·)
    *                 + D·N1+(w1w2·)/c(w1w2·) · P2(w3|w2)   [ctx seen]
    *   P2(w3|w2)   = max(N1+(·w2w3)−D, 0)/N1+(·w2·)
    *                 + D·N1+(w2·)/N1+(·w2·) · P1(w3)       [w2 seen]
    *   P1(w3)      = (N1+(·w3) + 1)/(N1+(··) + V + 1)
    *
    * with unseen-context fallthrough (ctx unseen → P2; w2 unseen → P1)
    * and an add-one continuation floor at the unigram level so OOV
    * tokens keep P > 0 (the 1/(N1+(··)+V+1) mass KenLM reserves for
    * `<unk>`). Every P is > 0 by construction, so ln is total.
    *
    * Emits per document: `n_events` (tokens + 1 scored trigrams),
    * `logprob` (Σ ln P in nats), and `xent_nats` (−logprob/n_events —
    * perplexity is exp of this, monotone, left to the caller: exp
    * doesn't hash-gate cross-engine, ln-at-type-level does).
    *
    * Determinism: ALL model statistics are exact integers; the only
    * `ln` runs once per trigram TYPE and is quantized to 1e-6 micro
    * units there (the [[graft.operators.Selection]] per-type
    * discipline); per-document sums are exact DECIMAL(38,0) with one
    * emitting division. IEEE DOUBLE arithmetic inside the P formula is
    * written operation-for-operation identically in the DuckDB oracle.
    *
    * Plan (one corpus scan): ONE (doc, trigram) two-phase aggregation
    * whose exchange is consumed twice (type-model agg + scoring probe —
    * ReusedExchange, plan-pinned); every model table is a TYPE-level
    * aggregation (vocab-bounded, never corpus-bounded) assembled into
    * one scored-type table via left joins on non-nullable
    * substring_index keys (the [[bigramSurprise]] de-canonicalization
    * lesson); the single corpus-sized join routes through
    * [[routedJoin]], so a Zipf-head trigram (`<s> <s> the`…) broadcasts
    * instead of hot-keying a shuffle partition. At 100 TB the model
    * tables shard with the cluster — nothing is collected or
    * broadcast except the 1-row totals.
    */
  def knPerplexity(
      docs: DataFrame, targetExpr: Column, textCol: String = "text",
      discount: Double = 0.75, headMin: Long = 100000L): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0,1)")
    val d = s"CAST($discount AS DOUBLE)"
    // materialized once (r17): the type-table consumer and the routed
    // probe used to share this exchange via AQE's stage cache, but a
    // checkpointed consumer materializes through its own job and the
    // probe then re-ran the whole corpus explode stage (profiled: two
    // identical 0.5 s single-scan jobs per execution). The blocks are
    // the same (doc, trigram, tf) bytes the exchange already spills to
    // disk — this just pins ONE corpus pass for all consumers.
    val perDoc = Materialize.pin(docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), targetExpr.as("__tgt"),
        expr(s"""concat(array('<s>', '<s>'),
                |  coalesce(${tokensExpr(textCol)}, CAST(array() AS ARRAY<STRING>)),
                |  array('</s>'))""".stripMargin).as("__pd"))
      .select(col("doc_id"), col("__tgt"),
        explode(expr(
          """transform(sequence(1, size(__pd) - 2), i ->
            |  concat_ws(' ', element_at(__pd, i), element_at(__pd, i + 1),
            |    element_at(__pd, i + 2)))""".stripMargin)).as("token"))
      .groupBy(col("doc_id"), col("__tgt"), col("token"))
      .agg(count(lit(1)).as("tf_doc")))
    // trigram TYPE table over the SCORED corpus: target counts (0 for
    // types the target never saw — they back off) + routing frequency.
    // No filter on __tgt before the agg: the CASE keeps the (doc,
    // trigram) exchange identical for both consumers (the DSIR lesson).
    // MATERIALIZED once (r17, guide §5 / the minhashPairs fan-out
    // discipline): the type table feeds SIX differently-keyed consumers
    // (the five backoff-model aggregations + the scored-type assembly),
    // each of which re-instantiated the corpus explode + (doc,trigram) +
    // (token) aggregations in the static plan — 8 parquet scans of the
    // corpus for one query. AQE's stage cache dedupes the shuffles but
    // re-runs every post-shuffle aggregation per consumer; a lazy local
    // checkpoint of the NARROW type rows (token + two longs — type-
    // bounded, never corpus-bounded) computes them once. The key
    // projections (__ctx/__tail/__w2/__w3) are derived ABOVE the
    // checkpoint so the stored rows stay narrow.
    val types = Materialize.pin(perDoc.groupBy("token").agg(
        sum(when(col("__tgt"), col("tf_doc")).otherwise(lit(0L))).as("__c3t"),
        sum(col("tf_doc")).as("__tf_all")))
      .withColumn("__ctx", expr("substring_index(token, ' ', 2)"))
      .withColumn("__tail", expr("substring_index(token, ' ', -2)"))
      .withColumn("__w2", expr("substring_index(substring_index(token, ' ', -2), ' ', 1)"))
      .withColumn("__w3", expr("substring_index(token, ' ', -1)"))
    val tt = types.filter(col("__c3t") > 0)
    // model tables — all aggregations over trigram TYPES (distinct
    // (w1,w2,w3) rows), so count(1) IS the N1+ type count at each key
    val ctxStats = tt.groupBy("__ctx").agg(
      sum("__c3t").as("__c2ctx"), count(lit(1)).as("__n1p2"))
    val tailStats = tt.groupBy("__tail").agg(count(lit(1)).as("__cont2"))
    val midStats = tt.groupBy("__w2").agg(count(lit(1)).as("__n1p_mid"))
    val folStats = tailStats
      .withColumn("__w2", expr("substring_index(__tail, ' ', 1)"))
      .groupBy("__w2").agg(count(lit(1)).as("__n1p_follow"))
    val unig = tailStats
      .withColumn("__w3", expr("substring_index(__tail, ' ', -1)"))
      .groupBy("__w3").agg(count(lit(1)).as("__n1p_prec"))
    val w2Stats = midStats.join(folStats, Seq("__w2")) // identical key sets
    val totals = tailStats.agg(count(lit(1)).as("__n1p_all"))
      .crossJoin(unig.agg(count(lit(1)).as("__v1")))
    // the fitted MODEL, materialized (r17): routedJoin instantiates its
    // key table TWICE (head filter + tail filter), which re-ran the
    // whole five-way model join per branch; the checkpointed rows are
    // the narrow (token, freq, logprob-micro) triple — the train-once /
    // probe-many discipline of [[graft.operators.Similarity.ivfFit]],
    // scoped to this query's execution.
    val scoredTypes = Materialize.pin(types
      .join(ctxStats, Seq("__ctx"), "left")
      .join(tailStats, Seq("__tail"), "left")
      .join(w2Stats, Seq("__w2"), "left")
      .join(unig, Seq("__w3"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__p1", expr(
        """(CAST(coalesce(__n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
          | / (CAST(__n1p_all AS DOUBLE) + CAST(__v1 AS DOUBLE) + CAST(1 AS DOUBLE))"""
          .stripMargin))
      .withColumn("__p2", expr(
        s"""CASE WHEN __n1p_mid IS NULL THEN __p1 ELSE
           |  greatest(CAST(coalesce(__cont2, 0) AS DOUBLE) - $d, CAST(0 AS DOUBLE))
           |    / CAST(__n1p_mid AS DOUBLE)
           |  + (($d * CAST(__n1p_follow AS DOUBLE) / CAST(__n1p_mid AS DOUBLE)) * __p1)
           |END""".stripMargin))
      .withColumn("__p3", expr(
        s"""CASE WHEN __c2ctx IS NULL THEN __p2 ELSE
           |  greatest(CAST(__c3t AS DOUBLE) - $d, CAST(0 AS DOUBLE))
           |    / CAST(__c2ctx AS DOUBLE)
           |  + (($d * CAST(__n1p2 AS DOUBLE) / CAST(__c2ctx AS DOUBLE)) * __p2)
           |END""".stripMargin))
      // the ONLY ln in the operator — once per trigram type, micro-quantized
      .select(col("token"), col("__tf_all"),
        expr("CAST(round(1e6 * ln(__p3)) AS DECIMAL(38,0))").as("__lp_micro")))
    routedJoin(perDoc, scoredTypes, "token", "__tf_all", headMin)
      .groupBy("doc_id")
      .agg(
        sum("tf_doc").as("n_events"),
        sum(expr("CAST(tf_doc AS DECIMAL(38,0)) * __lp_micro")).as("__sm"))
      .select(col("doc_id"), col("n_events"),
        expr("CAST(__sm AS DOUBLE) / 1e6").as("logprob"),
        // UNROUNDED division (the dsirWeights log_weight discipline):
        // __sm and n_events are exact integers, so -sm/(1e6·n) is ONE
        // IEEE operation — bit-identical in any engine. A round(…, 6)
        // here looked harmless and survived sf0.001–sf3, but the sf10
        // gate caught it: when the quotient's binary value sits just
        // below a .5×1e-6 decimal boundary, Spark (which rounds the
        // shortest decimal rendering, HALF_UP) and DuckDB (which rounds
        // the binary value) disagree by one micro — 82 of 500k docs
        expr("-CAST(__sm AS DOUBLE) / (1e6 * CAST(n_events AS DOUBLE))")
          .as("xent_nats"))
  }

  /** Windowed PMI co-occurrence — the skip-gram collocation table
    * ("new york", "machine learning") behind phrase mining and static
    * embedding pipelines: every ORDERED token pair within `window`
    * positions is counted corpus-wide, and each surviving pair carries
    * its PMI ratio `P(w1,w2) / (P(w1)·P(w2))` — the `exp(PMI)` argument
    * — in integer micro-units. ln-free BY CHOICE (the BM25 rational-idf
    * and [[bigramSurprise]] lesson: transcendentals don't hash-gate;
    * monotone in PMI, so ranking/thresholding is unaffected), with the
    * marginals taken over the pair relation itself (w1-slot and w2-slot
    * counts), so everything derives from ONE (pair → count) table.
    *
    * Plan: pair generation is a per-row projection (nested transform
    * over the row's own token array — fan-out ≤ window, never a join);
    * one (pair) two-phase aggregation; marginals and the grand total are
    * TYPE-level aggregations over the pair-count table (vocab-bounded,
    * not corpus-bounded) joined back to the `minPairCount`-filtered
    * pairs — the [[bigramSurprise]] totals discipline, including
    * substring_index (non-nullable) for the slot keys so the joins
    * cannot de-canonicalize the shared exchange. `minPairCount` bounds
    * the emitted relation (and kills the PMI-of-rare-pair noise every
    * collocation pipeline filters anyway).
    */
  def pmiCooccurrence(
      docs: DataFrame, window: Int = 3, minPairCount: Long = 5L,
      textCol: String = "text"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(minPairCount >= 1, "minPairCount must be >= 1")
    val toks = tokensExpr(textCol)
    val pairs = docs
      .select(expr(toks).as("__t"))
      .filter(expr("size(__t) >= 2"))
      .select(explode(expr(
        s"flatten(transform(sequence(1, size(__t) - 1), i -> " +
          s"transform(slice(__t, i + 1, $window), u -> " +
          s"concat(element_at(__t, i), ' ', u))))")).as("token"))
    val pairCounts = pairs.groupBy("token")
      .agg(count(lit(1)).as("n_pair"))
      .withColumn("__w1", expr("substring_index(token, ' ', 1)"))
      .withColumn("__w2", expr("substring_index(token, ' ', -1)"))
    val c1 = pairCounts.groupBy("__w1").agg(sum("n_pair").as("__c1"))
    val c2 = pairCounts.groupBy("__w2").agg(sum("n_pair").as("__c2"))
    val tot = pairCounts.agg(sum("n_pair").as("__n"))
    pairCounts
      .filter(col("n_pair") >= minPairCount)
      .join(c1, Seq("__w1"), "left")
      .join(c2, Seq("__w2"), "left")
      .crossJoin(broadcast(tot))
      // lockstep association order with the oracle: (n/c1) * (N/c2);
      // DECIMAL(38,0) crosses the gate as digit strings (the
      // embeddingDimStats discipline — BIGINT can overflow at 1e20-scale
      // micro ratios, and engines render DECIMAL differently)
      .select(col("token"), col("n_pair"),
        expr("CAST(CAST(round(1e6 * ((CAST(n_pair AS DOUBLE) / CAST(__c1 AS DOUBLE))" +
          " * (CAST(__n AS DOUBLE) / CAST(__c2 AS DOUBLE)))) AS DECIMAL(38,0)) AS STRING)")
          .as("pmi_ratio_micro"))
  }

  /** Resample a corpus to target mixture proportions — the rebalancing
    * pass multilingual / multi-source pipelines run ("make the kept set
    * 40% en / 20% de / …"). Strata absent from `targets` are dropped.
    *
    * The largest subset achieving the target mix keeps `K · w_v` rows
    * from stratum v, where `K = min_u(c_u / w_u)` is set by the
    * bottleneck stratum (which keeps 100% of its rows). Per-stratum keep
    * fractions derive from the counts IN-PLAN: one aggregation over the
    * grouping key (group-cardinality rows), a `min(…) OVER ()` window
    * over that tiny relation — never over data rows — and a broadcast
    * join back; no driver-side action. Row selection is the
    * content-derived md5-bucket threshold of [[stratifiedSampleHash]]:
    * deterministic across engines, runs, partitionings, and corpus
    * growth, and shuffle-free on the data side. Realized fractions are
    * exact in expectation (deviation O(1/√n) per stratum, the Bernoulli
    * contract).
    */
  def mixResample(
      docs: DataFrame, byCol: String, targets: Seq[(String, Double)],
      idCol: String = "doc_id"): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "positive target weights required")
    // normalization happens in EXPRESSION text (literal weight sum), not in
    // Scala: a Scala-side w/sum double may not round-trip through its
    // string form identically to what a hand-written oracle embeds, and
    // hash parity needs both engines computing literally the same
    // arithmetic on literally the same literals
    val wSumExpr = targets.map(w => s"CAST(${w._2} AS DOUBLE)")
      .mkString("(", " + ", ")")
    val cases = targets.map { case (v, w) =>
      s"WHEN '${v.replace("'", "''")}' THEN CAST($w AS DOUBLE) / $wSumExpr"
    }.mkString(" ")
    val thresh = docs.groupBy(byCol)
      .agg(expr("count(1)").as("__c"))
      .withColumn("__w", expr(s"CASE $byCol $cases END"))
      .filter(col("__w").isNotNull)
      .withColumn("__k", expr(
        "min(CAST(__c AS DOUBLE) / __w) OVER ()"))
      .withColumn("__thresh", expr(
        "CAST(round(__k * __w / CAST(__c AS DOUBLE) * 65536) AS INTEGER)"))
      .select(col(byCol), col("__thresh"))
    docs.join(broadcast(thresh), Seq(byCol))
      .withColumn("__h", expr(s"md5(concat(CAST($idCol AS STRING), '|', $byCol))"))
      .withColumn("__bucket", expr(md5Bucket16Expr))
      .filter(col("__bucket") < col("__thresh"))
      .drop("__h", "__bucket", "__thresh")
  }

  /** PII redaction patterns: (name, regex, replacement token). The shapes
    * are the standard corpus-curation redaction set (emails, dotted-quad
    * IPs, phone-like digit runs), written in the common subset of Java
    * regex and RE2 — no backreferences or lookaround — so an external
    * engine (the DuckDB oracle, a Python re-implementation) can mirror
    * the pipeline byte-for-byte. ORDER MATTERS and is part of the
    * contract: emails first (their local parts contain digits and dots),
    * then IPv4 (dotted digits a later digit-run pattern would chew up),
    * then the aggressive phone/digit-run pattern.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b", "<IP>"),
    ("phone", "\\+?\\d[\\d() -]{7,}\\d", "<PHONE>"))

  /** URL pattern (Java-regex/RE2-common, like [[piiPatterns]]): scheme +
    * non-space host + non-space tail, with whitespace pinned to the
    * explicit [[wsClass]] members so Java and RE2 agree on U+000B.
    * Deliberately greedy on the tail — trailing punctuation stays
    * attached, the standard cheap extractor.
    */
  val urlPattern: String =
    "https?://[^ \\t\\n\\x0B\\f\\r/]+[^ \\t\\n\\x0B\\f\\r]*"

  /** Per-domain URL statistics over a corpus: extract every URL
    * ([[urlPattern]]), reduce to the lower-cased host, and aggregate URL
    * and document counts per domain — the provenance/mix report run on
    * crawl-derived training corpora. One explode (bounded by URLs per
    * doc) + one aggregation; the distinct-doc count rides the same
    * shuffle as a two-phase partial agg.
    */
  def domainStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val flit = org.apache.spark.sql.functions.lit _
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(col(textCol), flit(urlPattern), flit(0)))
          .as("url"))
      .select(col("doc_id"),
        lower(regexp_extract(col("url"), "https?://([^/:?#]+)", 1)).as("domain"))
      .groupBy("domain")
      .agg(count(flit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
  }

  /** Tracking-parameter names stripped by [[urlCanonicalize]]: the
    * standard analytics/click identifiers (utm_* campaign fields,
    * Facebook fbclid, Google gclid) that make byte-identical pages look
    * like distinct URLs. Anchored param-level pattern in the Java/RE2
    * common subset (the [[piiPatterns]] discipline) so an external
    * engine mirrors it exactly.
    */
  val trackingParamPattern: String = "^(utm_[^=]*|fbclid|gclid)(=.*)?$"

  /** URL canonicalization — the key a crawl pipeline dedups on BEFORE
    * content dedup (two fetches of one page usually differ only in
    * tracking params/fragment/case): adds `url_canon` and `url_key`
    * (md5 of the canonical form) next to `urlCol`. Rules, in order:
    * scheme and host lower-cased; default ports dropped (http:80,
    * https:443), explicit non-default ports kept; fragment removed;
    * empty path becomes '/'; query params split on '&', tracking params
    * ([[trackingParamPattern]]) removed, the rest sorted byte-wise and
    * re-joined (duplicate keys kept — reordering must not merge distinct
    * resources); a now-empty query drops its '?'. Percent-encoding and
    * userinfo are passed through untouched (normalizing them needs a
    * full RFC 3986 resolver; crawl URLs rarely carry either). Non-http(s)
    * or null input yields NULL `url_canon`/`url_key` — callers route
    * those rows, they never silently collide.
    *
    * Pure codegen projection — zero shuffles, scan-bound; every
    * primitive (regexp_extract, split, filter, array_sort, concat, md5)
    * is mirrored function-for-function in the DuckDB oracle.
    */
  def urlCanonicalize(df: DataFrame, urlCol: String = "url"): DataFrame =
    df
      .withColumn("__scheme",
        lower(regexp_extract(col(urlCol), "^([a-zA-Z]+)://", 1)))
      .withColumn("__hostport",
        regexp_extract(col(urlCol), "^[a-zA-Z]+://([^/?#]+)", 1))
      .withColumn("__host", expr("lower(regexp_extract(__hostport, '^([^:]*)', 1))"))
      .withColumn("__port", expr("regexp_extract(__hostport, ':([0-9]+)$', 1)"))
      .withColumn("__rest",
        regexp_extract(col(urlCol), "^[a-zA-Z]+://[^/?#]+([^#]*)", 1))
      .withColumn("__path", expr("regexp_extract(__rest, '^([^?]*)', 1)"))
      .withColumn("__query", expr("regexp_extract(__rest, '[?](.*)$', 1)"))
      .withColumn("__params", expr(
        s"""array_sort(filter(split(__query, '&'),
           |  p -> p != '' AND NOT p RLIKE '$trackingParamPattern'))""".stripMargin))
      .withColumn("url_canon", expr(
        """CASE WHEN __scheme IN ('http', 'https') AND __hostport != '' THEN
          |  concat(__scheme, '://', __host,
          |    CASE WHEN __port = '' OR (__scheme = 'http' AND __port = '80')
          |           OR (__scheme = 'https' AND __port = '443') THEN ''
          |         ELSE concat(':', __port) END,
          |    CASE WHEN __path = '' THEN '/' ELSE __path END,
          |    CASE WHEN size(__params) > 0
          |         THEN concat('?', array_join(__params, '&')) ELSE '' END)
          |ELSE NULL END""".stripMargin))
      .withColumn("url_key", md5(col("url_canon")))
      .drop("__scheme", "__hostport", "__host", "__port", "__rest",
        "__path", "__query", "__params")

  /** Zero-width codepoints removed by [[unicodeClean]] — ZWSP/ZWNJ/ZWJ
    * and the BOM-as-content U+FEFF: invisible characters that split
    * tokens, defeat exact dedup, and inflate token counts. `\x{...}`
    * escapes are the Java/RE2 common subset (the [[piiPatterns]]
    * discipline) so an external engine mirrors the class exactly.
    */
  val zeroWidthClass: String = "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]"

  /** Control characters stripped by [[unicodeClean]]: C0 controls except
    * tab/newline (CR is handled by the newline-normalization step before
    * this class applies), plus DEL.
    */
  val controlClass: String = "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]"

  /** Unicode text normalization — the cleanup pass a crawl corpus runs
    * BEFORE tokenization/dedup (decomposed accents, zero-width
    * characters, and stray controls make byte-different renderings of
    * identical text): adds `text_norm` plus per-step accounting. Steps,
    * in order (each mirrored function-for-function in DuckDB):
    *
    *   1. newline normalization: CRLF → LF, then lone CR → LF;
    *   2. zero-width removal ([[zeroWidthClass]]);
    *   3. control-char strip ([[controlClass]] — tab/LF survive);
    *   4. NFC canonical composition (`text_nfc`, UAX #15 — DuckDB's
    *      `nfc_normalize` is the same algorithm, and Unicode's
    *      normalization stability policy makes the two engines agree on
    *      every assigned codepoint).
    *
    * Accounting: `n_crlf_fixed` (codepoints dropped by step 1 — one per
    * CRLF pair), `n_zero_width`, `n_control` (codepoints removed by
    * steps 2/3), `was_denormalized` (step 4 changed the string),
    * `changed` (any step fired). Counts are `length()` deltas —
    * codepoint counts in both engines.
    *
    * Pure codegen projection — zero shuffles, scan-bound at any corpus
    * size; NFC costs one quick-check scan per string on already-clean
    * text (the common case) via [[graft.functions.NfcImpl]].
    */
  def unicodeClean(docs: DataFrame, textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("__t1", regexp_replace(
        regexp_replace(col(textCol), "\r\n", "\n"), "\r", "\n"))
      .withColumn("__t2", regexp_replace(col("__t1"), zeroWidthClass, ""))
      .withColumn("__t3", regexp_replace(col("__t2"), controlClass, ""))
      .withColumn("text_norm", expr("text_nfc(__t3)"))
      .withColumn("n_crlf_fixed", length(col(textCol)) - length(col("__t1")))
      .withColumn("n_zero_width", length(col("__t1")) - length(col("__t2")))
      .withColumn("n_control", length(col("__t2")) - length(col("__t3")))
      .withColumn("was_denormalized", col("text_norm") =!= col("__t3"))
      .withColumn("changed", col("text_norm") =!= col(textCol))
      .drop("__t1", "__t2", "__t3")
  }

  /** SymSpell-style fuzzy vocabulary matching (Garbe's deletion-
    * neighborhood algorithm, the standard scalable spell/OCR-noise map):
    * each RARE word (corpus frequency ≤ `rareMax`) is mapped to the most
    * frequent CANONICAL word (frequency ≥ `canonMin`) within Levenshtein
    * distance 1, if any. The candidate discipline is the SymSpell
    * observation that two words at edit distance ≤ 1 ALWAYS share an
    * element of their deletion neighborhoods (the word itself plus every
    * single-character deletion): substitution at position i → both sides
    * delete i; insertion/deletion → the shorter word IS a deletion of
    * the longer. So an equi-join on deletion variants is LOSSLESS for
    * k = 1 (property-tested against an all-pairs brute force in
    * FuzzyVocabPropSpec) — never an all-pairs scan, never a similarity
    * window. Candidates sharing a variant at distance 2 (delete-at-i vs
    * delete-at-j) are removed by the exact `levenshtein` verification.
    *
    * Tie-break (exact, cross-engine): highest canonical frequency, then
    * lexicographically smallest canonical word. Output: one row per
    * mapped rare word — `word, freq, canon, canon_freq`.
    *
    * Scale posture: the vocabulary is TYPE-bounded (Heaps' law — far
    * sublinear in corpus tokens) and built with the two staged partial
    * aggregations of [[vocabulary]]; both frequency classes filter ONE
    * shared vocab subtree. The variant explode multiplies the rare/canon
    * tables by ~word length + 1. The join key is a deletion variant `v`
    * of length L, reachable only from v itself and single-character
    * insertions into v — at most 26·(L+1) + 1 words — so per-key fanout
    * has a CONSTANT alphabet-size bound: the join is linear in vocab
    * with no skewable key, at 100 TB as at test scale. `minLen` keeps
    * short words (whose neighborhoods blur real distinctions: cat/car)
    * out of both classes.
    */
  def fuzzyVocabMap(docs: DataFrame, textCol: String = "text",
      rareMax: Long = 2, canonMin: Long = 10, minLen: Int = 4): DataFrame = {
    require(rareMax < canonMin, "rare and canonical classes must be disjoint")
    val vocab = vocabulary(docs, textCol)
      .filter(col("token").rlike("^[a-z]+$") &&
        length(col("token")) >= minLen)
      .select(col("token").as("word"), col("tf").as("freq"))
    // deletion neighborhood: __i = 0 keeps the word; __i = k deletes
    // character k. Lambda-free (sequence + CASE, not transform) so the
    // shared vocab subtree canonicalizes and plans ONE ReusedExchange.
    def variants(df: DataFrame, w: String, f: String): DataFrame =
      df.select(col("word").as(w), col("freq").as(f),
          explode(expr("sequence(0, length(word))")).as("__i"))
        .select(col(w), col(f), expr(
          s"CASE WHEN __i = 0 THEN $w ELSE concat(substr($w, 1, __i - 1), substr($w, __i + 1)) END")
          .as("v"))
    // no per-side distinct: duplicate variants (deleting either of a
    // doubled letter) only duplicate candidate PAIRS, which the one
    // pair-level distinct below collapses — cheaper than two extra
    // full-relation exchanges before the join
    val rareV = variants(vocab.filter(col("freq") <= rareMax), "word", "freq")
    val canonV = variants(vocab.filter(col("freq") >= canonMin), "canon", "canon_freq")
    val cand = rareV.join(canonV, "v")
      .filter(col("word") =!= col("canon"))
      .select("word", "freq", "canon", "canon_freq").distinct()
      .filter(expr("levenshtein(word, canon) <= 1"))
    // argmax in ONE aggregation: min_by over the (-freq, word) struct
    // realizes (max frequency, then min word) with a total order, so the
    // pick is deterministic and the candidate pipeline is planned ONCE —
    // the max+rejoin formulation re-derived the whole variant join (and
    // with it the corpus tokenization) for the per-word max side. The
    // DuckDB oracle keeps the two-aggregation rejoin form; the tie-break
    // semantics are identical (FuzzyVocabPropSpec pins them against an
    // independent brute force).
    cand.groupBy("word", "freq")
      .agg(expr("min_by(canon, struct(-canon_freq, canon))").as("canon"),
        max("canon_freq").as("canon_freq"))
      .select("word", "freq", "canon", "canon_freq")
  }

  /** PII scrub: adds `text_scrubbed` (all [[piiPatterns]] applied in
    * order) and `has_pii` (whether anything was redacted). Pure per-row
    * codegen'd projection — zero shuffles, scan-bound at any scale, and
    * deterministic: the same text always scrubs identically, independent
    * of partitioning or corpus contents.
    */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scrubbed = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pattern, repl)) => regexp_replace(c, pattern, repl)
    }
    docs
      .withColumn("text_scrubbed", scrubbed)
      .withColumn("has_pii", col(textCol) =!= col("text_scrubbed"))
  }

  /** Rank-ordered BPE merge table (the trained-tokenizer artifact: pair →
    * merged symbol, applied greedily rule-by-rule). Common English merges;
    * a real deployment ships its tokenizer's full table the same way —
    * the table is configuration, the APPLY is the engine's job. Shared by
    * [[bpeTokenCounts]] and the DuckDB oracle (both expression chains are
    * GENERATED from this one Seq, so they cannot drift).
    */
  val defaultBpeMerges: Seq[(String, String)] = Seq(
    "t h" -> "th", "th e" -> "the", "i n" -> "in", "a n" -> "an",
    "an d" -> "and", "e r" -> "er", "o n" -> "on", "r e" -> "re",
    "o u" -> "ou", "e d" -> "ed", "i s" -> "is", "o r" -> "or",
    "s t" -> "st", "a t" -> "at", "e n" -> "en", "o f" -> "of")

  /** Corpus-trained 150-rule merge table for the real-scale BPE gate
    * (q_bpe_tokens_large). The first 75 rules are the exact (count DESC,
    * pair ASC) argmax sequence of the replace-chain BPE training loop
    * over the sf0.01 documents fixture (BpeTrain in test sources — each
    * step computes what one `bpeMergeCandidates(docs, merges, topN = 1)`
    * job returns; training EXHAUSTS this corpus' 31-word alphabetic
    * vocabulary at 89 merges, so the table stops at 75 to keep words
    * partially merged and the per-document counts non-trivial). The
    * remaining 75 rules are deterministic compound rules in the
    * BpeProfile shape (symbols drawn from frequency-ordered letters plus
    * prior outputs, prime-stepped, duplicate-from suppressed): rules
    * whose pair never occurs are exercised as O(1) skips by BpeEncode
    * and as binder depth by the oracle's staged replace layers
    * ([[bpeOracleSqlStaged]] — DuckDB's binder caps ONE nested chain at
    * 128 recursion depth, so the large-table oracle applies 50 rules
    * per CTE layer; identical semantics, any table size). The 10k-rule
    * throughput-and-equivalence check lives in BpeEncodePropSpec
    * (spec-only on the oracle side by cost, not parseability).
    */
  val largeBpeMerges: Seq[(String, String)] = {
    val corpusTrained: Seq[(String, String)] = Seq(
    "e r" -> "er", "i n" -> "in", "o w" -> "ow",
    "o r" -> "or", "s t" -> "st", "m er" -> "mer",
    "a t" -> "at", "l u" -> "lu", "a r" -> "ar",
    "p ar" -> "par", "j o" -> "jo", "jo in" -> "join",
    "a s" -> "as", "as h" -> "ash", "h ash" -> "hash",
    "r ow" -> "row", "at c" -> "atc", "atc h" -> "atch",
    "b atch" -> "batch", "a n" -> "an", "c an" -> "can",
    "s can" -> "scan", "c o" -> "co", "c u" -> "cu",
    "co lu" -> "colu", "colu m" -> "colum", "colum n" -> "column",
    "cu st" -> "cust", "cust o" -> "custo", "custo mer" -> "customer",
    "f i" -> "fi", "fi l" -> "fil", "fil t" -> "filt",
    "filt er" -> "filter", "a l" -> "al", "al l" -> "all",
    "m all" -> "mall", "s mall" -> "small", "g e" -> "ge",
    "l ow" -> "low", "mer ge" -> "merge", "s low" -> "slow",
    "c t" -> "ct", "ct or" -> "ctor", "d er" -> "der",
    "e ctor" -> "ector", "or der" -> "order", "v ector" -> "vector",
    "in e" -> "ine", "l ine" -> "line", "a b" -> "ab",
    "ab l" -> "abl", "abl e" -> "able", "at a" -> "ata",
    "d ata" -> "data", "t able" -> "table", "u p" -> "up",
    "a g" -> "ag", "ag g" -> "agg", "a lu" -> "alu",
    "alu e" -> "alue", "v alue" -> "value", "e y" -> "ey",
    "k ey" -> "key", "a m" -> "am", "e am" -> "eam",
    "r eam" -> "ream", "st ream" -> "stream", "d ow" -> "dow",
    "in dow" -> "indow", "w indow" -> "window", "par k" -> "park",
    "s park" -> "spark", "g r" -> "gr", "gr o" -> "gro")
    val letters = "etaoinshrdlucmfwypvbgkjqxz".map(_.toString)
    val rules = scala.collection.mutable.ArrayBuffer[(String, String)](
      corpusTrained: _*)
    val symbols = scala.collection.mutable.ArrayBuffer[String](
      (letters ++ corpusTrained.map(_._2)): _*)
    val seen = scala.collection.mutable.HashSet[String](
      corpusTrained.map(_._1): _*)
    var i = 0
    while (rules.length < 150) {
      val a = symbols((i * 7919) % symbols.length)
      val b = symbols((i * 104729 + 13) % symbols.length)
      val key = s"$a $b"
      if (!seen(key) && (a + b).length <= 12) {
        seen += key
        rules += (key -> (a + b))
        symbols += (a + b)
      }
      i += 1
    }
    rules.toSeq
  }

  /** True token counting under a BPE tokenizer: each lowercase alphabetic
    * word is spelled into space-separated symbols, the merge table is
    * applied in rank order (each merge = one string replace of the
    * adjacent pair), and the document's token count is the total symbol
    * count — the number an LLM data pipeline actually budgets by, vs the
    * whitespace proxy [[textStats]] reports. Non-alphabetic words are
    * excluded (they'd need byte-fallback rules; the alpha restriction
    * also keeps the char split codepoint-exact cross-engine).
    *
    * The symbol string is space-padded and every rule matches the
    * SPACE-DELIMITED pair `' x y '` — a pair only merges complete
    * adjacent symbols, never characters inside an already-merged symbol
    * (naive unpadded replace would corrupt `o|the|r` into `o|ther` via
    * the `e r` rule). One left-to-right replace pass per rule: in a run
    * of repeated pairs (`t t t t`) the pass merges alternate pairs only
    * (the shared delimiter space is consumed) — a deterministic,
    * cross-engine-identical artifact of replace-chain BPE, documented
    * here rather than patched with extra passes.
    *
    * Pure per-row projection — zero shuffles, scan-bound. Since r13 the
    * apply runs through [[graft.functions.BpeEncode]]: replace-chain
    * SEMANTICS exactly (property-proven against the original generated
    * chain, which remains what the DuckDB oracle is generated from —
    * [[bpeChainApplied]]) but at symbol-array speed with O(1) rule
    * skipping. Measured (BpeProfile, sf0.1): 4.7× at 150 rules — the
    * largest table the nested-replace SQL still parses; past ~300 rules
    * the chain OVERFLOWS THE SQL PARSER STACK while bpe_encode runs any
    * table size (a real tokenizer ships 10k+ merges), so the expression
    * is what makes true-tokenizer budgeting possible at all, not just
    * faster.
    */
  def bpeTokenCounts(
      docs: DataFrame,
      merges: Seq[(String, String)] = defaultBpeMerges,
      textCol: String = "text"): DataFrame = {
    val table = bpeTableLiteral(merges)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("__w", expr(
        s"filter(split(lower(trim(`$textCol`)), ' +'), w -> w rlike '^[a-z]+$$')"))
      .select(col("doc_id"),
        expr("CAST(size(__w) AS BIGINT)").as("n_alpha_words"),
        expr(s"CAST(aggregate(transform(__w, w -> size(bpe_encode(w, '$table'))), " +
          "0, (a, x) -> a + x) AS BIGINT)").as("n_bpe_tokens"))
  }

  /** Serialize a merge table as the `bpe_encode` literal (`from>to;…`)
    * with the symbol-charset preconditions enforced loudly.
    */
  private def bpeTableLiteral(merges: Seq[(String, String)]): String = {
    require(merges.forall { case (f, t) =>
      Seq("'", ";", ">").forall(c => !f.contains(c) && !t.contains(c)) },
      "merge symbols must not contain quote/semicolon/greater-than")
    merges.map { case (f, t) => s"$f>$t" }.mkString(";")
  }

  /** The ORIGINAL generated replace chain over the space-padded spelling —
    * retained as the semantic REFERENCE for the `bpe_encode` property
    * suite (BpeEncodePropSpec proves the array-speed expression
    * value-identical to this chain, which in turn is what the DuckDB
    * oracles are generated from). Not used on the hot path: one full
    * padded-string replace per rule is O(merges × |word|) string traffic
    * — ~10k allocations per word under a real tokenizer table.
    */
  private[graft] def bpeChainApplied(merges: Seq[(String, String)]): String =
    merges.foldLeft("concat(' ', concat_ws(' ', split(w, '')), ' ')") {
      case (acc, (from, to)) => s"replace($acc, ' $from ', ' $to ')"
    }

  /** Corpus piece vocabulary under the BPE tokenizer — the third leg of
    * the BPE family ([[bpeTokenCounts]] budgets, [[bpeMergeCandidates]]
    * trains, this INSPECTS): every alphabetic word is encoded with the
    * merge table (same generated replace chain as the count form — the
    * two cannot drift) and the result is one row per distinct PIECE with
    * its corpus frequency — the "what does my token distribution look
    * like after tokenization" question a data pipeline asks before
    * committing a tokenizer (fertile pieces, singleton tail, coverage).
    *
    * Scale shape inherited from the trainer: after the first word
    * aggregation everything runs on the WORD-FREQUENCY table
    * (vocab-bounded, not corpus-bounded); piece explosion fans out by
    * word length over vocab rows; the final aggregation is
    * piece-vocab-bounded with map-side combine. Zero windows.
    */
  def bpePieceCounts(
      docs: DataFrame, merges: Seq[(String, String)] = defaultBpeMerges,
      textCol: String = "text"): DataFrame = {
    val table = bpeTableLiteral(merges)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val wf = docs
      .withColumn("__w", expr(
        s"filter(split(lower(trim(`$textCol`)), ' +'), w -> w rlike '^[a-z]+$$')"))
      .select(explode(col("__w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__wf"))
    wf.select(explode(expr(s"bpe_encode(w, '$table')")).as("piece"),
        col("__wf"))
      .groupBy("piece").agg(sum("__wf").as("n"))
  }

  /** One BPE TRAINING step — the discovery dual of [[bpeTokenCounts]]'s
    * apply: spell every alphabetic word into symbols, apply the merges
    * learned SO FAR (`merges` — empty for step zero), count adjacent
    * symbol pairs weighted by corpus word frequency, and emit the top
    * `topN` candidates in (count desc, pair asc) total order — the
    * argmax is the next merge rule. Iterating this (append winner,
    * rerun) IS the BPE training loop; each step is one bounded Spark
    * job.
    *
    * The scale property is the classic one: after the first (word)
    * aggregation everything runs on the WORD-FREQUENCY table — vocab-
    * bounded, not corpus-bounded — exactly how sentencepiece/HF train.
    * Pair generation is a per-row transform over each word's own symbol
    * array (fan-out = word length); the pair aggregation is symbol-
    * vocab-bounded; the top-N is a TakeOrderedAndProject heap, never a
    * global sort. Alternate-pair-merge artifact of the replace chain is
    * inherited from [[bpeTokenCounts]] (documented there) — both sides
    * of the oracle share the generated chain, so it cannot drift.
    */
  def bpeMergeCandidates(
      docs: DataFrame, merges: Seq[(String, String)] = Nil,
      topN: Int = 20, textCol: String = "text"): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val table = bpeTableLiteral(merges)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val wf = docs
      .withColumn("__w", expr(
        s"filter(split(lower(trim(`$textCol`)), ' +'), w -> w rlike '^[a-z]+$$')"))
      .select(explode(col("__w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("__wf"))
    wf.withColumn("__s", expr(s"bpe_encode(w, '$table')"))
      .filter(expr("size(__s) >= 2"))
      .select(explode(expr(
        "transform(sequence(1, size(__s) - 1), i -> " +
          "concat(element_at(__s, i), ' ', element_at(__s, i + 1)))"))
        .as("pair"), col("__wf"))
      .groupBy("pair").agg(sum("__wf").as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topN)
  }

  /** The GPT-2 pre-tokenization pattern (Radford et al. 2019) pinned
    * cross-engine: contractions, optionally space-prefixed letter /
    * digit / punctuation runs, whitespace runs — over lower-cased text
    * with the explicit [[wsClass]] whitespace set. Letter/digit runs
    * use the published UNICODE categories `\p{L}` / `\p{N}` (supported
    * identically by Java regex and RE2), so non-ASCII words are real
    * letter runs — priced through the merge chain at their unmerged
    * codepoint count instead of collapsing into a 1-token punctuation
    * run (which systematically underpriced non-English token budgets). The paper regex ends
    * `\s+(?!\S)|\s+` (all-but-last of a whitespace run, so the last
    * space glues onto the next word); RE2 has NO lookahead, so the
    * engines run a SENTINEL pre-pass instead: chr(1) is stripped from
    * the text (a control char never carries content) and re-inserted
    * between run[:-1] and run[-1] of every >=2-char whitespace run that
    * precedes a non-space — Gpt2SplitPropSpec proves the two
    * formulations token-identical against a real-lookahead reference.
    * chr(1) is excluded from every class below, so the sentinel can
    * never be part of a token.
    */
  val gpt2SplitPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d" +
      "| ?\\p{L}+| ?\\p{N}+" +
      s"| ?[^\\p{L}\\p{N}\\x01$wsChars]+" +
      s"|[$wsChars]+"

  /** [[gpt2SplitPattern]] for a Spark SQL string literal: backslashes
    * doubled FIRST (the [[wsClassSql]] discipline — Spark's parser
    * consumes one escape level), then quotes backslash-escaped (Spark
    * CONCATENATES adjacent string literals, so the DuckDB '' doubling
    * would silently fuse `'it''s'` into `its`).
    */
  val gpt2SplitPatternSql: String =
    gpt2SplitPattern.replace("\\", "\\\\").replace("'", "\\'")

  /** The sentinel pre-pass regex (both engines: capture groups only, no
    * lookaround).
    */
  val gpt2PreRegex: String = s"([$wsChars]+)([$wsChars])([^$wsChars])"
  val gpt2PreRegexSql: String = gpt2PreRegex.replace("\\", "\\\\")

  /** Byte-level-BPE token budget with the GPT-2 pre-tokenizer in front
    * of the merge chain — the number an LLM pipeline actually meters.
    * [[bpeTokenCounts]] pre-tokenizes on whitespace and DROPS words
    * with any punctuation (`don't`, `co-op`, `end.` count zero); this
    * row splits them the way the published tokenizer does, then prices
    * letter runs through the merge chain and every other pre-token
    * (contraction, digit run, punctuation run, whitespace run) at one
    * token — pinned contract; a real vocab would merge some of those
    * too, but the split (the hard cross-engine part) is exact.
    *
    * Emits (doc_id, n_pretokens, n_bpe_tokens_gpt2). Pure per-row
    * projection over the corpus — zero shuffles, scan-bound.
    */
  /** The full GPT-2 pre-token array as one Spark SQL expression
    * (sentinel pre-pass + split) — the single source both
    * [[bpeTokenCountsGpt2]] and Gpt2SplitPropSpec evaluate.
    */
  private[graft] def gpt2TokensExpr(textCol: String): String =
    s"regexp_extract_all(" +
      s"regexp_replace(replace(lower(coalesce(`$textCol`, '')), chr(1), ''), " +
      s"'$gpt2PreRegexSql', concat('$$1', chr(1), '$$2$$3')), " +
      s"'$gpt2SplitPatternSql', 0)"

  /** Fixed non-ASCII plant appended by [[syntheticTextMultiFromDocs]]
    * — quote-free by construction (Spark and DuckDB escape string
    * literals differently; [[sqlStr]] is the DuckDB '' form, which
    * Spark would silently CONCATENATE).
    */
  val gpt2MultiPlant: String = "naïve går öfver żółć führt"

  /** The q_bpe_tokens_gpt2 driver input: each document's text with its
    * doc_id-dispatched [[graft.functions.StopwordProfiles]] profile
    * sentence appended (the sv row carries genuine non-ASCII) plus the
    * fixed [[gpt2MultiPlant]] — so the Unicode `\p{L}` letter classes
    * are exercised by the cross-engine hash gate on every row, not
    * just by Gpt2SplitPropSpec. Mirrored arithmetically by
    * [[gpt2MultiDocsrcSql]].
    */
  def syntheticTextMultiFromDocs(docs: DataFrame): DataFrame = {
    import graft.functions.StopwordProfiles.{langs, sentence}
    val sents = langs.map(sentence)
    require(sents.forall(s => !s.contains("'")) && !gpt2MultiPlant.contains("'"),
      "gpt2 multi fixture text must stay quote-free (dual-engine literals)")
    val sentArr = sents.map(sqlStr).mkString(", ")
    val pick = "CAST(doc_id % 10 AS INT) + 1"
    // the chr(39) tail plants a >=2-whitespace run RIGHT BEFORE an
    // apostrophe contraction — the exact shape where the sentinel
    // pre-pass changes the token COUNT (the r15 ADVICE divergence that
    // the old bracketed-class pre-regex silently skipped on the RE2
    // side), so the hash gate now pins it on every row
    docs.select(col("doc_id"),
      expr(s"concat(coalesce(text, ''), ' ', " +
        s"element_at(array($sentArr), $pick), ' $gpt2MultiPlant  ', " +
        "chr(39), 's')").as("text"))
  }

  def bpeTokenCountsGpt2(
      docs: DataFrame,
      merges: Seq[(String, String)] = largeBpeMerges,
      textCol: String = "text"): DataFrame = {
    val table = bpeTableLiteral(merges)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("__ts", expr(gpt2TokensExpr(textCol)))
      .select(col("doc_id"),
        expr("CAST(size(__ts) AS BIGINT)").as("n_pretokens"),
        expr(s"CAST(aggregate(__ts, 0, (a, t) -> a + (CASE WHEN " +
          s"t rlike '^ ?\\\\p{L}+$$' THEN size(bpe_encode(ltrim(t), '$table')) " +
          "ELSE 1 END)) AS BIGINT)").as("n_bpe_tokens_gpt2"))
  }

  /** HTML → text extraction ([[graft.functions.HtmlExtractImpl]] — the
    * jusText/trafilatura block-scoring family): strip script/style/
    * comments, segment into blocks at block-level tags, and keep blocks
    * by length + link-density + stopword-density rules. The single
    * highest-traffic operator of a crawl pipeline: every downstream text
    * gate (gopherRules, c4Rules, fineWebRules, the dedup family)
    * consumes its `text_extracted` column in production.
    *
    * Scale: ONE codegen projection — zero shuffles (plan-pinned); the
    * scanner is row-local and single-pass over the HTML bytes.
    */
  def htmlExtract(docs: DataFrame, htmlCol: String = "html",
      minChars: Int = 25, maxLinkPm: Int = 300, minStopPm: Int = 100,
      longChars: Int = 200): DataFrame = {
    require(minChars >= 0 && maxLinkPm >= 0 && minStopPm >= 0 && longChars >= 0,
      "html_extract thresholds must be non-negative")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), expr(
        s"html_extract($htmlCol, $minChars, $maxLinkPm, $minStopPm, $longChars)")
        .as("__hx"))
      .select(col("doc_id"),
        col("__hx.text_extracted").as("text_extracted"),
        col("__hx.n_blocks").as("n_blocks"),
        col("__hx.n_kept").as("n_kept"),
        col("__hx.chars_raw").as("chars_raw"),
        col("__hx.chars_kept").as("chars_kept"),
        col("__hx.link_chars").as("link_chars"))
  }

  /** Synthetic crawl HTML from the documents fixture — the q_pixel_stats
    * pattern: the engine parses REAL markup while every expected output
    * is arithmetic the DuckDB oracle re-derives from the document text
    * without an HTML parser. Each page is:
    *
    *   title `d<doc_id>` (always dropped: length) · a `<script>` with a
    *   raw `<` and a `<style>` (skipped content) · an HTML comment · a
    *   NAV of three links (60 chars, 50 link chars → dropped by the LINK
    *   rule specifically) · a stopword-free latin block (65 chars →
    *   dropped by the STOPWORD rule specifically) · one `<p>` per text
    *   line with `&`/`<`/`>` entity-escaped — and for doc_id % 4 = 0 the
    *   first line's first space-token wrapped in an inline `<a>` (when
    *   the line doesn't start with a space), pinning inline link-char
    *   accounting — · a short `&copy;` footer (dropped by length,
    *   pinning unrecognized-entity literal `&`).
    *
    * Every plant fails exactly one keep rule, so each rule is
    * individually hash-gated; the document's own lines carry the
    * data-dependent keeps.
    */
  def syntheticHtmlFromDocs(docs: DataFrame): DataFrame = {
    def esc(x: String) =
      s"replace(replace(replace($x, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    val tok = s"element_at(split(${esc("l")}, ' '), 1)"
    docs.select(col("doc_id"), expr(
      s"""concat(
         |  '<html><head><title>d', CAST(doc_id AS STRING), '</title>',
         |  '<script>var x = 1 < 2;</script><style>p { color: red; }</style>',
         |  '</head><body><!-- chrome follows -->',
         |  '<div class="nav"><a href="/">home page link</a> ',
         |  '<a href="/about">about the team pages</a> ',
         |  '<a href="/contact">contact and support desk</a></div>',
         |  '<div>lorem ipsum dolor sit amet consectetur adipiscing elit vestibulum</div>',
         |  array_join(transform(split(coalesce(text, ''), '\\n'), (l, i) ->
         |    concat('<p>',
         |      CASE WHEN doc_id % 4 = 0 AND i = 0 AND length(l) > 0
         |                AND substring(l, 1, 1) != ' '
         |        THEN concat('<a href="#">', $tok, '</a>',
         |          substring(${esc("l")}, length($tok) + 1))
         |        ELSE ${esc("l")} END,
         |      '</p>')), ''),
         |  '<div class="footer">&copy; 2031 example site</div></body></html>')"""
        .stripMargin).as("html"))
  }

  /** [[htmlExtract]] with the stopword keep rule dispatched on a
    * per-row language column (`html_extract_lang` —
    * [[graft.functions.StopwordProfiles]]; null/unprofiled lang values
    * fall back to "en"). A real crawl is majority non-English, and the
    * stopword-density rule only reads content vs chrome correctly when
    * it counts the document's OWN function words; jusText ships ~30
    * such profiles — this is the same dispatch discipline over the
    * canonical 10-language table.
    *
    * Scale: identical to [[htmlExtract]] — ONE codegen projection, zero
    * shuffles; the dispatch is a per-row hash-map lookup.
    */
  def htmlExtractLang(docs: DataFrame, htmlCol: String = "html",
      langCol: String = "lang", minChars: Int = 25, maxLinkPm: Int = 300,
      minStopPm: Int = 100, longChars: Int = 200): DataFrame = {
    require(minChars >= 0 && maxLinkPm >= 0 && minStopPm >= 0 && longChars >= 0,
      "html_extract_lang thresholds must be non-negative")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), col(langCol).as("lang"), expr(
        s"html_extract_lang($htmlCol, $langCol, $minChars, $maxLinkPm, " +
          s"$minStopPm, $longChars)").as("__hx"))
      .select(col("doc_id"), col("lang"),
        col("__hx.text_extracted").as("text_extracted"),
        col("__hx.n_blocks").as("n_blocks"),
        col("__hx.n_kept").as("n_kept"),
        col("__hx.chars_raw").as("chars_raw"),
        col("__hx.chars_kept").as("chars_kept"),
        col("__hx.link_chars").as("link_chars"))
  }

  /** Mixed-language synthetic crawl HTML (the [[syntheticHtmlFromDocs]]
    * discipline, profile-dispatch edition): lang cycles through the 10
    * profiles by doc_id arithmetic, and each page plants
    *
    *   title `d<doc_id>` (dropped: length) · a `<script>` whose content
    *   contains a DECOY `</scripts>` close (pins the r15 close-tag
    *   boundary rule: prefix-matching would leak "raw" as an extra
    *   block) · a `<style>` · a comment · the three-link NAV with a
    *   QUOTED `>` inside the first href (pins the r15 quote-aware tag
    *   scan: splitting there would corrupt the nav block) · a kept
    *   block = the ASSIGNED language's 10-stopword sentence opened by a
    *   SELF-CLOSING `<a href="#"/>` (pins the r15 anchor rule: a depth
    *   leak would link-saturate this and every later block) · a
    *   cross-language plant = the en sentence (de for en docs), which
    *   shares zero words with the assigned profile
    *   (StopwordProfilesSpec) so it fails exactly the stopword rule ·
    *   one `<p>` per text line (entity-escaped; stopwords counted
    *   against the ASSIGNED profile) · the short footer (dropped:
    *   length).
    *
    * If dispatch broke (everything scored against "en"), the kept block
    * of every non-en page would drop and the cross-language plant would
    * keep — the hash gate fails in both directions.
    */
  def syntheticHtmlMultiFromDocs(docs: DataFrame): DataFrame = {
    import graft.functions.StopwordProfiles.{langs, sentence}
    def esc(x: String) =
      s"replace(replace(replace($x, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    val langArr = langs.map(sqlStr).mkString(", ")
    val sentArr = langs.map(l => sqlStr(sentence(l))).mkString(", ")
    val pick = "CAST(doc_id % 10 AS INT) + 1"
    docs.select(col("doc_id"),
      expr(s"element_at(array($langArr), $pick)").as("lang"),
      expr(
        s"""concat(
           |  '<html><head><title>d', CAST(doc_id AS STRING), '</title>',
           |  '<script>var x = 1 < 2;</scripts>raw</script>',
           |  '<style>p { color: red; }</style>',
           |  '</head><body><!-- chrome follows -->',
           |  '<div class="nav"><a href="/a>b">home page link</a> ',
           |  '<a href="/about">about the team pages</a> ',
           |  '<a href="/contact">contact and support desk</a></div>',
           |  '<p><a href="#"/>', element_at(array($sentArr), $pick), '</p>',
           |  '<p>', element_at(array($sentArr),
           |    CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END), '</p>',
           |  array_join(transform(split(coalesce(text, ''), '\\n'), l ->
           |    concat('<p>', ${esc("l")}, '</p>')), ''),
           |  '<div class="footer">&copy; 2031 example site</div></body></html>')"""
          .stripMargin).as("html"))
  }
}
