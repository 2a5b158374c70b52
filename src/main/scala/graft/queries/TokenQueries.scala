package graft.queries

import graft.operators.{Packing, Stats, TextAnalysis}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions.{col, expr}

/** Token statistics and tokenization: vocabularies, sketches, keyword and
  * collocation scores, chunking, BPE encoding and merge discovery, and
  * n-gram language-model scores.
  */
object TokenQueries {
  import graft.operators.TextAnalysis.{defaultBpeMerges, gpt2MultiPlant,
    gpt2PreRegex, gpt2SplitPattern, largeBpeMerges, sqlStr}

  /** q_fuzzy_vocab planted-typo derivation — ONE set of expression
    * templates instantiated for both engines (the c4Page discipline);
    * the only dialect split is the integer-division spelling (`DIV` in
    * Spark, `//` in DuckDB), injected as `div`. Expects a staged
    * `__h = md5('fz' || doc_id)` column; every other primitive (instr,
    * substr, length, concat, CASE) parses identically in both dialects.
    * The typo is ONE edit (insert after / delete at / substitute at a
    * hash-derived position) applied to a hash-picked frequent base word,
    * so every planted word is within Levenshtein 1 of its canonical —
    * and the plant gates on `doc_id % m = 0` with m derived from the
    * corpus count (the q_embed_recall_bounds fixed-size-anchor
    * discipline): ~2000 planted docs at ANY scale, keeping each typo
    * type's frequency under the rare ceiling as the corpus grows.
    */
  private object FuzzyTypo {
    /** Base words: top fixture tokens, all ≥ 4 chars and frequent at
      * every SF (frequency checked in OperatorsSpec at sf0.001).
      */
    val bases = Seq("table", "window", "stream", "filter",
      "column", "customer", "query", "batch")
    private def hv(k: Int) =
      s"(instr('0123456789abcdef', substr(__h, $k, 1)) - 1)"
    /** Uniform value in [0, 16^6) from the first six md5 hex digits. */
    val hex6: String = (2 to 6).foldLeft(hv(1)) {
      case (acc, k) => s"($acc * 16 + ${hv(k)})"
    }
    val base: String = bases.zipWithIndex.map {
      case (w, i) => s"WHEN $i THEN '$w'"
    }.mkString("CASE CAST(__hv % 8 AS INT) ", " ", " END")
    def op(div: String): String = s"CAST((__hv $div 8) % 3 AS INT)"
    def pos(div: String): String =
      s"CAST((__hv $div 24) % length(__base) AS INT) + 1"
    def letter(div: String): String =
      s"substr('abcdefghijklmnopqrstuvwxyz', CAST((__hv $div 240) % 26 AS INT) + 1, 1)"
    val typo: String =
      """CASE __op
        | WHEN 0 THEN concat(substr(__base, 1, __pos), __letter, substr(__base, __pos + 1))
        | WHEN 1 THEN concat(substr(__base, 1, __pos - 1), substr(__base, __pos + 1))
        | ELSE concat(substr(__base, 1, __pos - 1), __letter, substr(__base, __pos + 1))
        |END""".stripMargin
  }

  /** The q_fuzzy_vocab base-word list, exposed for the fixture-frequency
    * guard in OperatorsSpec (a driver fixture regen that drops one below
    * canonMin would otherwise thin the gate silently).
    */
  private[graft] def fuzzyBases: Seq[String] = FuzzyTypo.bases

  /** A merge table as a DuckDB replace chain over `init`, one `replace`
    * per rule, generated from the SAME table as the engine's bpe_encode
    * so the two chains cannot diverge.
    */
  private def replaceChain(init: String, merges: Seq[(String, String)]): String =
    merges.foldLeft(init) {
      case (acc, (from, to)) => s"replace($acc, ' $from ', ' $to ')"
    }

  /** A word `w` spelled as space-separated symbols with edge spaces. */
  private val spelled = "' ' || array_to_string(string_split(w, ''), ' ') || ' '"

  /** The alphabetic words per doc, `ws` (doc_id, w). */
  private val docWords =
    """ws AS (
        SELECT doc_id,
          list_filter(string_split_regex(lower(trim(text)), ' +'),
            w -> regexp_full_match(w, '[a-z]+')) AS w
        FROM documents)"""

  /** The corpus frequency `wf` of each alphabetic word `w`. */
  private val wordFreq =
    """ws AS (
        SELECT list_filter(string_split_regex(lower(trim(text)), ' +'),
          w -> regexp_full_match(w, '[a-z]+')) AS w
        FROM documents),
      w1 AS (SELECT unnest(w) AS w FROM ws),
      wf AS (SELECT w, count(*) AS wf FROM w1 GROUP BY 1)"""

  /** From the words `wx` (doc_id, w): `s0`, each word [[spelled]]; the
    * chain applied in 50-rule CTE layers `s1 … sN` (DuckDB's binder
    * rejects expressions past 128 recursion depth, so one nested chain
    * caps an oracle near 120 rules, while layers are unbounded); and
    * `cnt` (doc_id, nb), the BPE token count per doc.
    */
  private def stagedCount(merges: Seq[(String, String)]): String = {
    val stages = merges.grouped(50).toSeq
    val layers = stages.zipWithIndex.map { case (g, i) =>
      s"s${i + 1} AS (SELECT doc_id, ${replaceChain("s", g)} AS s FROM s$i)"
    }
    s"""s0 AS (
        SELECT doc_id,
          $spelled AS s
        FROM wx),
      ${layers.mkString(",\n      ")},
      cnt AS (
        SELECT doc_id, CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT)
          AS nb
        FROM s${stages.length} GROUP BY 1)"""
  }

  /** DuckDB equivalent of [[graft.operators.TextAnalysis.bpeTokenCounts]]. */
  private def bpeOracleSql: String = {
    val applied = replaceChain(spelled, defaultBpeMerges)
    s"""WITH $docWords
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_alpha_words,
        CAST(coalesce(list_sum(list_transform(w,
          w -> len(string_split(trim($applied), ' ')))), 0) AS BIGINT)
          AS n_bpe_tokens
      FROM ws"""
  }

  /** [[bpeOracleSql]] for large tables: words unnested to rows, the chain
    * applied in [[stagedCount]] layers and token counts re-aggregated per
    * document — the same semantics as the single chain, any table size.
    */
  private def bpeOracleSqlStaged(merges: Seq[(String, String)]): String =
    s"""WITH $docWords,
      wx AS (SELECT doc_id, unnest(w) AS w FROM ws),
      ${stagedCount(merges)}
      SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_alpha_words,
        CAST(coalesce(cnt.nb, 0) AS BIGINT) AS n_bpe_tokens
      FROM ws LEFT JOIN cnt USING (doc_id)"""

  /** DuckDB equivalent of [[graft.operators.TextAnalysis.bpePieceCounts]]. */
  private def bpePieceOracleSql: String = {
    val applied = replaceChain(spelled, defaultBpeMerges)
    s"""WITH $wordFreq,
      pc AS (
        SELECT unnest(string_split(trim($applied), ' ')) AS piece, wf
        FROM wf)
      SELECT piece, CAST(sum(wf) AS BIGINT) AS n FROM pc GROUP BY 1"""
  }

  /** DuckDB equivalent of
    * [[graft.operators.TextAnalysis.bpeMergeCandidates]].
    */
  private def bpeMergeOracleSql(merges: Seq[(String, String)], topN: Int): String = {
    val applied = replaceChain(spelled, merges)
    s"""WITH $wordFreq,
      sym AS (SELECT wf, string_split(trim($applied), ' ') AS s FROM wf),
      pr AS (
        SELECT unnest(list_transform(range(1, len(s)),
          i -> s[i] || ' ' || s[i+1])) AS pair, wf
        FROM sym WHERE len(s) >= 2),
      pc AS (SELECT pair, CAST(sum(wf) AS BIGINT) AS n FROM pr GROUP BY 1)
      SELECT pair, n FROM pc ORDER BY n DESC, pair ASC LIMIT $topN"""
  }

  /** DuckDB mirror of
    * [[graft.operators.TextAnalysis.syntheticTextMultiFromDocs]], generated
    * from the SAME [[graft.functions.StopwordProfiles]] table: the source
    * relation of the q_bpe_tokens_gpt2 oracle.
    */
  private def gpt2MultiDocsrcSql: String = {
    import graft.functions.StopwordProfiles.{langs, sentence}
    val sentList = langs.map(l => sqlStr(sentence(l))).mkString(",")
    s"SELECT doc_id, coalesce(text, '') || ' ' || " +
      s"list_value($sentList)[CAST(doc_id % 10 AS INT) + 1] || " +
      s"' $gpt2MultiPlant  ' || chr(39) || 's' AS text FROM documents"
  }

  /** DuckDB mirror of [[graft.operators.TextAnalysis.bpeTokenCountsGpt2]]
    * over [[gpt2MultiDocsrcSql]]: the SAME sentinel pre-pass and split
    * pattern (RE2 side; quotes doubled for a DuckDB literal, backslashes
    * untouched), letter runs priced through the [[stagedCount]] layers,
    * everything else at one token.
    */
  private def bpeGpt2OracleSqlStaged: String = {
    val split = gpt2SplitPattern.replace("'", "''")
    s"""WITH docsrc AS ($gpt2MultiDocsrcSql),
      pre AS (
        SELECT doc_id,
          regexp_replace(replace(lower(coalesce(text, '')), chr(1), ''),
            '$gpt2PreRegex', '\\1' || chr(1) || '\\2\\3', 'g') AS p
        FROM docsrc),
      tok AS (
        SELECT doc_id, regexp_extract_all(p, '$split') AS ts
        FROM pre),
      base AS (
        SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_pretokens,
          CAST(len(list_filter(ts,
            t -> NOT regexp_full_match(t, ' ?\\p{L}+'))) AS BIGINT) AS n_other
        FROM tok),
      wx AS (
        SELECT doc_id, ltrim(t, ' ') AS w
        FROM (SELECT doc_id, unnest(ts) AS t FROM tok)
        WHERE regexp_full_match(t, ' ?\\p{L}+')),
      ${stagedCount(largeBpeMerges)}
      SELECT b.doc_id, b.n_pretokens,
        CAST(b.n_other + coalesce(cnt.nb, 0) AS BIGINT) AS n_bpe_tokens_gpt2
      FROM base b LEFT JOIN cnt USING (doc_id)"""
  }

  /** `tk` (doc_id, token), the lower-cased space-split tokens, and `pd`,
    * each token's count per doc `tf_doc`.
    */
  private val docTokenCounts: String =
    """WITH tk AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), ' +'),
                                t -> t != '')) AS token
          FROM documents),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM tk GROUP BY 1, 2)"""

  /** `c`, each token's corpus count `cnt`, and `t`, their `total`. */
  private val tokenTotals: String =
    """WITH tk AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), ' +'),
                        t -> t != '')) AS token
          FROM documents),
        c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
        t AS (SELECT sum(cnt) AS total FROM c)"""

  val all: Seq[Query] = Seq(
    // SymSpell fuzzy vocabulary map: planted typos (one hash-derived
    // edit of a frequent base word, ~2000 docs at any scale via the
    // corpus-count-derived modulus — the q_embed_recall_bounds anchor
    // discipline) map back to their canonical form through the
    // deletion-neighborhood join + exact levenshtein verify
    Query("q_fuzzy_vocab", (s, dir) => {
      val d = docs(s, dir)
      val m = math.max(1L, d.count() / 2000L)
      val planted = d
        .withColumn("__h", expr("md5(concat('fz', CAST(doc_id AS STRING)))"))
        .withColumn("__hv", expr(FuzzyTypo.hex6))
        .withColumn("__base", expr(FuzzyTypo.base))
        .withColumn("__op", expr(FuzzyTypo.op("DIV")))
        .withColumn("__pos", expr(FuzzyTypo.pos("DIV")))
        .withColumn("__letter", expr(FuzzyTypo.letter("DIV")))
        .withColumn("__typo", expr(FuzzyTypo.typo))
        .withColumn("text", expr(
          s"CASE WHEN doc_id % $m = 0 THEN concat(text, ' ', __typo) ELSE text END"))
        .select("doc_id", "text")
      TextAnalysis.fuzzyVocabMap(planted)
    },
      // SymSpell fuzzy vocabulary map: the typo plant reuses the SAME
      // FuzzyTypo expression templates as the Spark side (only the
      // integer-division spelling differs); tokenization/vocab mirror
      // q_vocabulary; deletion variants via generate_series (i = 0 keeps
      // the word — the SymSpell losslessness trick); exact levenshtein
      // verify; argmax tie-break as max-freq rejoin + min(canon).
      Some(s"""WITH nn AS (SELECT greatest(1, count(*) // 2000) AS m FROM documents),
        hh AS (SELECT doc_id, text,
          md5(concat('fz', CAST(doc_id AS VARCHAR))) AS __h FROM documents),
        s1 AS (SELECT doc_id, text, ${FuzzyTypo.hex6} AS __hv FROM hh),
        s2 AS (SELECT *, ${FuzzyTypo.base} AS __base FROM s1),
        s3 AS (SELECT *, ${FuzzyTypo.op("//")} AS __op, ${FuzzyTypo.pos("//")} AS __pos,
          ${FuzzyTypo.letter("//")} AS __letter FROM s2),
        s4 AS (SELECT doc_id, CASE WHEN doc_id % (SELECT m FROM nn) = 0
          THEN concat(text, ' ', ${FuzzyTypo.typo}) ELSE text END AS text FROM s3),
        tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), ' +'),
                              t -> t != '')) AS token
          FROM s4),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM tk GROUP BY 1, 2),
        vocab AS (SELECT token AS word, CAST(sum(tf_doc) AS BIGINT) AS freq
          FROM pd GROUP BY 1),
        vf AS (SELECT word, freq FROM vocab
          WHERE regexp_matches(word, '^[a-z]+${"$"}') AND length(word) >= 4),
        rv AS (SELECT DISTINCT word, freq,
            CASE WHEN i = 0 THEN word
                 ELSE substr(word, 1, i - 1) || substr(word, i + 1) END AS v
          FROM vf, unnest(generate_series(0, length(word))) AS u(i)
          WHERE freq <= 2),
        cv AS (SELECT DISTINCT word AS canon, freq AS canon_freq,
            CASE WHEN i = 0 THEN word
                 ELSE substr(word, 1, i - 1) || substr(word, i + 1) END AS v
          FROM vf, unnest(generate_series(0, length(word))) AS u(i)
          WHERE freq >= 10),
        cand AS (SELECT DISTINCT r.word, r.freq, c.canon, c.canon_freq
          FROM rv r JOIN cv c ON r.v = c.v AND r.word != c.canon
          WHERE levenshtein(r.word, c.canon) <= 1),
        best AS (SELECT word, max(canon_freq) AS mf FROM cand GROUP BY 1)
        SELECT c.word AS word, c.freq AS freq, min(c.canon) AS canon,
          c.canon_freq AS canon_freq
        FROM cand c JOIN best b ON c.word = b.word AND c.canon_freq = b.mf
        GROUP BY c.word, c.freq, c.canon_freq""")),
    // corpus-level curation ops: vocabulary, salient terms, repetition
    // quality signals, data-mix report, stratified mixing
    Query("q_vocabulary", (s, dir) => TextAnalysis.vocabulary(docs(s, dir)),
      Some(s"""$docTokenCounts
        SELECT token, CAST(sum(tf_doc) AS BIGINT) AS tf, count(*) AS df
        FROM pd GROUP BY 1""")),
    // heavy-hitter tokens: the emitted relation is the EXACT set (integer
    // threshold arithmetic, fully hash-gated); `covered` gates the
    // bounded-state freqItems sketch's no-false-negatives guarantee
    // in-plan (the q_approx_bounds envelope pattern). invSupport=60 puts
    // the sf fixtures' threshold inside the token-count range.
    Query("q_heavy_hitters", (s, dir) =>
      Stats.heavyHitters(TextAnalysis.tokenPairs(docs(s, dir)), "token", 60L),
      // Stats family. q_heavy_hitters is FULLY hash-gated even though it
      // consults a sketch: the emitted relation is the exact integer-
      // threshold set, and freqItems' no-false-negative guarantee forces
      // `covered` to TRUE for every exact hitter — so the oracle asserts
      // the constant (the q_approx_bounds envelope pattern, folded into
      // one row).
      Some(s"""$tokenTotals
        SELECT token, CAST(cnt AS BIGINT) AS cnt, TRUE AS covered
        FROM c, t WHERE cnt * 60 > total""")),
    // Count-Min-Sketch envelope: exact hitter counts hash-gated, each
    // CMS estimate asserted inside [cnt, cnt + ceil(eps*N)] in-plan
    Query("q_cms_bounds", (s, dir) =>
      Stats.cmsBounds(TextAnalysis.tokenPairs(docs(s, dir)), "token", 60L),
      Some(s"""$tokenTotals
        SELECT token, CAST(cnt AS BIGINT) AS cnt, TRUE AS cms_within
        FROM c, t WHERE cnt * 60 > total""")),
    // headMinDf/headMinTf below are joinTokenTotals' frequency-routing
    // knob (broadcast head vs shuffled tail) — it never changes answers.
    // 10 splits the sf0.01 fixture vocabulary, so the oracle exercises
    // BOTH routing paths, not just the all-tail degenerate plan.
    Query("q_top_terms", (s, dir) =>
      TextAnalysis.topTerms(docs(s, dir), k = 5, headMinDf = 10L),
      Some(s"""$docTokenCounts,
        v AS (SELECT token, count(*) AS df FROM pd GROUP BY 1),
        sc AS (
          SELECT pd.doc_id, pd.token,
            round(CAST(pd.tf_doc AS DOUBLE)
              * CAST((SELECT count(*) FROM documents) AS DOUBLE)
              / CAST(v.df AS DOUBLE), 6) AS score
          FROM pd JOIN v USING (token))
        SELECT doc_id, token, score, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, token) AS rn FROM sc)
        WHERE rn <= 5""")),
    Query("q_repetition", (s, dir) => TextAnalysis.repetitionStats(docs(s, dir)),
      Some(s"""$docTokenCounts,
        agg AS (
          SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_tokens,
                 count(*) AS n_distinct, max(tf_doc) AS mx
          FROM pd GROUP BY 1)
        SELECT doc_id, n_tokens, n_distinct,
          round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            AS repetition_ratio,
          round(CAST(mx AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS top_token_share
        FROM agg""")),
    // unigram surprise: tf-weighted mean inverse token probability,
    // integer-microunit quantized before summation so both engines do
    // exact integer aggregation (ln is banned from compared values —
    // libm last-ulp divergence; see TextAnalysis.unigramSurprise)
    Query("q_surprise", (s, dir) =>
      TextAnalysis.unigramSurprise(docs(s, dir), headMinTf = 10L),
      Some(s"""$docTokenCounts,
        tot AS (SELECT token, CAST(sum(tf_doc) AS BIGINT) AS tf FROM pd GROUP BY 1),
        n AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM tot),
        q AS (
          SELECT pd.doc_id, pd.tf_doc,
            CAST(round(1e6 * CAST(n.n AS DOUBLE) / CAST(tot.tf AS DOUBLE)) AS DECIMAL(38,0)) AS ip_micro
          FROM pd JOIN tot USING (token) CROSS JOIN n)
        SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_tokens,
          round(CAST(sum(tf_doc * ip_micro) AS DOUBLE)
            / (1e6 * CAST(sum(tf_doc) AS DOUBLE)), 6) AS surprise
        FROM q GROUP BY 1""")),
    // token-length histogram (sequence-length planning input)
    Query("q_token_histogram", (s, dir) =>
      TextAnalysis.tokenLengthHistogram(docs(s, dir), bucketSize = 16),
      Some("""WITH t AS (
          SELECT len(list_filter(string_split_regex(lower(text), ' +'),
                     t -> t != '')) AS n_tokens
          FROM documents)
        SELECT CAST(n_tokens // 16 AS INTEGER) AS bucket,
          count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
          CAST(n_tokens // 16 AS INTEGER) * 16 AS bucket_lo
        FROM t GROUP BY 1, 4""")),
    // BM25 keyword retrieval: per-term tf/df/dl feed the Okapi formula
    // with rational idf (ln banned from compared values) and integer-
    // micro-unit per-term quantization before the cross-term sum — the
    // oracle runs the identical arithmetic. Terms from the fixture
    // vocabulary so tf and length normalization actually discriminate.
    Query("q_bm25", (s, dir) =>
      TextAnalysis.bm25Rank(docsPar(s, dir), Seq("vector", "hash", "spark"),
        k = 100),
      // BM25: the identical arithmetic chain (rational idf, every literal
      // CAST to DOUBLE to stay out of decimal-literal typing, per-term
      // micro-units summed as exact integers). Same k1=1.2 / b=0.75.
      Some("""WITH base AS (
          SELECT doc_id, len(tk) AS dl,
            len(list_filter(tk, t -> t = 'vector')) AS tf0,
            len(list_filter(tk, t -> t = 'hash')) AS tf1,
            len(list_filter(tk, t -> t = 'spark')) AS tf2
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
                FROM documents)),
        stats AS (
          SELECT count(*) AS n,
            CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
            sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
            sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
            sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
          FROM base),
        sc AS (
          SELECT doc_id,
            (CASE WHEN tf0 > 0 THEN CAST(round(
                1e6 * ((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(df0 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                    * (CAST(tf0 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                    / (CAST(tf0 AS DOUBLE)
                       + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))
              ) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END
             + CASE WHEN tf1 > 0 THEN CAST(round(
                1e6 * ((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(df1 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                    * (CAST(tf1 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                    / (CAST(tf1 AS DOUBLE)
                       + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))
              ) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END
             + CASE WHEN tf2 > 0 THEN CAST(round(
                1e6 * ((CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(df2 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                    * (CAST(tf2 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                    / (CAST(tf2 AS DOUBLE)
                       + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))
              ) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS micro
          FROM base CROSS JOIN stats)
        SELECT doc_id, round(CAST(micro AS DOUBLE) / 1e6, 6) AS score
        FROM sc WHERE micro > 0
        ORDER BY score DESC, doc_id LIMIT 100""")),
    // bigram surprise: mean inverse conditional bigram probability,
    // micro-quantized like q_surprise; headMin=10 splits the sf0.01
    // bigram/prefix frequency ranges so BOTH frequency-routed paths of
    // BOTH total joins are oracle-exercised
    Query("q_bigram_surprise", (s, dir) =>
      TextAnalysis.bigramSurprise(docs(s, dir), headMin = 10L),
      // Bigram surprise: plain-join form of the frequency-routed plan
      // (routing never changes answers); same micro-unit quantization as
      // q_surprise, conditional probability = prefix count / bigram count.
      Some("""WITH tl AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        bg AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(tk)),
              i -> tk[i] || ' ' || tk[i + 1])) AS token
          FROM tl WHERE len(tk) >= 2),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM bg GROUP BY 1, 2),
        tot AS (SELECT token, CAST(sum(tf_doc) AS BIGINT) AS tf_big FROM pd GROUP BY 1),
        pref AS (
          SELECT split_part(token, ' ', 1) AS w1,
            CAST(sum(tf_doc) AS BIGINT) AS tf_prefix
          FROM pd GROUP BY 1),
        q AS (
          SELECT pd.doc_id, pd.tf_doc,
            CAST(round(1e6 * CAST(pref.tf_prefix AS DOUBLE)
              / CAST(tot.tf_big AS DOUBLE)) AS DECIMAL(38,0)) AS ip_micro
          FROM pd
          JOIN tot USING (token)
          JOIN pref ON split_part(pd.token, ' ', 1) = pref.w1)
        SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_bigrams,
          round(CAST(sum(tf_doc * ip_micro) AS DOUBLE)
            / (1e6 * CAST(sum(tf_doc) AS DOUBLE)), 6) AS surprise2
        FROM q GROUP BY 1""")),
    // windowed PMI collocations: per-row pair fan-out (≤ window), one
    // pair aggregation, vocab-level marginals joined back; the PMI ratio
    // crosses the gate ln-free in micro-units
    Query("q_pmi", (s, dir) =>
      TextAnalysis.pmiCooccurrence(docs(s, dir), window = 3,
        minPairCount = 5L),
      // windowed PMI mirrored: DuckDB list slice tk[i+1:i+3] == Spark
      // slice(t, i+1, 3); same marginal derivation, same (n/c1)*(N/c2)
      // association order
      Some("""WITH tl AS (
          SELECT list_filter(string_split_regex(lower(text), ' +'),
            t -> t != '') AS tk
          FROM documents),
        p AS (
          SELECT unnest(flatten(list_transform(range(1, len(tk)),
            i -> list_transform(tk[i+1:i+3], u -> tk[i] || ' ' || u))))
            AS token
          FROM tl WHERE len(tk) >= 2),
        pc AS (
          SELECT token, count(*) AS n_pair,
            split_part(token, ' ', 1) AS w1,
            split_part(token, ' ', 2) AS w2
          FROM p GROUP BY 1),
        c1 AS (SELECT w1, sum(n_pair) AS c1 FROM pc GROUP BY 1),
        c2 AS (SELECT w2, sum(n_pair) AS c2 FROM pc GROUP BY 1),
        t AS (SELECT sum(n_pair) AS n FROM pc)
        SELECT token, CAST(n_pair AS BIGINT) AS n_pair,
          CAST(CAST(round(1e6 * ((CAST(n_pair AS DOUBLE) / CAST(c1 AS DOUBLE))
            * (CAST(n AS DOUBLE) / CAST(c2 AS DOUBLE))))
            AS DECIMAL(38,0)) AS VARCHAR) AS pmi_ratio_micro
        FROM pc JOIN c1 USING (w1) JOIN c2 USING (w2), t
        WHERE n_pair >= 5""")),
    // document chunking: fixed 32-token windows with 4-token overlap
    // (stride 28) — chunk boundaries, coverage, and rejoined chunk text
    // are all deterministic token arithmetic both engines share
    Query("q_chunk", (s, dir) =>
      Packing.chunkDocuments(docs(s, dir), maxTokens = 32, overlap = 4),
      // Chunking: same integer window arithmetic (stride 28 = 32 - 4;
      // nChunks = max(1, ceil((n - overlap)/stride)); 1-based clamped
      // slices rejoined with single spaces).
      Some("""WITH tl AS (
          SELECT doc_id,
            list_filter(string_split_regex(trim(text), ' +'), t -> t != '') AS tk
          FROM documents),
        n AS (
          SELECT doc_id, tk, greatest(1, (len(tk) - 4 + 27) // 28) AS nc
          FROM tl WHERE len(tk) >= 1),
        c AS (SELECT doc_id, tk, unnest(range(0, nc)) AS chunk_id FROM n)
        SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
          array_to_string(list_slice(tk, chunk_id * 28 + 1, chunk_id * 28 + 32), ' ')
            AS chunk_text,
          CAST(len(list_slice(tk, chunk_id * 28 + 1, chunk_id * 28 + 32)) AS INTEGER)
            AS n_tokens
        FROM c""")),
    // true BPE token counting: rank-ordered merge table applied per word,
    // both expression chains generated from TextAnalysis.defaultBpeMerges
    Query("q_bpe_tokens", (s, dir) =>
      TextAnalysis.bpeTokenCounts(docsPar(s, dir)),
      // BPE token counting: oracle chain generated from the SAME merge
      // table as the Spark expression (bpeOracleSql).
      Some(bpeOracleSql)),
    // real-scale table: 150 rules (75 corpus-trained + deterministic
    // compounds to the DuckDB chain-parse ceiling) through the BpeEncode
    // array-speed expression; the oracle runs the same table as 150
    // generated nested replaces
    Query("q_bpe_tokens_large", (s, dir) =>
      TextAnalysis.bpeTokenCounts(docsPar(s, dir),
        TextAnalysis.largeBpeMerges),
      // staged CTE layers: DuckDB's binder caps one nested chain at 128
      // recursion depth, so the large-table oracle applies 50 rules per
      // layer — identical semantics, any table size
      Some(bpeOracleSqlStaged(largeBpeMerges))),
    // GPT-2 pre-tokenization (Radford et al. 2019) ahead of the same
    // 150-rule merge chain: contractions / space-prefixed letter, digit
    // and punctuation runs / whitespace runs — the lookahead-free
    // sentinel formulation proven token-identical to the paper regex in
    // Gpt2SplitPropSpec; punctuation-adjacent words (don't, co-op) are
    // PRICED here where the whitespace row drops them
    Query("q_bpe_tokens_gpt2", (s, dir) =>
      TextAnalysis.bpeTokenCountsGpt2(
        TextAnalysis.syntheticTextMultiFromDocs(docsPar(s, dir))),
      // GPT-2 split + staged chain, generated from the SAME pattern and
      // merge table as the Spark side (sentinel pre-pass in RE2 form);
      // input = documents text + profile sentence + non-ASCII plant so
      // the \p{L} classes are hash-gated cross-engine on every row
      Some(bpeGpt2OracleSqlStaged)),
    // one BPE TRAINING step mid-table (4 merges learned): weighted
    // adjacent-pair counts over the word-frequency table, top-25
    // candidates — the argmax is the next merge rule
    Query("q_bpe_merges", (s, dir) =>
      TextAnalysis.bpeMergeCandidates(docs(s, dir),
        TextAnalysis.defaultBpeMerges.take(4), topN = 25),
      // generated from the SAME 4-merge prefix as the Spark side
      Some(bpeMergeOracleSql(
        TextAnalysis.defaultBpeMerges.take(4), topN = 25))),
    // piece vocabulary under the tokenizer (the BPE family's INSPECT
    // leg): one row per distinct post-merge piece with corpus frequency
    Query("q_bpe_pieces", (s, dir) =>
      TextAnalysis.bpePieceCounts(docs(s, dir)),
      // piece vocabulary, chain generated from the same full merge table
      Some(bpePieceOracleSql)),
    // trigram repetition (Gopher/RefinedWeb duplicate-n-gram filter):
    // n=3 exercises the generalized lambda-free n-gram build, not just
    // the bigram case the surprise query covers
    Query("q_trigram_repetition", (s, dir) =>
      TextAnalysis.ngramRepetition(docs(s, dir), n = 3),
      // Trigram repetition: same rollup as q_repetition, one n-gram level
      // up; docs under 3 tokens emit no row (no trigrams exist).
      Some("""WITH tl AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        ng AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
          FROM tl WHERE len(tk) >= 3),
        pd AS (SELECT doc_id, g, count(*) AS tf FROM ng GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_ngrams,
          count(*) AS n_distinct,
          round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6)
            AS dup_ngram_ratio,
          round(CAST(max(tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6)
            AS top_ngram_share
        FROM pd GROUP BY 1""")),
    // Kneser-Ney trigram cross-entropy (CCNet quality filter shape):
    // LM fitted on the lang='en' slice, every doc scored; the only ln
    // runs per trigram TYPE, micro-quantized (DSIR discipline); string
    // keys end-to-end, so the oracle mirrors counts exactly
    Query("q_kn_perplexity", (s, dir) =>
      TextAnalysis.knPerplexity(docs(s, dir), col("lang") === "en"),
      // Kneser-Ney trigram cross-entropy: trigrams from '<s> <s> … </s>'
      // padded token lists (the oracle carries (w1,w2,w3) columns — the
      // space-join is injective since tokens contain no spaces); all model
      // statistics are exact integer TYPE counts; the KN probability is
      // the identical IEEE DOUBLE expression operation-for-operation; the
      // only ln runs per trigram type and is micro-quantized before the
      // exact HUGEINT per-document sum (mirrors DECIMAL(38,0)).
      Some("""WITH tl AS (
          SELECT doc_id, (lang = 'en') AS tgt,
            list_concat(list_concat(['<s>', '<s>'],
              coalesce(list_filter(string_split_regex(lower(text), ' +'), t -> t != ''),
                       CAST([] AS VARCHAR[]))), ['</s>']) AS pd
          FROM documents),
        tri AS (
          SELECT doc_id, tgt, pd[i] AS w1, pd[i + 1] AS w2, pd[i + 2] AS w3
          FROM tl, unnest(generate_series(1, len(pd) - 2)) AS u(i)),
        perdoc AS (
          SELECT doc_id, tgt, w1, w2, w3, count(*) AS tf
          FROM tri GROUP BY 1, 2, 3, 4, 5),
        types AS (
          SELECT w1, w2, w3,
            sum(CASE WHEN tgt THEN tf ELSE 0 END) AS c3t
          FROM perdoc GROUP BY 1, 2, 3),
        tt AS (SELECT * FROM types WHERE c3t > 0),
        ctx AS (SELECT w1, w2, sum(c3t) AS c2ctx, count(*) AS n1p2 FROM tt GROUP BY 1, 2),
        tailt AS (SELECT w2, w3, count(*) AS cont2 FROM tt GROUP BY 1, 2),
        midt AS (SELECT w2, count(*) AS n1p_mid FROM tt GROUP BY 1),
        folt AS (SELECT w2, count(*) AS n1p_follow FROM tailt GROUP BY 1),
        unig AS (SELECT w3, count(*) AS n1p_prec FROM tailt GROUP BY 1),
        tot AS (SELECT (SELECT count(*) FROM tailt) AS n1p_all,
                       (SELECT count(*) FROM unig) AS v1),
        sc AS (
          SELECT t.w1, t.w2, t.w3,
            CAST(round(1e6 * ln(
              CASE WHEN c.c2ctx IS NULL THEN
                (CASE WHEN m.n1p_mid IS NULL THEN
                   (CAST(coalesce(g.n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                     / (CAST(tot.n1p_all AS DOUBLE) + CAST(tot.v1 AS DOUBLE) + CAST(1 AS DOUBLE))
                 ELSE
                   greatest(CAST(coalesce(a.cont2, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                     / CAST(m.n1p_mid AS DOUBLE)
                   + ((CAST(0.75 AS DOUBLE) * CAST(f.n1p_follow AS DOUBLE) / CAST(m.n1p_mid AS DOUBLE))
                      * ((CAST(coalesce(g.n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                         / (CAST(tot.n1p_all AS DOUBLE) + CAST(tot.v1 AS DOUBLE) + CAST(1 AS DOUBLE))))
                 END)
              ELSE
                greatest(CAST(t.c3t AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                  / CAST(c.c2ctx AS DOUBLE)
                + ((CAST(0.75 AS DOUBLE) * CAST(c.n1p2 AS DOUBLE) / CAST(c.c2ctx AS DOUBLE))
                   * (CASE WHEN m.n1p_mid IS NULL THEN
                        (CAST(coalesce(g.n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                          / (CAST(tot.n1p_all AS DOUBLE) + CAST(tot.v1 AS DOUBLE) + CAST(1 AS DOUBLE))
                      ELSE
                        greatest(CAST(coalesce(a.cont2, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                          / CAST(m.n1p_mid AS DOUBLE)
                        + ((CAST(0.75 AS DOUBLE) * CAST(f.n1p_follow AS DOUBLE) / CAST(m.n1p_mid AS DOUBLE))
                           * ((CAST(coalesce(g.n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                              / (CAST(tot.n1p_all AS DOUBLE) + CAST(tot.v1 AS DOUBLE) + CAST(1 AS DOUBLE))))
                      END))
              END)) AS HUGEINT) AS lp
          FROM types t
          LEFT JOIN ctx c ON t.w1 = c.w1 AND t.w2 = c.w2
          LEFT JOIN tailt a ON t.w2 = a.w2 AND t.w3 = a.w3
          LEFT JOIN midt m ON t.w2 = m.w2
          LEFT JOIN folt f ON t.w2 = f.w2
          LEFT JOIN unig g ON t.w3 = g.w3
          CROSS JOIN tot),
        agg AS (
          SELECT p.doc_id, sum(p.tf) AS n_events,
            sum(CAST(p.tf AS HUGEINT) * s.lp) AS sm
          FROM perdoc p
          JOIN sc s ON p.w1 = s.w1 AND p.w2 = s.w2 AND p.w3 = s.w3
          GROUP BY 1)
        SELECT doc_id,
          CAST(n_events AS BIGINT) AS n_events,
          CAST(sm AS DOUBLE) / 1e6 AS logprob,
          -CAST(sm AS DOUBLE) / (1e6 * CAST(n_events AS DOUBLE)) AS xent_nats
        FROM agg""")))
}
