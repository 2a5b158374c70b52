package graft.queries

import graft.operators.{CorpusPipeline, Packing, Ranking, Selection, Stats, TextAnalysis}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions.{col, expr}

/** Corpus composition and selection: mix reports, sampling and splits,
  * DSIR and Naive-Bayes selection, token budgets and shard plans, and the
  * cleaning and curation chains.
  */
object CorpusQueries {
  /** DuckDB mirror of [[graft.operators.Selection]] (DSIR importance
    * weights + Gumbel top-k sample): unigrams + space-joined bigrams
    * through the shared XXH64 pipeline, bucket = hash mod 4096 (HUGEINT
    * is unsigned, so plain `%` equals the engine's signed `& 4095`),
    * per-bucket log-ratio micro-quantized exactly as the engine does
    * (round(1e6·ln-ratio) — the only `ln`s on either side run once per
    * BUCKET), per-doc sums in exact HUGEINT, one emitting division. The
    * Gumbel key reuses the q_split md5-bucket16 arithmetic.
    *
    * Precondition note: the asciiGuard here sees space-joined BIGRAMS,
    * so the <32-byte XXH64 stripe bounds each individual token at
    * (31 - 1) / 2 = 15 bytes — tighter than the simhash path's 31. The
    * driver fixture vocabulary is well inside that; the guard fails
    * loudly (naming the gram) rather than silently mis-hashing.
    */
  private object DsirOracleSql {
    import DedupQueries.XxhOracleSql._

    /** CTE chain ending in `sc` = (doc_id, n_grams, sm). */
    private def scoreCtes: String = "WITH " + scoreCtesFrom("documents")

    /** The same chain WITHOUT the leading WITH and over an arbitrary
      * base relation (must carry doc_id, lang, text) — embeddable after
      * other CTEs (q_curate_corpus runs it over the curated survivors).
      */
    /** The hashed-gram prefix alone: tl → … → bc = (doc_id, b, n), the
      * shared (doc, bucket) count relation both the DSIR model and the
      * NB classifier consume (mirroring the engine, where both operators
      * fit off the same bucketCounts exchange).
      */
    def gramCtesFrom(base: String): String =
      s"""tl AS (
          SELECT doc_id, (lang = 'en') AS tgt,
            list_filter(string_split(lower(text), ' '), t -> t != '') AS ts
          FROM $base),
        uni AS (SELECT doc_id, unnest(ts) AS w FROM tl),
        big AS (
          SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS w
          FROM tl, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        grams0 AS (SELECT doc_id, w FROM uni UNION ALL SELECT doc_id, w FROM big),
        grams AS (${asciiGuard("grams0", "dsir", "gram")}),
        th AS (${tokenHash.replace("@TOKS@", "grams")}),
        bc AS (SELECT doc_id, hash % 4096 AS b, count(*) AS n
               FROM th GROUP BY 1, 2)"""

    def scoreCtesFrom(base: String): String =
      s"""${gramCtesFrom(base)},
        model AS (
          SELECT b, sum(CASE WHEN t.tgt THEN n ELSE 0 END) AS ct, sum(n) AS cr
          FROM bc JOIN tl t USING (doc_id) GROUP BY 1),
        tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM model),
        mw AS (
          SELECT b, CAST(round(1e6 * (ln(ct + 1.0) - ln(cr + 1.0)
            + ln(nr + 4096.0) - ln(nt + 4096.0))) AS HUGEINT) AS lw
          FROM model, tot),
        sc AS (
          SELECT doc_id, sum(n) AS n_grams, sum(CAST(n AS HUGEINT) * lw) AS sm
          FROM bc JOIN mw USING (b) GROUP BY 1)"""

    def weightsSql: String =
      s"""$scoreCtes
        SELECT d.doc_id,
          coalesce(CAST(sc.n_grams AS BIGINT), 0) AS n_grams,
          coalesce(CAST(sc.sm AS DOUBLE) / 1e6, 0.0) AS log_weight
        FROM documents d LEFT JOIN sc USING (doc_id)"""

    def sampleSql(k: Int): String = s"$scoreCtes${gumbelTail("documents", k)}"

    /** Naive-Bayes target-vs-rest classifier over the same hashed-gram
      * relation: class-conditional counts, add-1-smoothed per-bucket llr
      * micro-quantized as HUGEINT, whole-corpus class doc-count prior,
      * exact integer per-document sums — the arithmetic mirror of
      * `Selection.nbQuality` (λ = 1, B = 4096).
      */
    def nbSql: String =
      s"""WITH ${gramCtesFrom("documents")},
        model AS (
          SELECT b, sum(CASE WHEN t.tgt THEN n ELSE 0 END) AS ct,
            sum(CASE WHEN NOT t.tgt THEN n ELSE 0 END) AS cf
          FROM bc JOIN tl t USING (doc_id) GROUP BY 1),
        tot AS (SELECT sum(ct) AS nt, sum(cf) AS nf FROM model),
        prior AS (
          SELECT CAST(round(1e6 * (ln(td + CAST(1 AS DOUBLE))
            - ln(fd + CAST(1 AS DOUBLE)))) AS HUGEINT) AS pm
          FROM (SELECT
              sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS td,
              sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS fd
            FROM tl WHERE doc_id IS NOT NULL)),
        mw AS (
          SELECT b, CAST(round(1e6 * (ln(ct + 1.0) - ln(nt + 1.0 * 4096)
            - ln(cf + 1.0) + ln(nf + 1.0 * 4096))) AS HUGEINT) AS llr
          FROM model, tot),
        sc AS (
          SELECT doc_id, sum(n) AS n_grams, sum(CAST(n AS HUGEINT) * llr) AS sm
          FROM bc JOIN mw USING (b) GROUP BY 1)
        SELECT d.doc_id,
          coalesce(CAST(sc.n_grams AS BIGINT), 0) AS n_grams,
          CAST((coalesce(sc.sm, CAST(0 AS HUGEINT)) + prior.pm) AS DOUBLE) / 1e6
            AS log_odds,
          (coalesce(sc.sm, CAST(0 AS HUGEINT)) + prior.pm) > 0 AS pred_target
        FROM documents d LEFT JOIN sc USING (doc_id), prior"""

    /** Gumbel top-k tail after [[scoreCtesFrom]] (same base relation). */
    def gumbelTail(base: String, k: Int): String =
      s""",
        wsc AS (
          SELECT d.doc_id, coalesce(sc.sm, CAST(0 AS HUGEINT)) AS sm
          FROM $base d LEFT JOIN sc USING (doc_id)),
        gm AS (
          SELECT doc_id, sm, md5(CAST(doc_id AS VARCHAR)) AS m FROM wsc),
        gk AS (
          SELECT doc_id, sm + CAST(round(1e6 * -ln(-ln((
            ((((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1))
            + 0.5) / 65536.0))) AS HUGEINT) AS key_micro
          FROM gm)
        SELECT doc_id, CAST(key_micro AS DOUBLE) / 1e6 AS key
        FROM gk ORDER BY key_micro DESC, doc_id ASC LIMIT $k"""
  }

  val all: Seq[Query] = Seq(
    Query("q_mix_report", (s, dir) => TextAnalysis.mixReport(docs(s, dir)),
      Some("""SELECT lang, source, count(*) AS n_docs,
          CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
          round(CAST(count(*) AS DOUBLE)
            / CAST((SELECT count(*) FROM documents) AS DOUBLE) * 100.0, 6) AS pct_docs
        FROM documents GROUP BY 1, 2""")),
    // ROLLUP hierarchy in ONE pass — level = grouping_id bitmask, the
    // disambiguator between subtotal rows and genuine NULL group values
    Query("q_mix_rollup", (s, dir) => TextAnalysis.mixRollup(docs(s, dir)),
      Some("""SELECT lang, source, count(*) AS n_docs,
          CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
          CAST(GROUPING(lang, source) AS INTEGER) AS level
        FROM documents GROUP BY ROLLUP(lang, source)""")),
    // deterministic hash-threshold stratified sample — DuckDB computes the
    // identical md5-bucket arithmetic, so the selected row SET is the
    // oracle (seeded Bernoulli `stratifiedSample` remains the fast
    // engine-specific sibling, spec-covered)
    Query("q_stratified_sample", (s, dir) =>
      TextAnalysis.stratifiedSampleHash(docs(s, dir), "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25, "zh" -> 0.1))
        .select("doc_id", "lang"),
      // Identical md5-bucket arithmetic as the engine's stratifiedSampleHash
      // (and q_split): bucket = first 4 md5 hex digits of 'doc_id|lang'.
      Some("""WITH h AS (
          SELECT doc_id, lang,
            md5(CAST(doc_id AS VARCHAR) || '|' || lang) AS m
          FROM documents),
        b AS (
          SELECT doc_id, lang,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h)
        SELECT doc_id, lang FROM b
        WHERE bucket < CASE lang
          WHEN 'de' THEN 16384 WHEN 'en' THEN 32768 WHEN 'es' THEN 16384
          WHEN 'fr' THEN 16384 WHEN 'zh' THEN 6554 ELSE 0 END""")),
    // deterministic content-hash split assignment (train/val/test)
    Query("q_split", (s, dir) =>
      TextAnalysis.assignSplit(docs(s, dir),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split"),
      Some("""WITH h AS (
          SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        b AS (
          SELECT doc_id,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h)
        SELECT doc_id,
          CASE WHEN bucket < 52429 THEN 'train'
               WHEN bucket < 58982 THEN 'val'
               ELSE 'test' END AS split
        FROM b""")),
    // weight-proportional deterministic sample (P ∝ n_chars, all-integer
    // bucket·W_total < 65536·target·w comparison, W_total broadcast)
    Query("q_weighted_sample", (s, dir) =>
      TextAnalysis.weightedSampleHash(docs(s, dir), "n_chars", 300L),
      // weighted sample mirrored: same md5-bucket arithmetic as q_split,
      // same all-integer keep predicate, W_total from a 1-row scalar
      Some("""WITH w AS (
          SELECT doc_id, text, lang, source, n_chars,
            CAST(n_chars AS BIGINT) AS wv,
            md5(CAST(doc_id AS VARCHAR)) AS m
          FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        t AS (SELECT sum(wv) AS wt FROM w),
        b AS (
          SELECT w.*,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM w)
        SELECT doc_id, text, lang, source, n_chars FROM b, t
        WHERE bucket * wt < 65536 * 300 * wv""")),
    // target-mix resampling: per-stratum keep thresholds derived in-plan
    // from corpus counts + target weights (bottleneck stratum keeps all
    // rows); row selection is the deterministic md5-bucket filter, so
    // the kept SET is the oracle. zh is deliberately untargeted (dropped).
    Query("q_mix_resample", (s, dir) =>
      TextAnalysis.mixResample(docs(s, dir), "lang",
        Seq("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2))
        .select("doc_id", "lang"),
      // Target-mix resample: thresholds derived from counts + the same
      // DOUBLE-cast weight literals, selection via the q_split md5-bucket
      // arithmetic over 'doc_id|lang'.
      Some("""WITH c AS (
          SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        w AS (
          SELECT lang, c,
            CASE lang
              WHEN 'en' THEN CAST(0.4 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE))
              WHEN 'de' THEN CAST(0.2 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE))
              WHEN 'fr' THEN CAST(0.2 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE))
              WHEN 'es' THEN CAST(0.2 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE))
            END AS w
          FROM c),
        t AS (
          SELECT lang,
            CAST(round(min(CAST(c AS DOUBLE) / w) OVER () * w
              / CAST(c AS DOUBLE) * 65536) AS INTEGER) AS thresh
          FROM w WHERE w IS NOT NULL),
        h AS (
          SELECT doc_id, lang,
            md5(CAST(doc_id AS VARCHAR) || '|' || lang) AS m
          FROM documents),
        b AS (
          SELECT doc_id, lang,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h)
        SELECT b.doc_id, b.lang FROM b JOIN t USING (lang)
        WHERE b.bucket < t.thresh""")),
    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // multinomials, target = lang 'en', per-bucket log-ratio micro-
    // quantized so the per-doc sum is exact fixed-point (cross-engine
    // hash-gated end to end; the only ln runs once per bucket)
    Query("q_dsir_weights", (s, dir) =>
      Selection.dsirWeights(docs(s, dir), col("lang") === "en"),
      // DSIR: the shared XXH64 generator hashes unigrams+bigrams, bucket
      // model + micro-quantized log-ratios mirrored arithmetic-for-
      // arithmetic (see DsirOracleSql).
      Some(DsirOracleSql.weightsSql)),
    // Naive-Bayes quality classifier (fastText/CCNet companion): target-
    // vs-rest class multinomials + doc-count prior over the SAME hashed-
    // gram exchange as DSIR, exact-integer fit, per-bucket micro-
    // quantized llr — fully hash-gated via the XXH64 mirror
    Query("q_nb_quality", (s, dir) =>
      Selection.nbQuality(docs(s, dir), col("lang") === "en"),
      Some(DsirOracleSql.nbSql)),
    // DSIR Gumbel top-k resample: fixed selection budget, deterministic
    // md5-bucket uniform — the selected SET and perturbed keys are the
    // oracle
    Query("q_dsir_sample", (s, dir) =>
      Selection.dsirSample(docs(s, dir), col("lang") === "en", k = 1000),
      Some(DsirOracleSql.sampleSql(1000))),
    // token-budget selection: keep docs in global (score DESC, md5 tie)
    // order until 1/10 of the corpus token total is spent — the
    // distributed two-pass prefix sum vs the oracle's window cumsum;
    // the kept set AND every inclusive prefix value are hash-gated
    Query("q_token_budget", (s, dir) => {
      val withTok = docs(s, dir).select(col("doc_id"),
        col("n_chars").as("score"),
        expr("size(filter(split(lower(text), ' +'), x -> x != ''))")
          .cast("long").as("n_tokens"))
      val total = withTok.agg(org.apache.spark.sql.functions.sum("n_tokens"))
        .head.getLong(0)
      Selection.tokenBudgetSelect(withTok, "score", "n_tokens", total / 10L)
    },
      // token-budget selection: the oracle states the SEMANTICS as the
      // single-node window cumsum the engine deliberately avoids (the
      // md5 tie makes the order total, so RANGE peers never share a
      // prefix); budget = total tokens // 10, derived from the same
      // count in both engines
      Some("""WITH t AS (
          SELECT doc_id, n_chars AS score,
            CAST(len(list_filter(string_split_regex(lower(text), ' +'),
                                 x -> x != '')) AS BIGINT) AS n_tokens,
            md5(concat('tb', CAST(doc_id AS VARCHAR))) AS __tie
          FROM documents),
        b AS (SELECT CAST(sum(n_tokens) // 10 AS BIGINT) AS budget FROM t),
        c AS (SELECT doc_id, score, n_tokens,
            CAST(sum(n_tokens) OVER (ORDER BY score DESC, __tie ASC)
                 AS BIGINT) AS cum_tokens
          FROM t)
        SELECT doc_id, score, n_tokens, cum_tokens
        FROM c, b WHERE cum_tokens <= b.budget""")),
    // engine-portable packing invariants (bin IDS are partition-local by
    // design — the conserved aggregates + FFD guarantees are the
    // oracle-able face; row-level packing is spec-covered)
    Query("q_pack_invariants", (s, dir) =>
      graft.operators.Packing.packingInvariants(docs(s, dir), capacity = 256),
      // Conservation + FFD invariants: n_docs/n_tokens computed directly
      // over the corpus; the boolean invariants must hold by construction.
      Some("""SELECT count(*) AS n_docs,
          CAST(sum(len(list_filter(string_split_regex(lower(text), ' +'), t -> t != ''))) AS BIGINT) AS n_tokens,
          TRUE AS fill_consistent, TRUE AS max_fill_ok,
          TRUE AS bins_lower_ok, TRUE AS underfull_ok
        FROM documents""")),
    // composed cleaning recipe: dedup + quality floor + language filter
    Query("q_clean_corpus", (s, dir) => CorpusPipeline.clean(docsPar(s, dir, pinned = true)),
      Some(s"""WITH tk AS (
          SELECT doc_id, text,
            list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        dd AS (
          SELECT doc_id,
            min(doc_id) OVER (PARTITION BY h) AS canonical_id,
            count(*) OVER (PARTITION BY h) AS dup_count
          FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))) AS h
                FROM documents)),
        qual AS (
          SELECT doc_id,
            round(
              least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
              (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE)) * 0.4 +
              least(CAST(len(list_filter(tk, t -> t IN
                  (${TextQueries.allStopDuck}))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE) * 5.0, 1.0) * 0.2
            , 6) AS quality
          FROM tk),
        lang AS (
          SELECT doc_id,
            ${TextQueries.langPredCaseDuck} AS lang_pred
          FROM (
            SELECT doc_id, text,
              ${TextQueries.langScoresDuck}
            FROM tk)),
        st AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens FROM tk)
        SELECT d.doc_id, lang.lang_pred, qual.quality, st.n_tokens, d.dup_count
        FROM dd d
        JOIN qual USING (doc_id)
        JOIN lang USING (doc_id)
        JOIN st USING (doc_id)
        WHERE d.doc_id = d.canonical_id
          AND qual.quality >= 0.3
          AND st.n_tokens >= 8
          AND lang.lang_pred IN (${TextQueries.keepLangsDuck})""")),
    // near-dup-aware cleaning: only near-dup-component canonicals survive
    // (MinHash closure; oracle = WITH RECURSIVE over the exact pairs,
    // valid because the pair sets are value-equal — see q_minhash_pairs)
    Query("q_clean_neardup", (s, dir) => CorpusPipeline.cleanNearDup(docsPar(s, dir, pinned = true)),
      // Near-dup-aware cleaning: WITH RECURSIVE closure over the exact pair
      // relation (== the MinHash pair relation, proven by q_minhash_pairs)
      // for component canonicals, plus the q_clean_corpus floors.
      Some(s"""WITH RECURSIVE toks AS (
          SELECT doc_id, text,
            list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        prs AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
                  UNION SELECT doc_b, doc_a FROM prs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a),
        comp AS (
          SELECT d.doc_id,
            least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id),
        qual AS (
          SELECT doc_id,
            round(
              least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
              (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE)) * 0.4 +
              least(CAST(len(list_filter(tk, t -> t IN
                  (${TextQueries.allStopDuck}))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE) * 5.0, 1.0) * 0.2
            , 6) AS quality
          FROM toks),
        lang AS (
          SELECT doc_id,
            ${TextQueries.langPredCaseDuck} AS lang_pred
          FROM (
            SELECT doc_id, text,
              ${TextQueries.langScoresDuck}
            FROM toks)),
        st AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens FROM toks)
        SELECT c.doc_id, lang.lang_pred, qual.quality, st.n_tokens
        FROM comp c
        JOIN qual USING (doc_id)
        JOIN lang USING (doc_id)
        JOIN st USING (doc_id)
        WHERE c.doc_id = c.component_id
          AND qual.quality >= 0.3
          AND st.n_tokens >= 8
          AND lang.lang_pred IN (${TextQueries.keepLangsDuck})""")),
    // FULL curation chain in one row: Gopher+C4 gates on the planted
    // page (gates read the rendered page; dedup/selection read the raw
    // body — the standard crawl split), exact-dup canonical, MinHash
    // components + canonical keeper, DSIR Gumbel top-k. One hash gate
    // pins every stage: any drift changes the selected set or its keys.
    Query("q_curate_corpus", (s, dir) =>
      CorpusPipeline.curate(
        docsPar(s, dir, pinned = true).withColumn("__page", expr(TextQueries.c4Page)),
        col("lang") === "en", k = 100, gateTextCol = "__page"),
      // Curation chain: the gate mirrors are q_gopher_rules (minWords=10)
      // and q_c4_rules reduced to their keep booleans over the SAME planted
      // page; exact dedup is the q_exact_dedup md5 canonical as a window
      // min; near-dup pairs are the exact-Jaccard inverted index
      // (value-equal to the engine's MinHash pairs — the q_minhash_pairs /
      // q_clean_neardup precedent, over a SUBSET where shingle frequencies
      // only drop); components are the recursive-CTE min-label closure;
      // selection re-embeds the full DSIR mirror over the survivors.
      // pages/ex/canon are AS MATERIALIZED: each is referenced by several
      // downstream chains, and DuckDB otherwise INLINES them — the pair
      // self-join and recursion get re-planned inside every gram pipeline
      // and the single query exceeds a 100 GB spill at sf3; materialized,
      // the whole chain runs in ~70 s there (each stage is survivor-sized).
      Some(s"""WITH RECURSIVE pages AS MATERIALIZED (
          SELECT doc_id, lang, text, ${TextQueries.c4Page} AS page FROM documents),
        gb AS (
          SELECT doc_id, page,
            coalesce(list_filter(string_split_regex(lower(page), ' +'), t -> t != ''),
                     CAST([] AS VARCHAR[])) AS ts,
            coalesce(list_filter(string_split(page, chr(10)), l -> trim(l) != ''),
                     CAST([] AS VARCHAR[])) AS ls
          FROM pages),
        gmeas AS (
          SELECT doc_id,
            CAST(len(ts) AS BIGINT) AS nw,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts) END AS mwl,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(length(page) - length(replace(page, '#', '')) AS DOUBLE) / len(ts) END AS hr,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST((length(page) - length(replace(page, '...', ''))) // 3
                + (length(page) - length(replace(page, '…', ''))) AS DOUBLE) / len(ts) END AS er,
            CASE WHEN len(ls) = 0 THEN NULL ELSE
              CAST(len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('•','‣','▪','-','*'))) AS DOUBLE)
                / len(ls) END AS br,
            CASE WHEN len(ls) = 0 THEN NULL ELSE
              CAST(len(list_filter(ls, l -> right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…')) AS DOUBLE)
                / len(ls) END AS elr,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(ts) END AS ar,
            CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
              s -> list_contains(ts, s))) AS BIGINT) AS sh
          FROM gb),
        gkeep AS (
          SELECT doc_id,
            ((nw >= 10 AND nw <= 100000)
              AND coalesce(mwl >= 3.0 AND mwl <= 10.0, false)
              AND coalesce(hr <= 0.1 AND er <= 0.1, false)
              AND coalesce(br <= 0.9, false)
              AND coalesce(elr <= 0.3, false)
              AND coalesce(ar >= 0.8, false)
              AND sh >= 2) AS keep
          FROM gmeas),
        cb AS (
          SELECT doc_id, page,
            coalesce(list_filter(list_transform(string_split(page, chr(10)), l -> trim(l)),
                     l -> l != ''), CAST([] AS VARCHAR[])) AS ls
          FROM pages),
        ck AS (
          SELECT doc_id, page,
            coalesce(array_to_string(list_filter(ls, l ->
              right(l, 1) IN ('.', '!', '?', '"', '”')
              AND len(list_filter(string_split_regex(lower(l), ' +'), t -> t != '')) >= 5
              AND NOT contains(lower(l), 'javascript')
              AND NOT (contains(lower(l), 'terms of use') OR contains(lower(l), 'privacy policy')
                OR contains(lower(l), 'cookie policy') OR contains(lower(l), 'uses cookies')
                OR contains(lower(l), 'use of cookies') OR contains(lower(l), 'use cookies'))),
              chr(10)), '') AS tc
          FROM cb),
        ckeep AS (
          SELECT doc_id,
            ((CAST((length(tc) - length(replace(tc, '.', '')))
                + (length(tc) - length(replace(tc, '!', '')))
                + (length(tc) - length(replace(tc, '?', ''))) AS BIGINT) >= 3)
              AND coalesce(NOT contains(lower(page), 'lorem ipsum'), false)
              AND coalesce(NOT contains(page, '{'), false)) AS keep
          FROM ck),
        gated AS (
          SELECT p.doc_id, p.lang, p.text FROM pages p
          JOIN gkeep g2 USING (doc_id) JOIN ckeep c2 USING (doc_id)
          WHERE g2.keep AND c2.keep),
        ex AS MATERIALIZED (
          SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
              min(doc_id) OVER (PARTITION BY coalesce(
                md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))), '__NULL_TEXT__')) AS can
            FROM gated)
          WHERE doc_id = can),
        jtoks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM ex),
        jsh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM jtoks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        jsizes AS (SELECT doc_id, count(*) AS n_sh FROM jsh GROUP BY doc_id),
        jcapped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM jsh)
          WHERE f <= 100),
        jprs AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM jcapped a JOIN jcapped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN jsizes sa ON sa.doc_id = doc_a
          JOIN jsizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM jprs
                  UNION SELECT doc_b, doc_a FROM jprs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a),
        comp AS (
          SELECT e2.doc_id, least(e2.doc_id, coalesce(min(r.b), e2.doc_id)) AS component_id
          FROM ex e2 LEFT JOIN reach r ON r.a = e2.doc_id
          GROUP BY e2.doc_id),
        canon AS MATERIALIZED (
          SELECT e3.doc_id, e3.lang, e3.text FROM ex e3 JOIN comp c3 USING (doc_id)
          WHERE c3.doc_id = c3.component_id),
        ${DsirOracleSql.scoreCtesFrom("canon")}${DsirOracleSql.gumbelTail("canon", 100)}""")),
    // equi-depth quality deciles from the score histogram — no corpus
    // ntile window; ties share a bin so the result is a deterministic
    // SET (see Stats.quantileBins)
    Query("q_quality_bins", (s, dir) =>
      Stats.quantileBins(docs(s, dir).select(col("doc_id"), col("n_chars")),
        "n_chars", 10).select("doc_id", "n_chars", "bin"),
      // bin = min(B-1, floor(B*cumBefore/n)) over the score histogram —
      // DuckDB runs the identical exact-integer arithmetic
      Some("""WITH h AS (
          SELECT CAST(n_chars AS BIGINT) AS score, count(*) AS cnt
          FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        c AS (
          SELECT score,
            coalesce(sum(cnt) OVER (ORDER BY score ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
          FROM h),
        n AS (SELECT sum(cnt) AS total FROM h),
        m AS (
          SELECT score,
            CAST(least(9, (10 * cumb) // total) AS INTEGER) AS bin
          FROM c, n)
        SELECT d.doc_id, d.n_chars, m.bin
        FROM documents d JOIN m ON CAST(d.n_chars AS BIGINT) = m.score""")),
    // deterministic 5-per-source inspection sample by md5 bucket, salted
    // two-phase ranking underneath (salts=4 exercises both phases)
    Query("q_group_sample", (s, dir) =>
      Ranking.hashSamplePerGroup(
        docs(s, dir).select(col("doc_id"), col("source")),
        Seq("source"), "doc_id", k = 5, salts = 4)
        .selectExpr("source", "doc_id", "rank AS rnk"),
      // k smallest md5 buckets per source, doc_id tie-break — the exact
      // window form is the oracle for the salted two-phase plan
      Some("""WITH h AS (
          SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        b AS (
          SELECT doc_id, source,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h),
        r AS (
          SELECT source, doc_id,
            row_number() OVER (PARTITION BY source ORDER BY bucket ASC, doc_id ASC) AS rnk
          FROM b)
        SELECT source, doc_id, rnk FROM r WHERE rnk <= 5""")),
    // deterministic global shuffle → fixed-size training shards: the
    // tokenBudget two-pass prefix-sum discipline with weight 1 (one
    // range shuffle + a #partitions-sized driver exchange — never the
    // unpartitioned row_number window); the oracle states the semantics
    // as the window form DuckDB can afford single-node
    Query("q_shard_plan", (s, dir) =>
      Packing.shardPlan(docs(s, dir), shardSize = 1000L),
      // shard plan: the oracle is the single-node window form of the
      // engine's distributed two-pass ordinal — identical strict total
      // order (md5 shuffle key, id tiebreak), identical shard arithmetic
      Some("""WITH o AS (
          SELECT doc_id,
            md5('sh' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
            CAST(row_number() OVER (
              ORDER BY md5('sh' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) - 1
              AS BIGINT) AS ordinal
          FROM documents)
        SELECT doc_id, shuffle_key, ordinal,
          CAST(ordinal // 1000 AS BIGINT) AS shard,
          CAST(ordinal % 1000 AS BIGINT) AS pos_in_shard
        FROM o""")))
}
