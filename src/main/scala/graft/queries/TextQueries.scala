package graft.queries

import graft.operators.{TextAnalysis, Warc}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions.{col, concat, expr, lit, when}

/** Per-document text gates and extraction: language id, quality and rule
  * gates (Gopher, C4, FineWeb), PII and URL canonicalization, Unicode
  * cleaning, HTML and WARC extraction.
  */
object TextQueries {
  import graft.operators.TextAnalysis.{defaultKeepLangs, profiles, sqlStr}

  /** Deterministic multi-line page for q_c4_rules, built identically in
    * BOTH engines (the q_pii_scrub planted-input discipline: the fixture
    * corpus is single-line with no punctuation, so the raw table would
    * exercise none of the C4 rules). One portable SQL expression —
    * parsed verbatim by Spark and DuckDB — that plants, per doc_id
    * residue class: a kept long sentence, a short line, an
    * unpunctuated line, a javascript line, a policy line, quote/'?'/'!'
    * terminators, a lorem-ipsum page, and a curly-brace page.
    */
  private[queries] val c4Page: String =
    """concat(
      |  substr(text, 1, 80), ' part one.', chr(10),
      |  'Too short.', chr(10),
      |  substr(text, 81, 60), chr(10),
      |  CASE doc_id % 3
      |    WHEN 0 THEN 'Please enable javascript to continue reading now.'
      |    WHEN 1 THEN 'This site uses cookies to improve your experience.'
      |    ELSE 'She said it was a really "good read."' END, chr(10),
      |  CASE doc_id % 4
      |    WHEN 0 THEN 'Is this the best part of the corpus?'
      |    WHEN 1 THEN 'What a fine day for data cleaning!'
      |    WHEN 2 THEN concat(substr(text, 141, 40), ' end part two.')
      |    ELSE 'no terminal punctuation on this line at all' END, chr(10),
      |  CASE WHEN doc_id % 11 = 0 THEN 'Lorem ipsum dolor sit amet consectetur.'
      |       ELSE 'A plain closing sentence for the page.' END,
      |  CASE WHEN doc_id % 13 = 0 THEN concat(chr(10), 'function f() { return 42; }')
      |       ELSE '' END)""".stripMargin

  /** Planted dirty-text suffixes for q_unicode_clean (the q_pii_scrub /
    * q_url_canon planted-input discipline — the fixture is pure ASCII, so the
    * normalization paths need constructed input). One Scala constant feeds
    * BOTH engines: the Spark side as `lit` columns, the oracle as SQL
    * literals via [[graft.operators.TextAnalysis.sqlStr]] — they cannot
    * drift. Shapes by doc_id % 5: decomposed accents (NFC composes), the
    * zero-width family, C0 controls + CRLF/CR, precomposed accents (NFC no-op
    * on non-ASCII — the false-positive path), untouched ASCII. Only
    * Unicode-stable codepoints (normalization stability policy), so Java's
    * and utf8proc's NFC agree byte-for-byte.
    */
  private val uncleanSuffixes: Seq[String] = Seq(
    " café naïve rôle",
    " zero​width‌join‍er ﻿bom",
    " bellalertvt line\r\nnext\rend",
    " café déjà vu",
    "")

  /** DuckDB mirror of [[graft.operators.TextAnalysis.withLangPred]]'s
    * per-profile token-hit scores: `len(list_filter(tk, …)) AS s_<lang>`
    * lines, one per profile — machine-generated from the SAME table as the
    * engine expression so the oracle IN-lists cannot drift (`tk` must be the
    * lowercased non-empty whitespace-token list in scope).
    */
  private[queries] def langScoresDuck: String =
    profiles.map { case (l, words) =>
      s"len(list_filter(tk, t -> t IN (${words.map(sqlStr).mkString(",")}))) AS s_$l"
    }.mkString(",\n              ")

  /** DuckDB mirror of [[graft.operators.TextAnalysis.withLangPred]]'s argmax
    * CASE (zh codepoint short-cut, zero-score → 'unknown', table-order
    * tie-break) over the [[langScoresDuck]] columns.
    */
  private[queries] def langPredCaseDuck: String = {
    val g = s"greatest(${profiles.map("s_" + _._1).mkString(", ")})"
    val whens = profiles.map { case (l, _) =>
      s"WHEN s_$l = $g THEN '$l'"
    }.mkString("\n               ")
    s"""CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
               WHEN $g = 0 THEN 'unknown'
               $whens END"""
  }

  /** DuckDB mirror of [[graft.operators.TextAnalysis.qualityExpr]]'s
    * all-profile stopword union — the distinct union in table order,
    * comma-joined quoted literals.
    */
  private[queries] def allStopDuck: String =
    profiles.flatMap(_._2).distinct.map(sqlStr).mkString(",")

  /** [[graft.operators.TextAnalysis.defaultKeepLangs]] as a DuckDB IN-list.
    */
  private[queries] def keepLangsDuck: String = defaultKeepLangs.map(sqlStr).mkString(",")

  /** The Gopher measurements (nw, mwl, hr, er, br, elr, ar, sh) of a
    * doc's words `ts` and non-blank lines `ls` and its text column `c`.
    */
  private[queries] def gopherMeasures(c: String): String =
    s"""CAST(len(ts) AS BIGINT) AS nw,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts) END AS mwl,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(length($c) - length(replace($c, '#', '')) AS DOUBLE) / len(ts) END AS hr,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST((length($c) - length(replace($c, '...', ''))) // 3
                + (length($c) - length(replace($c, '…', ''))) AS DOUBLE) / len(ts) END AS er,
            CASE WHEN len(ls) = 0 THEN NULL ELSE
              CAST(len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('•','‣','▪','-','*'))) AS DOUBLE)
                / len(ls) END AS br,
            CASE WHEN len(ls) = 0 THEN NULL ELSE
              CAST(len(list_filter(ls, l -> right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…')) AS DOUBLE)
                / len(ls) END AS elr,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(ts) END AS ar,
            CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
              s -> list_contains(ts, s))) AS BIGINT) AS sh"""

  /** `lk2`, each line of `lk` (doc_id, i, t, nc, words, stops) with the
    * length and stopword-density keep rule, and `agg`, per doc: the line
    * count `nb`, kept count `nk`, their chars and the kept text.
    */
  private val keptLines =
    """lk2 AS (
        SELECT doc_id, i, t, nc,
          (nc >= 25 AND (stops * 1000 >= 100 * words OR nc >= 200)) AS keep
        FROM lk),
      agg AS (
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS nb,
          CAST(sum(nc) AS BIGINT) AS line_chars,
          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nk,
          CAST(coalesce(sum(CASE WHEN keep THEN nc END), 0) AS BIGINT)
            AS kept_chars,
          coalesce(string_agg(CASE WHEN keep THEN t END, chr(10) ORDER BY i),
            '') AS kept_text
        FROM lk2 GROUP BY 1)"""

  /** DuckDB oracle for q_html_extract_multi — generated from the SAME
    * [[graft.functions.StopwordProfiles]] table as the engine kernel
    * (plant literals + per-line arithmetic with the stop count
    * dispatched by the same doc_id%10 CASE; no HTML parser, same
    * no-drift guarantee as [[TokenQueries]]' bpeOracleSql).
    */
  private def htmlMultiOracleSql: String = {
    import graft.functions.StopwordProfiles.{table, langs, sentence}
    val langList = langs.map(sqlStr).mkString(",")
    val sentList = langs.map(l => sqlStr(sentence(l))).mkString(",")
    val stopsCase = table.zipWithIndex.map { case ((_, words), i) =>
      s"WHEN $i THEN CAST(len(list_filter(ws, x -> lower(x) IN " +
        s"(${words.map(sqlStr).mkString(",")}))) AS BIGINT)"
    }.mkString("\n          ")
    s"""WITH raw AS (
        SELECT doc_id,
          CAST(doc_id % 10 AS INT) AS pm,
          list_value($langList)[CAST(doc_id % 10 AS INT) + 1] AS lang,
          list_value($sentList)[CAST(doc_id % 10 AS INT) + 1] AS s_keep,
          list_value($sentList)[CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END] AS s_x,
          coalesce(text, '') AS text
        FROM documents),
      lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM raw),
      l AS (
        SELECT doc_id, u.i - 1 AS i,
          trim(ls[u.i], ' ' || chr(9) || chr(11) || chr(12) || chr(13)) AS t
        FROM lx, unnest(generate_series(1, len(ls))) AS u(i)),
      lc AS (
        SELECT l.doc_id, l.i, l.t, r.pm,
          CAST(length(l.t) AS BIGINT) AS nc,
          list_filter(regexp_split_to_array(l.t, '[ \\t\\n\\x0B\\f\\r]+'),
            x -> x != '') AS ws
        FROM l JOIN raw r USING (doc_id) WHERE l.t != ''),
      lk AS (
        SELECT doc_id, i, t, nc,
          CAST(len(ws) AS BIGINT) AS words,
          CASE pm
          $stopsCase
          END AS stops
        FROM lc),
      $keptLines
      SELECT r.doc_id, r.lang,
        CASE WHEN coalesce(a.kept_text, '') = '' THEN r.s_keep
             ELSE r.s_keep || chr(10) || a.kept_text END AS text_extracted,
        CAST(5 + coalesce(a.nb, 0) AS INTEGER) AS n_blocks,
        CAST(1 + coalesce(a.nk, 0) AS INTEGER) AS n_kept,
        CAST(length('d' || CAST(r.doc_id AS VARCHAR))
          + length('home page link about the team pages contact and support desk')
          + length(r.s_keep) + length(r.s_x)
          + length('&copy; 2031 example site')
          + coalesce(a.line_chars, 0) AS BIGINT) AS chars_raw,
        CAST(length(r.s_keep) + coalesce(a.kept_chars, 0) AS BIGINT) AS chars_kept,
        CAST(50 AS BIGINT) AS link_chars
      FROM raw r LEFT JOIN agg a USING (doc_id)"""
  }

  /** DuckDB oracle for q_warc_extract, GENERATED from the same page
    * literals and [[graft.functions.StopwordProfiles]] en row as the
    * fixture (plant-contract discipline — the oracle recomputes every
    * field from doc_id arithmetic and the raw text, no WARC/HTML
    * parsing). Line extraction arithmetic mirrors the proven
    * q_html_extract_multi oracle.
    */
  private def warcOracleSql: String = {
    import graft.operators.Warc.{enSentence, footerHtml, footerText,
      linkTexts, navHtml, navText, p1a, p1b}
    val enS = enSentence
    val enList = graft.functions.StopwordProfiles.table.head._2
      .map(w => "'" + w + "'").mkString(",")
    // payload char length: fixed page chrome + title digits + per-line
    // <p></p> wrapper and entity-escape growth
    val fixedPayload = p1a.length + p1b.length + navHtml.length +
      7 + enS.length + footerHtml.length
    val charsRawFixed = 1 + navText.length + enS.length + footerText.length
    // link_chars counts NON-WHITESPACE chars inside anchors
    val linkChars = linkTexts.map(_.count(c => !c.isWhitespace)).sum
    val g = "d.doc_id % 11 = 4"
    s"""WITH lx AS (
        SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
        FROM documents),
      l AS (
        SELECT doc_id, u.i AS i, ls[u.i] AS raw
        FROM lx, unnest(generate_series(1, len(ls))) AS u(i)),
      lt AS (
        SELECT doc_id, i, raw,
          trim(raw, ' ' || chr(9) || chr(11) || chr(12) || chr(13)) AS t
        FROM l),
      pay AS (
        SELECT doc_id,
          CAST($fixedPayload + length(CAST(doc_id AS VARCHAR))
            + sum(7 + length(raw)
              + 4 * (length(raw) - length(replace(raw, '&', '')))
              + 3 * (length(raw) - length(replace(raw, '<', '')))
              + 3 * (length(raw) - length(replace(raw, '>', ''))))
            AS BIGINT) AS payload_chars
        FROM lt GROUP BY doc_id),
      lc AS (
        SELECT doc_id, i, t, CAST(length(t) AS BIGINT) AS nc,
          list_filter(regexp_split_to_array(t, '[ \\t\\n\\x0B\\f\\r]+'),
            x -> x != '') AS ws
        FROM lt WHERE t != ''),
      lk AS (
        SELECT doc_id, i, t, nc, CAST(len(ws) AS BIGINT) AS words,
          CAST(len(list_filter(ws, x -> lower(x) IN ($enList)))
            AS BIGINT) AS stops
        FROM lc),
      $keptLines
      SELECT d.doc_id,
        CAST(CASE WHEN $g THEN 0 ELSE 4 END AS INTEGER) AS n_records,
        CAST(CASE WHEN $g THEN 0 ELSE 1 END AS INTEGER) AS n_responses,
        CAST(CASE WHEN $g THEN 0 ELSE 1 END AS INTEGER) AS n_requests,
        CAST(CASE WHEN $g THEN 0 WHEN d.doc_id % 5 = 0 THEN 1 ELSE 0 END
          AS INTEGER) AS n_truncated,
        CAST(CASE WHEN $g THEN 0 WHEN d.doc_id % 3 = 0 THEN 1 ELSE 0 END
          AS INTEGER) AS n_gzip,
        CAST(CASE WHEN $g THEN NULL WHEN d.doc_id % 7 = 1 THEN 404
          ELSE 200 END AS INTEGER) AS http_status,
        CASE WHEN $g THEN NULL ELSE 'text/html; charset=utf-8' END
          AS content_type,
        CASE WHEN $g THEN NULL
          ELSE 'http://example.com/doc/' || CAST(d.doc_id AS VARCHAR) END
          AS target_uri,
        CASE WHEN $g THEN NULL ELSE p.payload_chars END AS payload_chars,
        CASE WHEN $g THEN NULL
          WHEN coalesce(a.kept_text, '') = '' THEN '$enS'
          ELSE '$enS' || chr(10) || a.kept_text END AS text_extracted,
        CAST(CASE WHEN $g THEN NULL ELSE 4 + coalesce(a.nb, 0) END
          AS INTEGER) AS n_blocks,
        CAST(CASE WHEN $g THEN NULL ELSE 1 + coalesce(a.nk, 0) END
          AS INTEGER) AS n_kept,
        CAST(CASE WHEN $g THEN NULL
          ELSE $charsRawFixed + length(CAST(d.doc_id AS VARCHAR))
            + coalesce(a.line_chars, 0) END AS BIGINT) AS chars_raw,
        CAST(CASE WHEN $g THEN NULL
          ELSE ${enS.length} + coalesce(a.kept_chars, 0) END AS BIGINT)
          AS chars_kept,
        CAST(CASE WHEN $g THEN NULL ELSE $linkChars END AS BIGINT)
          AS link_chars
      FROM documents d LEFT JOIN pay p USING (doc_id)
        LEFT JOIN agg a USING (doc_id)"""
  }

  val all: Seq[Query] = Seq(

    // ------- training-data pipeline operators (documents/embeddings) -------
    Query("q_text_stats", (s, dir) => TextAnalysis.textStats(docs(s, dir)),
      Some("""SELECT doc_id,
          CAST(length(text) AS INTEGER) AS n_chars,
          CAST(len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) AS INTEGER) AS n_tokens,
          CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE) AS alpha_ratio,
          CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE) AS punct_ratio,
          CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / CAST(len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) AS DOUBLE) AS avg_token_len
        FROM documents""")),
    Query("q_lang_id", (s, dir) => TextAnalysis.langId(docsPar(s, dir)),
      Some(s"""SELECT doc_id,
          ${langPredCaseDuck} AS lang_pred
        FROM (
          SELECT doc_id, text,
            ${langScoresDuck}
          FROM (SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
                FROM documents))""")),
    Query("q_token_counts", (s, dir) => TextAnalysis.tokenCounts(docs(s, dir)),
      Some("""SELECT doc_id,
          CAST(len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) AS INTEGER) AS ws_tokens,
          CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS bpe_tokens
        FROM documents""")),
    Query("q_quality", (s, dir) => TextAnalysis.qualityScore(docs(s, dir)),
      Some(s"""SELECT doc_id,
          round(
            least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
            (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE)) * 0.4 +
            least(CAST(len(list_filter(tk, t -> t IN
                (${allStopDuck}))) AS DOUBLE)
               / CAST(len(tk) AS DOUBLE) * 5.0, 1.0) * 0.2
          , 6) AS quality
        FROM (SELECT doc_id, text,
                list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
              FROM documents)""")),
    // Gopher rule gate (Rae et al. 2021 App. A1): measurements + per-rule
    // booleans + keep conjunction, all row-local, mirrored
    // primitive-for-primitive in DuckDB
    Query("q_gopher_rules", (s, dir) => TextAnalysis.gopherRules(docsPar(s, dir)),
      // Gopher rules: identical integer counts and IEEE ratio divisions;
      // symbol counts via length-difference (never regex), lines split on
      // chr(10) ('\n' is an escape in Spark SQL literals, a literal
      // backslash-n in DuckDB), NULL measurements fail rules via coalesce.
      Some(s"""WITH base AS (
          SELECT doc_id,
            coalesce(list_filter(string_split_regex(lower(text), ' +'), t -> t != ''),
                     CAST([] AS VARCHAR[])) AS ts,
            coalesce(list_filter(string_split(text, chr(10)), l -> trim(l) != ''),
                     CAST([] AS VARCHAR[])) AS ls,
            text
          FROM documents),
        m AS (
          SELECT doc_id,
            ${gopherMeasures("text")}
          FROM base)
        SELECT doc_id,
          nw AS n_words,
          round(mwl, 6) AS mean_word_len,
          round(hr, 6) AS hash_word_ratio,
          round(er, 6) AS ellipsis_word_ratio,
          round(br, 6) AS bullet_line_ratio,
          round(elr, 6) AS ellipsis_line_ratio,
          round(ar, 6) AS alpha_word_ratio,
          sh AS n_stop_hits,
          (nw >= 50 AND nw <= 100000) AS r_word_count,
          coalesce(mwl >= 3.0 AND mwl <= 10.0, false) AS r_word_len,
          coalesce(hr <= 0.1 AND er <= 0.1, false) AS r_symbol,
          coalesce(br <= 0.9, false) AS r_bullet,
          coalesce(elr <= 0.3, false) AS r_ellipsis,
          coalesce(ar >= 0.8, false) AS r_alpha,
          (sh >= 2) AS r_stop,
          ((nw >= 50 AND nw <= 100000)
            AND coalesce(mwl >= 3.0 AND mwl <= 10.0, false)
            AND coalesce(hr <= 0.1 AND er <= 0.1, false)
            AND coalesce(br <= 0.9, false)
            AND coalesce(elr <= 0.3, false)
            AND coalesce(ar >= 0.8, false)
            AND sh >= 2) AS gopher_keep
        FROM m""")),
    // C4 rule gate (Raffel et al. 2020 §2.2): line-level rewrite (kept
    // lines → text_clean) + page-level gates, one zero-shuffle codegen
    // projection over the planted multi-line page (c4Page — both sides
    // build the identical page), mirrored primitive-for-primitive in
    // DuckDB
    Query("q_c4_rules", (s, dir) =>
      TextAnalysis.c4Rules(docs(s, dir).withColumn("text", expr(c4Page))),
      // C4 rules: same discipline as the Gopher mirror — lines split on
      // chr(10) and space-trimmed, word floors on the shared ' +' split,
      // sentence counts via length-difference, page gates coalesce to
      // false on NULL text. text_clean is hashed too, pinning the exact
      // line-rewrite semantics cross-engine.
      Some(s"""WITH pages AS (
          SELECT doc_id, $c4Page AS text FROM documents),
        base AS (
          SELECT doc_id, text,
            coalesce(list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> l != ''), CAST([] AS VARCHAR[])) AS ls
          FROM pages),
        k AS (
          SELECT doc_id, text, ls,
            list_filter(ls, l ->
              right(l, 1) IN ('.', '!', '?', '"', '”')
              AND len(list_filter(string_split_regex(lower(l), ' +'), t -> t != '')) >= 5
              AND NOT contains(lower(l), 'javascript')
              AND NOT (contains(lower(l), 'terms of use') OR contains(lower(l), 'privacy policy')
                OR contains(lower(l), 'cookie policy') OR contains(lower(l), 'uses cookies')
                OR contains(lower(l), 'use of cookies') OR contains(lower(l), 'use cookies'))) AS ks
          FROM base),
        m AS (
          SELECT doc_id, text,
            CAST(len(ls) AS BIGINT) AS nl,
            CAST(len(ks) AS BIGINT) AS nk,
            coalesce(array_to_string(ks, chr(10)), '') AS tc
          FROM k),
        s AS (
          SELECT doc_id, text, nl, nk, tc,
            CAST((length(tc) - length(replace(tc, '.', '')))
              + (length(tc) - length(replace(tc, '!', '')))
              + (length(tc) - length(replace(tc, '?', ''))) AS BIGINT) AS ns
          FROM m)
        SELECT doc_id,
          nl AS n_lines,
          nk AS n_kept_lines,
          ns AS n_sentences,
          tc AS text_clean,
          (ns >= 3) AS r_sentences,
          coalesce(NOT contains(lower(text), 'lorem ipsum'), false) AS r_lorem,
          coalesce(NOT contains(text, '{'), false) AS r_brace,
          ((ns >= 3)
            AND coalesce(NOT contains(lower(text), 'lorem ipsum'), false)
            AND coalesce(NOT contains(text, '{'), false)) AS c4_keep
        FROM s""")),
    Query("q_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir)).select("doc_id", "fp_md5"),
      Some("""SELECT doc_id,
          md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS fp_md5
        FROM documents""")),
    // PII scrub: the pattern set is Java-regex/RE2-common, so DuckDB
    // mirrors the exact replacement chain (order is part of the contract).
    // The fixture text contains no PII (verified — every doc would scrub
    // to itself, a gate a dead regex also passes), so both sides append
    // the SAME doc_id-derived email/IP/phone tail and the oracle checks
    // the actual redactions.
    Query("q_pii_scrub", (s, dir) =>
      TextAnalysis.piiScrub(docsPar(s, dir).withColumn("text", expr(
        "concat(text, ' mail u', CAST(doc_id AS STRING), '@ex.org ip 10.0.'," +
          " CAST(doc_id % 256 AS STRING), '.7 tel 555', " +
          "CAST(1000000 + doc_id AS STRING))")))
        .select("doc_id", "text_scrubbed", "has_pii"),
      Some("""SELECT doc_id, text_scrubbed, (text_scrubbed != text) AS has_pii
        FROM (SELECT doc_id, text,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
            '\+?\d[\d() -]{7,}\d', '<PHONE>', 'g') AS text_scrubbed
        FROM (SELECT doc_id,
                text || ' mail u' || CAST(doc_id AS VARCHAR) || '@ex.org ip 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555'
                  || CAST(1000000 + doc_id AS VARCHAR) AS text
              FROM documents))""")),
    // domain provenance stats: same planted-input discipline as
    // q_pii_scrub (the fixture has no URLs) — both sides append a
    // doc_id-derived URL and run the same extraction chain
    Query("q_domain_stats", (s, dir) =>
      TextAnalysis.domainStats(docs(s, dir).withColumn("text", expr(
        "concat(text, ' see https://Ex', CAST(doc_id % 20 AS STRING)," +
          " '.org/p/', CAST(doc_id AS STRING))"))),
      Some("""WITH aug AS (
          SELECT doc_id,
            text || ' see https://Ex' || CAST(doc_id % 20 AS VARCHAR)
              || '.org/p/' || CAST(doc_id AS VARCHAR) AS text
          FROM documents),
        u AS (
          SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r/]+[^ \t\n\x0B\f\r]*')) AS url
          FROM aug)
        SELECT lower(regexp_extract(url, 'https?://([^/:?#]+)', 1)) AS domain,
          count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        FROM u GROUP BY 1""")),
    // URL canonicalization (crawl pre-dedup key): planted-input
    // discipline (the fixture has no URL column) — four doc_id-derived
    // shapes exercise case/port/fragment/tracking/param-sort/empty-path
    // and the non-http NULL route
    Query("q_url_canon", (s, dir) =>
      TextAnalysis.urlCanonicalize(docs(s, dir).select(col("doc_id"),
        expr("""CASE CAST(doc_id % 4 AS INT)
          |  WHEN 0 THEN concat('HTTP://Ex', CAST(doc_id % 20 AS STRING),
          |    '.ORG:80/P/', CAST(doc_id AS STRING), '?utm_source=feed&b=2&a=1#top')
          |  WHEN 1 THEN concat('https://ex', CAST(doc_id % 20 AS STRING),
          |    '.org/p/', CAST(doc_id AS STRING), '/?gclid=', CAST(doc_id AS STRING),
          |    '&z=9&a=1&a=0')
          |  WHEN 2 THEN concat('HTTPS://EX', CAST(doc_id % 20 AS STRING),
          |    '.org:8443?fbclid=abc&utm_campaign=x')
          |  ELSE concat('ftp://ex', CAST(doc_id AS STRING), '.org/skip')
          |END""".stripMargin).as("url")))
        .select("doc_id", "url", "url_canon", "url_key"),
      // URL canonicalization: every primitive mirrored function-for-
      // function (regexp_extract with coalesce'd no-match, split/filter/
      // sort/join on params, md5 of the canonical form; NULL propagates
      // through the non-http route in both engines)
      Some("""WITH u AS (
          SELECT doc_id,
            CASE CAST(doc_id % 4 AS INT)
              WHEN 0 THEN 'HTTP://Ex' || CAST(doc_id % 20 AS VARCHAR)
                || '.ORG:80/P/' || CAST(doc_id AS VARCHAR) || '?utm_source=feed&b=2&a=1#top'
              WHEN 1 THEN 'https://ex' || CAST(doc_id % 20 AS VARCHAR)
                || '.org/p/' || CAST(doc_id AS VARCHAR) || '/?gclid='
                || CAST(doc_id AS VARCHAR) || '&z=9&a=1&a=0'
              WHEN 2 THEN 'HTTPS://EX' || CAST(doc_id % 20 AS VARCHAR)
                || '.org:8443?fbclid=abc&utm_campaign=x'
              ELSE 'ftp://ex' || CAST(doc_id AS VARCHAR) || '.org/skip'
            END AS url
          FROM documents),
        p1 AS (
          SELECT doc_id, url,
            lower(coalesce(regexp_extract(url, '^([a-zA-Z]+)://', 1), '')) AS scheme,
            coalesce(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1), '') AS hostport,
            coalesce(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^#]*)', 1), '') AS rest
          FROM u),
        p2 AS (
          SELECT doc_id, url, scheme, hostport,
            lower(coalesce(regexp_extract(hostport, '^([^:]*)', 1), '')) AS host,
            coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS port,
            coalesce(regexp_extract(rest, '^([^?]*)', 1), '') AS path,
            coalesce(regexp_extract(rest, '[?](.*)$', 1), '') AS q
          FROM p1),
        p3 AS (
          SELECT *, list_sort(list_filter(string_split(q, '&'),
              p -> p != '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=.*)?$')))
            AS params
          FROM p2),
        canon AS (
          SELECT doc_id, url,
            CASE WHEN scheme IN ('http', 'https') AND hostport != '' THEN
              scheme || '://' || host
              || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443') THEN ''
                      ELSE ':' || port END
              || CASE WHEN path = '' THEN '/' ELSE path END
              || CASE WHEN len(params) > 0
                      THEN '?' || array_to_string(params, '&') ELSE '' END
            ELSE NULL END AS url_canon
          FROM p3)
        SELECT doc_id, url, url_canon, md5(url_canon) AS url_key FROM canon""")),
    // Unicode normalization gate: planted-input discipline (the fixture
    // is pure ASCII) — five doc_id-derived suffixes exercise decomposed
    // accents, the zero-width family, C0 controls + CRLF, precomposed
    // non-ASCII (the NFC no-op path), and untouched text; DuckDB's
    // nfc_normalize (utf8proc) gates text_nfc (java.text.Normalizer)
    // byte-for-byte on Unicode-stable codepoints
    Query("q_unicode_clean", (s, dir) => {
      val idx = (col("doc_id") % 5).cast("int")
      val sfx = uncleanSuffixes.zipWithIndex.tail
        .foldLeft(when(idx === 0, lit(uncleanSuffixes.head))) {
          case (acc, (u, i)) => acc.when(idx === lit(i), lit(u))
        }
      TextAnalysis.unicodeClean(docs(s, dir).select(col("doc_id"),
          concat(col("text"), sfx).as("text")))
        .select("doc_id", "text_norm", "n_crlf_fixed", "n_zero_width",
          "n_control", "was_denormalized", "changed")
    },
      // Unicode normalization: the planted suffixes come from the SAME
      // Scala constant as the Spark side (sqlStr-embedded); each step is
      // mirrored function-for-function (regexp_replace needs DuckDB's 'g'
      // flag — Spark replaces all matches by default), the regex classes
      // are the shared Java/RE2-common-subset constants, and nfc_normalize
      // (utf8proc) mirrors text_nfc (java.text.Normalizer) — both UAX #15,
      // identical on Unicode-stable codepoints. length() counts codepoints
      // in both engines, so the per-step deltas are exact.
      Some(s"""WITH aug AS (
          SELECT doc_id, text || CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN ${sqlStr(uncleanSuffixes(0))}
            WHEN 1 THEN ${sqlStr(uncleanSuffixes(1))}
            WHEN 2 THEN ${sqlStr(uncleanSuffixes(2))}
            WHEN 3 THEN ${sqlStr(uncleanSuffixes(3))}
            ELSE '' END AS text
          FROM documents),
        t1 AS (SELECT doc_id, text,
          regexp_replace(regexp_replace(text, ${sqlStr("\r\n")}, ${sqlStr("\n")}, 'g'),
            ${sqlStr("\r")}, ${sqlStr("\n")}, 'g') AS a
          FROM aug),
        t2 AS (SELECT *, regexp_replace(a, '${graft.operators.TextAnalysis.zeroWidthClass}', '', 'g') AS b FROM t1),
        t3 AS (SELECT *, regexp_replace(b, '${graft.operators.TextAnalysis.controlClass}', '', 'g') AS c FROM t2)
        SELECT doc_id, nfc_normalize(c) AS text_norm,
          length(text) - length(a) AS n_crlf_fixed,
          length(a) - length(b) AS n_zero_width,
          length(b) - length(c) AS n_control,
          nfc_normalize(c) != c AS was_denormalized,
          nfc_normalize(c) != text AS changed
        FROM t3""")),
    // FineWeb line-shape quality gate (Penedo et al. 2024): the three
    // post-Gopher/C4 heuristics plus the newline/word ratio, all exact
    // integer cross-multiplications in one zero-shuffle projection
    Query("q_fineweb_rules", (s, dir) =>
      TextAnalysis.fineWebRules(docs(s, dir)),
      // fineweb: trimmed non-empty lines, duplicate-occurrence chars per
      // exact line value, whitespace words, per-mille integer thresholds —
      // primitive-for-primitive the engine's projection
      Some("""WITH raw AS (SELECT doc_id AS d, text FROM documents),
        lines AS (
          SELECT d, trim(u.l) AS l
          FROM raw, unnest(string_split(text, chr(10))) AS u(l)
          WHERE trim(u.l) != ''),
        lm AS (
          SELECT d,
            CAST(count(*) AS BIGINT) AS n_lines,
            CAST(sum(CASE WHEN right(l, 1) IN ('.', '''', '"', '!', '?')
              THEN 1 ELSE 0 END) AS BIGINT) AS punct_lines,
            CAST(sum(CASE WHEN length(l) < 30 THEN 1 ELSE 0 END) AS BIGINT)
              AS short_lines,
            CAST(sum(length(l)) AS BIGINT) AS line_chars
          FROM lines GROUP BY 1),
        dups AS (
          SELECT d,
            CAST(coalesce(sum(CASE WHEN cnt > 1 THEN len * (cnt - 1) ELSE 0 END), 0)
              AS BIGINT) AS dup_line_chars
          FROM (SELECT d, l, length(l) AS len, count(*) AS cnt
                FROM lines GROUP BY 1, 2, 3)
          GROUP BY 1),
        m AS (
          SELECT r.d,
            coalesce(lm.n_lines, 0) AS n_lines,
            coalesce(lm.punct_lines, 0) AS punct_lines,
            coalesce(lm.short_lines, 0) AS short_lines,
            coalesce(lm.line_chars, 0) AS line_chars,
            coalesce(dups.dup_line_chars, 0) AS dup_line_chars,
            CAST(len(list_filter(regexp_split_to_array(r.text, '[ \t\n\x0B\f\r]+'),
              t -> t != '')) AS BIGINT) AS n_words,
            CAST(length(r.text) - length(replace(r.text, chr(10), '')) AS BIGINT)
              AS n_newlines
          FROM raw r
          LEFT JOIN lm ON lm.d = r.d
          LEFT JOIN dups ON dups.d = r.d)
        SELECT d AS doc_id, n_lines, punct_lines, short_lines, line_chars,
          dup_line_chars, n_words, n_newlines,
          coalesce(punct_lines * 1000 >= 120 * n_lines, false) AS r_punct,
          coalesce(short_lines * 1000 < 670 * n_lines, false) AS r_short,
          coalesce(dup_line_chars * 1000 < 10 * line_chars OR line_chars = 0,
            false) AS r_dup_lines,
          coalesce(NOT (n_newlines * 1000 > 300 * n_words), false) AS r_newline,
          coalesce(punct_lines * 1000 >= 120 * n_lines, false)
            AND coalesce(short_lines * 1000 < 670 * n_lines, false)
            AND coalesce(dup_line_chars * 1000 < 10 * line_chars
              OR line_chars = 0, false)
            AND coalesce(NOT (n_newlines * 1000 > 300 * n_words), false)
            AS fineweb_keep
        FROM m""")),
    // HTML → text boilerplate extraction (jusText/trafilatura family):
    // the engine parses REAL synthetic markup (script/style skip,
    // comments, entities, nav/footer/latin plants each failing exactly
    // one keep rule, an inline anchor for doc_id % 4 = 0) in one
    // zero-shuffle codegen projection; the oracle re-derives every
    // column from the generator contract without an HTML parser
    Query("q_html_extract", (s, dir) =>
      TextAnalysis.htmlExtract(
        TextAnalysis.syntheticHtmlFromDocs(docsPar(s, dir))),
      // HTML extraction: the oracle re-derives every column from the
      // syntheticHtmlFromDocs generator contract — plant literals for the
      // title/nav/latin/footer blocks (each dropped by exactly one rule),
      // per-line keep arithmetic on the raw document text, inline-anchor
      // link chars for doc_id % 4 = 0 — no HTML parser on the oracle side
      Some(("""WITH raw AS (
          SELECT doc_id, coalesce(text, '') AS text FROM documents),
        lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM raw),
        l AS (
          SELECT doc_id, u.i - 1 AS i, ls[u.i] AS lraw,
            trim(ls[u.i], ' ' || chr(9) || chr(11) || chr(12) || chr(13)) AS t
          FROM lx, unnest(generate_series(1, len(ls))) AS u(i)),
        lc AS (
          SELECT doc_id, i, t,
            CAST(length(t) AS BIGINT) AS nc,
            CASE WHEN doc_id % 4 = 0 AND i = 0 AND length(lraw) > 0
                  AND substr(lraw, 1, 1) != ' '
              THEN CAST(length(regexp_replace(string_split(lraw, ' ')[1],
                '[\t\x0B\f\r]', '', 'g')) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS lk,
            CAST(len(list_filter(regexp_split_to_array(t, '[ \t\n\x0B\f\r]+'),
              x -> x != '')) AS BIGINT) AS words,
            CAST(len(list_filter(regexp_split_to_array(t, '[ \t\n\x0B\f\r]+'),
              x -> lower(x) IN (""" +
      graft.functions.StopwordProfiles.table.head._2.map(
        w => "'" + w + "'").mkString(", ") +
      """))) AS BIGINT) AS stops
          FROM l WHERE t != ''),
        lk2 AS (
          SELECT doc_id, i, t, nc, lk,
            (nc >= 25 AND lk * 1000 <= 300 * nc
              AND (stops * 1000 >= 100 * words OR nc >= 200)) AS keep
          FROM lc),
        agg AS (
          SELECT doc_id,
            CAST(count(*) AS BIGINT) AS nb,
            CAST(sum(nc) AS BIGINT) AS line_chars,
            CAST(sum(lk) AS BIGINT) AS line_link,
            CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nk,
            CAST(coalesce(sum(CASE WHEN keep THEN nc END), 0) AS BIGINT)
              AS kept_chars,
            coalesce(string_agg(CASE WHEN keep THEN t END, chr(10) ORDER BY i),
              '') AS text_extracted
          FROM lk2 GROUP BY 1)
        SELECT r.doc_id,
          coalesce(a.text_extracted, '') AS text_extracted,
          CAST(4 + coalesce(a.nb, 0) AS INTEGER) AS n_blocks,
          CAST(coalesce(a.nk, 0) AS INTEGER) AS n_kept,
          CAST(length('d' || CAST(r.doc_id AS VARCHAR))
            + length('home page link about the team pages contact and support desk')
            + length('lorem ipsum dolor sit amet consectetur adipiscing elit vestibulum')
            + length('&copy; 2031 example site')
            + coalesce(a.line_chars, 0) AS BIGINT) AS chars_raw,
          CAST(coalesce(a.kept_chars, 0) AS BIGINT) AS chars_kept,
          CAST(length(replace('home page link', ' ', ''))
            + length(replace('about the team pages', ' ', ''))
            + length(replace('contact and support desk', ' ', ''))
            + coalesce(a.line_link, 0) AS BIGINT) AS link_chars
        FROM raw r LEFT JOIN agg a USING (doc_id)"""))),
    // profile-dispatched HTML extraction: lang cycles the 10 stopword
    // profiles by doc_id arithmetic; the kept block is the assigned
    // language's own stopword sentence and the cross-language plant
    // fails exactly the stopword rule (disjointness spec-pinned), so a
    // broken dispatch flips the hash in both directions; the fixture
    // also plants the r15 scanner rules (quoted '>' in an href, a
    // decoy </scripts> close, a self-closing anchor)
    Query("q_html_extract_multi", (s, dir) =>
      TextAnalysis.htmlExtractLang(
        TextAnalysis.syntheticHtmlMultiFromDocs(docsPar(s, dir))),
      // profile-dispatched HTML extraction: generated from the SAME
      // StopwordProfiles table as the engine kernel (plant literals +
      // per-line stop counts dispatched by the same doc_id%10 CASE)
      Some(htmlMultiOracleSql)),
    // WARC ingest — the crawl front door: doc_id-arithmetic synthetic
    // WARC files (warcinfo/request/response/metadata records, a gzip
    // member every 3rd doc, a truncated tail record every 5th, garbage
    // bytes every 11th≡4) → record walk → HTTP envelope → html_extract
    // over the response body; zero-shuffle projection chain
    Query("q_warc_extract", (s, dir) => Warc.warcExtractQuery(docsPar(s, dir)),
      // WARC ingest: generated from the SAME page literals and profile
      // table as the fixture — every field recomputed from doc_id
      // arithmetic + the raw text, no WARC/HTML parsing in the oracle
      Some(warcOracleSql)))
}
