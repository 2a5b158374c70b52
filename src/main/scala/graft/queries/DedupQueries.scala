package graft.queries

import graft.operators.{CorpusPipeline, Dedup, Graph}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions.{coalesce, col, expr, greatest, least, lit}

/** Exact, line, substring and near-duplicate detection (winnowing, n-gram
  * and prefix Jaccard, MinHash, SimHash), contamination checks, duplicate
  * components and corpus diffs.
  */
object DedupQueries {
  /** Shared DuckDB XXH64 (seed 42, Spark's `xxhash64`) machine-generated
    * HUGEINT arithmetic — the [[SimhashOracleSql]] pipeline factored out
    * so every oracle needing the engine token hash (SimHash pairs, DSIR
    * hashed-n-gram buckets) mirrors the SAME arithmetic from one
    * generator.
    */
  private[queries] object XxhOracleSql {
    val M = "18446744073709551616"
    private val P1 = "11400714785074694791"
    private val P2 = "14029467366897019727"
    private val P3 = "1609587929392839161"
    private val P4 = "9650029242287828579"
    private val P5 = "2870177450012600261"
    def pow2(r: Int): String = java.math.BigInteger.TWO.pow(r).toString
    private def mul64(a: String, b: String): String =
      s"((($a) % 4294967296) * ($b) + " +
        s"((($a) // 4294967296) * ($b)) % 4294967296 * 4294967296) % $M"
    private def rotl(x: String, r: Int): String =
      s"((($x) * ${pow2(r)}) % $M + ($x) // ${pow2(64 - r)})"
    def xor(a: String, b: String): String =
      s"xor(CAST($a AS HUGEINT), CAST($b AS HUGEINT))"

    /** LOUD oracle precondition on a (doc_id, w) relation: the unrolled
      * XXH64 below assumes ASCII tokens (unicode(c) = UTF-8 byte only
      * below 0x80) under 32 bytes (no >=32-byte accumulator path). A
      * fixture change violating either must fail with this message, not
      * an opaque hash divergence downstream.
      */
    def asciiGuard(inner: String, what: String, unit: String = "token"): String =
      s"""SELECT doc_id, CASE
            WHEN strlen(w) >= 32 OR strlen(w) != length(w)
            THEN error('$what oracle precondition violated ($unit must be ASCII and < 32 bytes): ' || w)
            ELSE w END AS w
          FROM $inner"""

    /** Nested-subquery pipeline: (doc_id, w) → (doc_id, w, hash). */
    def tokenHash: String = {
      def le8(i: Int): String =
        (0 until 8).map(j => s"bl[${i * 8 + j + 1}] * ${pow2(8 * j)}").mkString(" + ")
      val le4 =
        (0 until 4).map(j => s"bl[n8*8+${j + 1}] * ${pow2(8 * j)}").mkString(" + ")
      val tl0 = "n8*8 + CASE WHEN n - n8*8 >= 4 THEN 4 ELSE 0 END"
      val layers = scala.collection.mutable.ArrayBuffer[String]()
      layers += ("SELECT doc_id, w, strlen(w) AS n, strlen(w) // 8 AS n8, " +
        "list_transform(string_split(w,''), c -> CAST(unicode(c) AS HUGEINT)) AS bl " +
        "FROM @TOKS@")
      layers += ("SELECT doc_id, w, n, n8, " +
        (0 until 3).map(i =>
          s"CASE WHEN n8 >= ${i + 1} THEN ${le8(i)} ELSE 0 END AS k${i + 1}").mkString(", ") +
        s", CASE WHEN n - n8*8 >= 4 THEN $le4 ELSE 0 END AS k4" +
        s", $tl0 AS tl0, " +
        (0 until 3).map(j =>
          s"CASE WHEN n > $tl0 + $j THEN bl[$tl0 + ${j + 1}] ELSE 0 END AS tb${j + 1}")
          .mkString(", ") +
        s", CAST(42 + $P5 + n AS HUGEINT) AS h0 FROM (@INNER@)")
      var h = "h0"
      for (i <- 0 until 3) {
        val rr = mul64(rotl(mul64(s"k${i + 1}", P2), 31), P1)
        val step = s"(${mul64(rotl(xor(h, rr), 27), P1)} + $P4) % $M"
        layers += s"SELECT *, CASE WHEN n8 >= ${i + 1} THEN $step ELSE $h END AS h${i + 1} FROM (@INNER@)"
        h = s"h${i + 1}"
      }
      val step4 = s"(${mul64(rotl(xor(h, mul64("k4", P1)), 23), P2)} + $P3) % $M"
      layers += s"SELECT *, CASE WHEN n - n8*8 >= 4 THEN $step4 ELSE $h END AS h4s FROM (@INNER@)"
      h = "h4s"
      for (j <- 0 until 3) {
        val stepb = mul64(rotl(xor(h, mul64(s"tb${j + 1}", P5)), 11), P1)
        layers += s"SELECT *, CASE WHEN n > tl0 + $j THEN $stepb ELSE $h END AS hb${j + 1} FROM (@INNER@)"
        h = s"hb${j + 1}"
      }
      layers += s"SELECT *, ${xor(h, s"$h // ${pow2(33)}")} AS a1 FROM (@INNER@)"
      layers += s"SELECT *, ${mul64("a1", P2)} AS a2 FROM (@INNER@)"
      layers += s"SELECT *, ${xor("a2", s"a2 // ${pow2(29)}")} AS a3 FROM (@INNER@)"
      layers += s"SELECT *, ${mul64("a3", P3)} AS a4 FROM (@INNER@)"
      layers += s"SELECT doc_id, w, ${xor("a4", s"a4 // ${pow2(32)}")} AS hash FROM (@INNER@)"
      layers.tail.foldLeft(layers.head)((inner, l) => l.replace("@INNER@", inner))
    }
  }

  /** DuckDB mirror of the SimHash pair query ([[graft.operators.Dedup
    * .simhash]] / [[graft.operators.Dedup.simhashPairs]]) — the q_winnow
    * discipline applied to XXH64: the token hash is Spark's xxhash64
    * (standard XXH64, seed 42), re-implemented arithmetic-for-arithmetic
    * in ONE DuckDB statement so the whole pair relation crosses the hash
    * gate (graduating q_simhash_pairs from its accuracy envelope, VERDICT
    * r9 #1).
    *
    * 64-bit wrap-around arithmetic is emulated in HUGEINT: a mod-2^64
    * multiply splits the left operand into 32-bit limbs so no
    * intermediate exceeds 2^97; rotations are (x·2^r mod 2^64) + x>>64−r
    * (disjoint bit ranges, so + is |); xor/bit_count come native. Each
    * fold step lives in its OWN nested subquery — DuckDB inlines lateral
    * column aliases by textual substitution, so chaining steps through
    * aliases in one SELECT re-expands every predecessor exponentially.
    * The short-input path (< 32 bytes: ≤3 8-byte chunks, one optional
    * 4-byte chunk, ≤3 tail bytes — statically unrolled CASEs) covers all
    * fixture tokens (max 10 ASCII bytes; `unicode(c)` = UTF-8 byte only
    * for ASCII, which the fixtures are). Signatures are carried as two
    * 32-bit halves so banding/Hamming stay in BIGINT; token-less docs
    * keep signature 0 via the left join, matching the engine's all-zero
    * vote fold.
    */
  private object SimhashOracleSql {
    import XxhOracleSql._

    /** The full q_simhash_pairs oracle statement. */
    def sql: String = {
      val votes = (0 until 64).map(b =>
        s"sum(CASE WHEN (hash // ${pow2(b)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b")
        .mkString(", ")
      val lo = (0 until 32).map(b =>
        s"CASE WHEN v$b > 0 THEN ${pow2(b)} ELSE 0 END").mkString(" + ")
      val hi = (0 until 32).map(b =>
        s"CASE WHEN v${b + 32} > 0 THEN ${pow2(b)} ELSE 0 END").mkString(" + ")
      s"""WITH toks0 AS (
          SELECT doc_id, unnest(list_filter(string_split(lower(text),' '), t -> t != '')) AS w
          FROM documents WHERE lower(text) IS NOT NULL),
        toks AS (${asciiGuard("toks0", "simhash")}),
        th AS (${tokenHash.replace("@TOKS@", "toks")}),
        v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
        sg AS (SELECT doc_id, CAST($lo AS BIGINT) AS lo, CAST($hi AS BIGINT) AS hi FROM v),
        sig AS (
          SELECT d.doc_id, coalesce(sg.lo, 0) AS lo, coalesce(sg.hi, 0) AS hi
          FROM (SELECT doc_id FROM documents WHERE lower(text) IS NOT NULL) d
          LEFT JOIN sg USING (doc_id)),
        rep AS (SELECT lo, hi, min(doc_id) AS rep FROM sig GROUP BY 1, 2),
        classes AS (
          SELECT r.rep AS doc_a, s.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
          FROM sig s JOIN rep r ON r.lo = s.lo AND r.hi = s.hi
          WHERE s.doc_id != r.rep),
        band AS (
          SELECT rep AS doc_id, lo, hi,
            unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bucket,
            unnest([0, 1, 2, 3]) AS band
          FROM rep)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            AS INTEGER) AS hamming
        FROM band a JOIN band b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 8
        UNION ALL SELECT doc_a, doc_b, hamming FROM classes"""
    }
  }

  /** `<p>sh`: the distinct 3-token shingles per doc of `<p>toks`. */
  private[queries] def shingleCte(p: String = ""): String =
    s"""${p}sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM ${p}toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3)"""

  /** `<p>toks`, the lower-cased space-split tokens per doc of `from`, and
    * its [[shingleCte]]: the start of every exact shingle-Jaccard oracle.
    */
  private[queries] def shingles(from: String = "documents", p: String = ""): String =
    s"""${p}toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM $from),
        ${shingleCte(p)}"""

  /** `<p>sizes`: the shingle count per doc. */
  private def sizes(p: String = ""): String =
    s"${p}sizes AS (SELECT doc_id, count(*) AS n_sh FROM ${p}sh GROUP BY doc_id)"

  /** `<p>capped`: the shingles at most `cap` docs hold. */
  private def capped(cap: Int, p: String = ""): String =
    s"""${p}capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM ${p}sh)
          WHERE f <= $cap)"""

  /** A pair's exact Jaccard from its intersection `inter` and sizes `sa`/`sb`. */
  private val jaccard =
    "round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6)"

  /** `pairs`: the shingle intersection of every doc pair of `from`. */
  private def pairs(from: String): String =
    s"""pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM $from a JOIN $from b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""

  /** The `pairs` whose Jaccard reaches `t`, with that Jaccard. */
  private def jaccardAtLeast(t: String): String =
    s"""SELECT doc_a, doc_b,
          $jaccard AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE $jaccard >= $t"""

  /** After [[shingles]]`(p = p)`, in a WITH RECURSIVE: `<p>prs`, the pairs
    * whose Jaccard over the 100-capped index reaches 0.5, as undirected
    * `edges`, and their transitive closure `reach`.
    */
  private[queries] def closure(p: String = ""): String =
    s"""${sizes(p)},
        ${capped(100, p)},
        ${p}prs AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM ${p}capped a JOIN ${p}capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN ${p}sizes sa ON sa.doc_id = doc_a
          JOIN ${p}sizes sb ON sb.doc_id = doc_b
          WHERE $jaccard >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM ${p}prs
                  UNION SELECT doc_b, doc_a FROM ${p}prs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a)"""

  /** `comp`: each document labelled with the least doc id its [[closure]] reaches. */
  private[queries] val comp: String =
    """comp AS (
          SELECT d.doc_id,
            least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id)"""

  /** The md5-bucket16 arithmetic: the first 4 hex digits of `m` as an int. */
  private[queries] val md5Bucket: String =
    """(((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1)"""

  /** The q_split tail: an 80/10/10 train/val/test split of `from` by the
    * [[md5Bucket]] of `key`.
    */
  private[queries] def md5Split(key: String, from: String): String =
    s"""h AS (
          SELECT doc_id, md5(CAST($key AS VARCHAR)) AS m FROM $from),
        b AS (
          SELECT doc_id,
            $md5Bucket AS bucket
          FROM h)
        SELECT doc_id,
          CASE WHEN bucket < 52429 THEN 'train'
               WHEN bucket < 58982 THEN 'val'
               ELSE 'test' END AS split
        FROM b"""

  /** `wn`: each doc's sorted distinct winnowing fingerprints `fps`
    * (k = 20 chars, w = 16).
    */
  private val winnowFps: String =
    """WITH cs AS (
          SELECT doc_id,
            list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT)) AS cp
          FROM documents),
        h AS (
          SELECT doc_id,
            list_transform(range(1, len(cp) - 20 + 2),
              i -> list_reduce(cp[i:i+19], (acc, c) -> (acc * 257 + c) % 2147483647)) AS hs
          FROM cs WHERE len(cp) >= 20),
        wn AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, greatest(1, len(hs) - 16 + 1) + 1),
              j -> list_min(hs[j:j+15]))) AS fps
          FROM h)"""

  /** Shared by q_contamination and q_contamination_bloom. */
  private val contaminationOracle: String =
    s"""WITH ${shingles()},
        ${capped(1000)}
        SELECT c.doc_id, p.doc_id AS probe_id, count(*) AS overlap_ngrams
        FROM capped c JOIN sh p ON c.shingle = p.shingle AND p.doc_id < 25
        WHERE c.doc_id != p.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 3"""

  /** Shared by q_ngram_jaccard and q_minhash_pairs. */
  private val ngramJaccardOracle: String =
    s"""WITH ${shingles()},
        ${sizes()},
        ${capped(100)},
        ${pairs("capped")}
        ${jaccardAtLeast("0.5")}"""

  val all: Seq[Query] = Seq(
    Query("q_dedup_exact", (s, dir) => Dedup.exact(docs(s, dir)),
      Some("""SELECT doc_id,
          min(doc_id) OVER (PARTITION BY h) AS canonical_id,
          count(*) OVER (PARTITION BY h) AS dup_count,
          doc_id = min(doc_id) OVER (PARTITION BY h) AS is_canonical
        FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS h
              FROM documents)""")),
    // line-level boilerplate dedup (RefinedWeb/CCNet pass): the fixture
    // has no newlines, so both engines plant the same deterministic
    // footer lines (every doc gets one of 3 shared footers; every 250th
    // doc an extra low-frequency pair line) — same planted-input
    // discipline as q_pii_scrub/q_domain_stats. headMinDf=10 routes the
    // shared footers via the broadcast head and the pair line via the
    // mid-range join, so BOTH paths are oracle-exercised.
    Query("q_line_dedup", (s, dir) =>
      Dedup.lineDedup(
        docs(s, dir).withColumn("text", expr(
          "concat(text, chr(10), 'SHARED FOOTER ', CAST(doc_id % 3 AS STRING)," +
            " CASE WHEN doc_id % 250 = 0 THEN concat(chr(10), 'PAIR LINE')" +
            " ELSE '' END)")),
        minDocFreq = 2, headMinDf = 10L),
      Some("""WITH d AS (
          SELECT doc_id, text || chr(10) || 'SHARED FOOTER ' || CAST(doc_id % 3 AS VARCHAR)
              || CASE WHEN doc_id % 250 = 0 THEN chr(10) || 'PAIR LINE' ELSE '' END AS text
          FROM documents),
        p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d),
        l AS (SELECT doc_id, i AS idx, parts[i + 1] AS line
              FROM p, LATERAL (SELECT unnest(range(len(parts))) AS i) g),
        f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1),
        m AS (SELECT l.doc_id, l.idx, l.line, f.df >= 2 AS hot
              FROM l JOIN f USING (line))
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_lines,
          CAST(sum(CASE WHEN NOT hot THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
          coalesce(string_agg(CASE WHEN NOT hot THEN line END, chr(10) ORDER BY idx), '')
            AS text_deduped
        FROM m GROUP BY 1""")),
    // winnowing (MOSS) fingerprints: codegen rolling-hash Expression,
    // integer arithmetic mirrored exactly in the DuckDB oracle
    // (k=20 chars, w=16 — fixture-sparse, see winnowPairs density)
    Query("q_winnow", (s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), k = 20, w = 16),
      // Winnowing: identical rolling-hash fold ((acc*257 + c) mod 2^31-1,
      // seeded with the first codepoint — list_reduce semantics), w-window
      // minima, sorted distinct. All integer arithmetic — exact.
      Some(s"""$winnowFps
        SELECT doc_id, unnest(fps) AS fp FROM wn""")),
    // substring-overlap pairs over those fingerprints (hot-fp anti-join
    // cap at 100 docs; >= 3 shared fingerprints)
    Query("q_winnow_pairs", (s, dir) =>
      Dedup.winnowPairs(docs(s, dir), k = 20, w = 16, minShared = 3,
        maxFpFreq = 100),
      Some(s"""$winnowFps,
        f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
        hot AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > 100),
        cool AS (SELECT * FROM f WHERE fp NOT IN (SELECT fp FROM hot))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
        FROM cool a JOIN cool b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3""")),
    // exact repeated-substring removal spans (ExactSubstr, Lee et al.
    // 2022): every position whose 40-gram occurs more than once in the
    // corpus is covered; covered chars merge to per-doc maximal spans.
    // Hash-prefilter + exact-gram confirm engine-side; the oracle
    // re-derives the identical relation with direct gram grouping
    Query("q_substring_dedup", (s, dir) =>
      Dedup.repeatedSubstringSpans(docs(s, dir), minLen = 40),
      // ExactSubstr spans: per-position 40-grams (char semantics — length/
      // substr, matching Spark's length/substring), grams appearing > 1
      // time corpus-wide, covered windows merged gaps-and-islands
      // (adjacent windows fuse: break only when a position clears the
      // running coverage end by more than one char).
      Some("""WITH mx AS (SELECT coalesce(max(length(text)), 0) AS m FROM documents),
        nums AS (SELECT unnest(range(1, (SELECT m + 1 FROM mx))) AS i),
        pos AS (
          SELECT doc_id, CAST(i AS BIGINT) AS i, substr(text, CAST(i AS BIGINT), 40) AS gram
          FROM documents CROSS JOIN nums
          WHERE i <= length(text) - 39),
        dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) > 1),
        dp AS (SELECT doc_id, i FROM pos WHERE gram IN (SELECT gram FROM dup)),
        isl AS (
          SELECT doc_id, i,
            CASE WHEN i > coalesce(max(i + 39) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000000) + 1
              THEN 1 ELSE 0 END AS brk
          FROM dp),
        grp AS (SELECT doc_id, i,
            sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
          FROM isl)
        SELECT doc_id, min(i) AS span_start, max(i) + 39 AS span_end,
          max(i) + 39 - min(i) + 1 AS span_len
        FROM grp GROUP BY doc_id, g""")),
    Query("q_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.5),
      Some(ngramJaccardOracle)),
    // incremental dedup: an incoming batch (doc_id < 100) against the
    // already-ingested corpus (doc_id >= 100) — bipartite MinHash with
    // exact-Jaccard verification; the exact bipartite inverted index is
    // the oracle (same sibling relationship as q_minhash_pairs)
    Query("q_incremental_dedup", (s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashPairsAgainst(
        d.filter(col("doc_id") >= 100), d.filter(col("doc_id") < 100),
        threshold = 0.5)
    },
      // Bipartite exact sibling of the incremental (batch-vs-corpus) MinHash
      // dedup: full-set Jaccard over batch×corpus shingle matches.
      Some(s"""WITH ${shingles()},
        ${sizes()},
        pairs AS (
          SELECT b.doc_id AS doc_a, c.doc_id AS doc_b, count(*) AS inter
          FROM sh b JOIN sh c ON b.shingle = c.shingle
          WHERE b.doc_id < 100 AND c.doc_id >= 100
          GROUP BY 1, 2)
        ${jaccardAtLeast("0.5")}""")),
    // benchmark decontamination: corpus docs sharing n-grams with a probe
    // set (first 25 docs standing in for an eval benchmark)
    Query("q_contamination", (s, dir) => {
      val d = docs(s, dir)
      Dedup.ngramContamination(d, d.filter(col("doc_id") < 25), minOverlap = 3)
        .filter(col("doc_id") =!= col("probe_id"))
    },
      Some(contaminationOracle)),
    // hash-membership-prefiltered decontamination (the 100 TB variant):
    // a broadcast of DISTINCT 22-bit shingle hashes prunes the corpus
    // index with long compares before any string join; the exact-confirm
    // pass makes the result IDENTICAL to q_contamination, so the exact
    // form's SQL is the oracle (zero false negatives by construction)
    Query("q_contamination_bloom", (s, dir) => {
      val d = docs(s, dir)
      Dedup.ngramContaminationPrefiltered(
        d, d.filter(col("doc_id") < 25), minOverlap = 3)
        .filter(col("doc_id") =!= col("probe_id"))
    },
      // the prefilter is exact-confirmed, so the exact form's SQL is the
      // oracle verbatim
      Some(contaminationOracle)),
    // leakage-safe split: near-dup components decide the split, so two
    // near-duplicates can never straddle the train/test fence; same
    // MinHash edge generator (oracle-proven value-equal to exact pairs)
    // and same md5-bucket CASE as q_split, keyed on component_id
    Query("q_split_leakage", (s, dir) => {
      val d = docs(s, dir)
      Dedup.splitByComponent(d,
        Dedup.minhashPairs(d, threshold = 0.5)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    },
      // q_dup_components' recursive closure labels each doc with its
      // component minimum; the split CASE is q_split's md5 arithmetic
      // keyed on that component id
      Some(s"""WITH RECURSIVE ${shingles()},
        ${closure()},
        $comp,
        ${md5Split("component_id", "comp")}""")),
    // quality-canonical dedup: per near-dup component keep the
    // highest-n_chars member (doc_id tie-break) — winner via the salted
    // two-phase ranking, MinHash edges (oracle-proven value-equal to
    // exact pairs), recursive-CTE + window oracle
    Query("q_dedup_quality", (s, dir) => {
      val d = docs(s, dir)
      Dedup.canonicalByQuality(d,
        Dedup.minhashPairs(d, threshold = 0.5)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
        "n_chars", salts = 4)
    },
      // q_dup_components' recursive closure + a per-component quality
      // window: keep = rank 1 by (n_chars DESC, doc_id ASC)
      Some(s"""WITH RECURSIVE ${shingles()},
        ${closure()},
        comp AS (
          SELECT d.doc_id, d.n_chars,
            least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id, d.n_chars),
        ranked AS (
          SELECT doc_id, component_id,
            row_number() OVER (PARTITION BY component_id
              ORDER BY CAST(n_chars AS BIGINT) DESC, doc_id ASC) AS rnk
          FROM comp)
        SELECT doc_id, component_id, rnk = 1 AS keep FROM ranked""")),
    // snapshot diff between two derived corpus states: old drops
    // doc_id%10==3 and appends ' LEGACY' to every 7th text; new drops
    // doc_id%10==7 — exercises all four statuses deterministically
    Query("q_corpus_diff", (s, dir) => {
      val d = docs(s, dir)
      val old = d.filter(expr("doc_id % 10 != 3"))
        .withColumn("text", expr(
          "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' LEGACY') ELSE text END"))
      val cur = d.filter(expr("doc_id % 10 != 7"))
      CorpusPipeline.snapshotDiff(old, cur)
    },
      Some("""WITH oldd AS (
          SELECT doc_id,
            CASE WHEN doc_id % 7 = 0 THEN text || ' LEGACY' ELSE text END AS text
          FROM documents WHERE doc_id % 10 != 3),
        newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 7),
        o AS (SELECT doc_id, coalesce(md5(text), '__null_text__') AS h, true AS in_old FROM oldd),
        n AS (SELECT doc_id, coalesce(md5(text), '__null_text__') AS h, true AS in_new FROM newd)
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
          CASE WHEN o.in_old IS NULL THEN 'added'
               WHEN n.in_new IS NULL THEN 'removed'
               WHEN o.h = n.h THEN 'unchanged'
               ELSE 'changed' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""")),
    // prefix-filtered exact Jaccard (AllPairs/PPJoin): the oracle is the
    // UNCAPPED quadratic inverted self-join — the prefix filter must lose
    // NOTHING at the threshold for this row to stay hash-green
    Query("q_jaccard_prefix", (s, dir) =>
      Dedup.jaccardPrefixPairs(docs(s, dir), threshold = 0.7,
        verifyPar = floorPar(s, dir)),
      // UNCAPPED brute-force quadratic Jaccard — the losslessness gate for
      // the prefix-filtered candidate generation
      Some(s"""WITH ${shingles()},
        ${sizes()},
        ${pairs("sh")}
        ${jaccardAtLeast("0.7")}""")),
    // transitive duplicate groups, with MinHash-LSH as the edge generator —
    // the documented default/scale path (bounded fan-out); its pair set is
    // value-equal to the exact inverted-index sibling (oracle-proven by
    // q_minhash_pairs), so the WITH RECURSIVE closure over exact pairs
    // remains the oracle
    Query("q_dup_components", (s, dir) => {
      val d = docs(s, dir)
      Dedup.components(
        d.select(col("doc_id").as("id")),
        Dedup.minhashPairs(d, threshold = 0.5)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
    },
      Some(s"""WITH RECURSIVE ${shingles()},
        ${closure()}
        SELECT d.doc_id AS id,
          least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component_id
        FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id""")),
    // PageRank centrality over the same dup graph: 3 iterations of
    // all-integer damped rank flow — join + agg per round, no GraphX;
    // template hubs outrank cluster members (see Graph.pageRank)
    Query("q_pagerank", (s, dir) => {
      val d = docs(s, dir)
      Graph.pageRank(
        d.select(col("doc_id").as("id")),
        Dedup.minhashPairs(d, threshold = 0.5)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
        iterations = 3)
    },
      // PageRank over the identical edge derivation, 3 unrolled
      // all-integer damped iterations (same truncating division order)
      Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS MATERIALIZED (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS MATERIALIZED (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        prs AS MATERIALIZED (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM prs
              UNION ALL SELECT doc_b, doc_a FROM prs),
        deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY 1),
        r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents),
        c1 AS (SELECT e.dst AS id, sum(r0.r // deg.d) AS s
               FROM e JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
               GROUP BY 1),
        r1 AS (SELECT r0.id, 150000 + ((85 * coalesce(c1.s, 0)) // 100) AS r
               FROM r0 LEFT JOIN c1 USING (id)),
        c2 AS (SELECT e.dst AS id, sum(r1.r // deg.d) AS s
               FROM e JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
               GROUP BY 1),
        r2 AS (SELECT r1.id, 150000 + ((85 * coalesce(c2.s, 0)) // 100) AS r
               FROM r1 LEFT JOIN c2 USING (id)),
        c3 AS (SELECT e.dst AS id, sum(r2.r // deg.d) AS s
               FROM e JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
               GROUP BY 1),
        r3 AS (SELECT r2.id, 150000 + ((85 * coalesce(c3.s, 0)) // 100) AS r
               FROM r2 LEFT JOIN c3 USING (id))
        SELECT id, CAST(r AS BIGINT) AS rank_micro FROM r3""")),
    // MinHash-LSH verified pairs: every candidate is verified with EXACT
    // Jaccard, so precision is 1 by construction, and at these banding
    // parameters recall over this corpus is total — the exact inverted-
    // index sibling's pair set (incl. jaccard values) IS the oracle. A
    // recall miss would surface as a hash-fail, which is precisely the
    // regression this row guards against. Premise: the exact sibling's
    // intersection is counted over the freq-capped index while MinHash
    // verifies over full sets; they coincide unless a qualifying pair
    // shares a >cap-hot shingle (none in these corpora — this row itself
    // gates that premise; see Dedup.verifyJaccard scaladoc).
    Query("q_minhash_pairs", (s, dir) =>
      Dedup.minhashPairs(docs(s, dir), threshold = 0.5),
      // MinHash-LSH pairs are exact-verified, so the exact inverted-index
      // sibling (same SQL as q_ngram_jaccard) is the oracle.
      Some(ngramJaccardOracle)),
    // fully hash-gated since r10: the 64-bit XXH64 signature fold is
    // integer arithmetic end to end, so [[SimhashOracleSql]] mirrors it
    // in DuckDB (mod-2^64 emulated in HUGEINT) and the pair relation
    // crosses the driver's hash gate exactly; q_simhash_bounds below
    // additionally keeps the semantic accuracy envelope
    Query("q_simhash_pairs", (s, dir) => Dedup.simhashPairs(docs(s, dir)),
      // SimHash pair relation, exact: XXH64 re-implemented in DuckDB —
      // machine-generated nested-subquery SQL (see SimhashOracleSql).
      Some(SimhashOracleSql.sql)),
    // SimHash accuracy envelope, oracle-backed: n_exact_pairs is
    // value-matched against the DuckDB exact inverted index, and two
    // engine-side booleans must be TRUE —
    //  precision_ok: ≥99% of emitted hamming≤8 pairs share UNIGRAM Jaccard
    //    ≥ 0.2 (SimHash signatures are built from unigram token hashes, so
    //    token overlap is the metric the signature actually approximates;
    //    3-gram Jaccard is the wrong floor: hamming-close short docs can
    //    share tokens but no 3-gram). A QUANTILE floor, not a min: random
    //    64-bit Hamming collisions between token-disjoint docs arrive at
    //    ~n²·3e-10 — 4 of 444,705 emitted pairs at sf1 — so a min floor
    //    breaks at scale by construction (measured p01 = 0.48 at sf1);
    //  recall_ok: ≥ 85% of the exact 3-gram jaccard≥0.5 pairs are emitted
    //    (measured 0.887 / 0.92 / 0.93 at sf0.1 / 0.01 / 0.001).
    //  no_null_jaccard: zero emitted pairs have a NULL audit jaccard —
    //    min() ignores NULLs, so without this gate a signature change that
    //    starts emitting pairs touching shingle-less docs could slip under
    //    the precision floor (jaccardOf leaves NULL-pair semantics to the
    //    caller; this row chooses "forbidden").
    // A broken signature or band join fails a gate even though the
    // signature cells themselves cannot be oracled.
    Query("q_simhash_bounds", (s, dir) => {
      val d = docs(s, dir)
      val simAll = Dedup.simhashPairs(d)
      val sim = simAll.select("doc_a", "doc_b")
      // precision is a 99th-PERCENTILE floor, not a min: 64-bit Hamming
      // collisions between token-disjoint docs appear at rate ~n²·3e-10
      // (4 of 444,705 emitted pairs at sf1, min jaccard 0.125, p01 0.48),
      // so an absolute min floor breaks at scale by construction while a
      // broken signature/band join still craters the 99% fraction
      val prec = Dedup.jaccardOf(d, sim, n = 1)
        .agg(expr("count(1)").as("__npairs"),
          expr("sum(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END)").as("__nabove"),
          expr("sum(CASE WHEN jaccard IS NULL THEN 1 ELSE 0 END)").as("__nnull"))
      // recall is CLOSURE-aware: simhashPairs emits identity classes as
      // linear (canonical, member, 0) rows and cross-signature pairs
      // between canonicals, so an exact pair (a, b) counts as recalled
      // when a and b share a canonical OR their canonicals' pair was
      // emitted — the connectivity the linear relation implies
      val cmap = simAll.filter(col("hamming") === 0)
        .select(col("doc_b").as("__m"), col("doc_a").as("__c"))
      val rec = Dedup.ngramJaccardPairs(d, threshold = 0.5)
        .join(cmap.select(col("__m").as("doc_a"), col("__c").as("__ca")),
          Seq("doc_a"), "left")
        .join(cmap.select(col("__m").as("doc_b"), col("__c").as("__cb")),
          Seq("doc_b"), "left")
        .withColumn("__ka", coalesce(col("__ca"), col("doc_a")))
        .withColumn("__kb", coalesce(col("__cb"), col("doc_b")))
        .withColumn("__pa", least(col("__ka"), col("__kb")))
        .withColumn("__pb", greatest(col("__ka"), col("__kb")))
        .join(sim.select(col("doc_a").as("__pa"), col("doc_b").as("__pb"))
          .withColumn("__hit", lit(true)), Seq("__pa", "__pb"), "left")
        .agg(expr("count(1)").as("n_exact_pairs"),
          expr("sum(CASE WHEN __ka = __kb OR __hit THEN 1 ELSE 0 END)")
            .as("__nhit"))
      rec.crossJoin(prec).select(
        col("n_exact_pairs"),
        (coalesce(col("__nabove"), lit(0L)) >= col("__npairs") * 0.99)
          .as("precision_ok"),
        (col("__nhit") >= col("n_exact_pairs") * 0.85).as("recall_ok"),
        (coalesce(col("__nnull"), lit(0L)) === 0).as("no_null_jaccard"))
    },
      // SimHash envelope: the exact-pair count is the same relation as
      // q_ngram_jaccard; the two accuracy booleans are engine-side claims the
      // oracle states as literals (a violated floor breaks the hash match).
      Some(s"""WITH ${shingles()},
        ${sizes()},
        ${capped(100)},
        ${pairs("capped")}
        SELECT count(*) AS n_exact_pairs,
          TRUE AS precision_ok, TRUE AS recall_ok, TRUE AS no_null_jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE $jaccard >= 0.5""")))
}
