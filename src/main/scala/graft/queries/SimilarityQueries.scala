package graft.queries

import graft.operators.{Dedup, Similarity}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions.{col, expr, lit}

/** Embedding similarity: exact, quantized, IVF and LSH top-k search,
  * their recall envelopes, and embedding-based duplicate pairs.
  */
object SimilarityQueries {
  val all: Seq[Query] = Seq(
    // SemDeDup keep/drop decisions vs the DuckDB global brute force: a
    // vector is dropped iff a smaller-id near-duplicate shares its KMeans
    // cell; the global criterion (any smaller-id near-duplicate) coincides
    // whenever clustering splits no duplicate pair — on this corpus the
    // oracle itself proves there are no cosine≥0.9 pairs at all, so the
    // two criteria agree exactly and the full (vec_id, is_kept) relation
    // is oracle-checked
    // reuses the memoized IVF coarse clustering (identical KMeans params):
    // one fit serves both ANN probes and semantic dedup
    // multi-probe (r10): each vector joins its 3 nearest cells, so
    // near-pairs straddling a cell boundary — the one recall loss of
    // cell-local SemDeDup, 16/20000 rows at sf1 — are caught; measured
    // exact-equal to the global brute-force oracle at every tested SF
    // (0.001/0.01/0.1/1). The contract stays one-sided approximate: a
    // pair beyond all probed cells would reopen the named-exclusion
    // discipline, never over-drop.
    // probes = 12 is LOAD-BEARING for exactness even on spherical cells
    // (measured: probes=4 misses 1 pair at sf1; 6 misses 7 at sf3; 8
    // misses 3 at sf3) — the cost lever is the shared index's
    // targetOccupancy instead (candidate volume = occupancy × probes ×
    // n, and halving occupancy RAISES the covered cell fraction).
    Query("q_semantic_dedup", (s, dir) =>
      Dedup.semanticDedupProbed(ivfIndex(s, dir), probes = 12, threshold = 0.9),
      // Global brute-force keep/drop: is_kept iff no smaller-id vector is a
      // cosine≥0.9 near-duplicate (coincides with the within-cluster
      // criterion because the corpus has no such pairs — see query comment).
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id, NOT EXISTS (
            SELECT 1 FROM e b WHERE b.vec_id < a.vec_id
              AND round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
          ) AS is_kept
        FROM e a""")),
    // sign-LSH near-dup pairs, verified with exact cosine: precision 1 by
    // construction, and the DuckDB all-pairs brute force independently
    // the DRIVER fixtures have NO pairs at cosine ≥ 0.9 (max pairwise
    // cosine ≈ 0.51), so set equality with the exact sibling is the
    // oracle there (empty both sides, certified by the oracle itself).
    // Where real near-pairs exist (the sf1 headroom fixture has 61 in
    // the 0.90-0.94 band) candidate recall is probabilistic — gated by
    // q_embed_recall_bounds below. 16 tables + Hamming-1 multi-probe
    // push design recall at 0.90 from ~93% to ~0.99996 (the r10 sf1
    // sweep measured exactly the 93% regime: 60/61) — at sf1 the row is
    // value-equal to the brute-force oracle, closing the last named
    // exclusion
    Query("q_embed_dup_pairs", (s, dir) =>
      Dedup.embeddingDupPairs(embeds(s, dir), threshold = 0.9, tables = 16,
        probeHamming = 1),
      // Sign-LSH near-dup pairs are exact-cosine-verified; the DuckDB
      // all-pairs brute force is the exact sibling (empty at 0.9 on the
      // driver fixtures — independently certified by the oracle itself;
      // where real pairs exist the recall envelope above is the gate).
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9""")),
    // sampled-exact recall envelope for the multi-table sign-LSH. The
    // anchor slice is FIXED-SIZE, not a fixed fraction: modulus
    // m = greatest(5, n / 2000) derived from the corpus count in BOTH
    // engines (Spark below, the same arithmetic in the oracle SQL), so
    // |anchors| saturates at ~2000 and the exact reference is O(n)
    // broadcast dot products at every SF — a fixed `% 5` fraction made
    // this row 0.2·n² (53 s = 10% of the sf3 bench, the suite's only
    // superlinear row). The count() action is parquet-metadata-only.
    // Recall floor 0.8 (non-vacuous where exact pairs exist: sf1/sf3;
    // vacuously true at driver SFs where the exact set is empty).
    Query("q_embed_recall_bounds", (s, dir) => {
      val e = embeds(s, dir)
      val m = math.max(5L, e.count() / 2000L)
      val exact = Dedup.embeddingDupPairsExact(e, s"%ID% % $m = 0", threshold = 0.9)
        .select("id_a", "id_b")
      val lsh = Dedup.embeddingDupPairs(e, threshold = 0.9, tables = 16)
        .select("id_a", "id_b").withColumn("__hit", lit(true))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(expr("count(1)").as("n_exact_sampled"),
          expr("sum(CASE WHEN __hit THEN 1 ELSE 0 END)").as("__nhit"))
        .select(col("n_exact_sampled"),
          (col("n_exact_sampled") === 0 ||
            col("__nhit") >= col("n_exact_sampled") * 0.8).as("recall_ok"))
    },
      // Sampled-exact recall envelope: the oracle computes the identical
      // fixed-size anchor set (modulus greatest(5, n/2000) from the same
      // corpus count — integer floor division in both engines, n ≥ 0) and
      // the identical anchored exact pair count; the floor is the
      // engine-side claim stated as a literal.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT greatest(5, count(*) // 2000) AS md FROM e),
        a AS (SELECT e.* FROM e, m WHERE vec_id % m.md = 0),
        p AS (
          SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
            greatest(a.vec_id, b.vec_id) AS id_b
          FROM a JOIN e b ON a.vec_id != b.vec_id
          WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9)
        SELECT count(*) AS n_exact_sampled, TRUE AS recall_ok FROM p""")),
    Query("q_similarity_topk", (s, dir) => {
      val e = embeds(s, dir)
      Similarity.cosineTopK(e, e.filter(col("vec_id") < 16), k = 5)
        .select("query_id", "match_id", "cosine", "rank")
    },
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT query_id, match_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""")),
    // int8-quantized brute force: maxabs quantization + exact integer
    // cosine are BOTH mirrored in DuckDB arithmetic-for-arithmetic, so
    // unlike the LSH/IVF approximations this row is fully hash-gated —
    // the custom codegen Expressions (vec_quantize_q8 / vec_cosine_i8)
    // are proven value-identical to an independent engine end-to-end
    Query("q_similarity_topk_q8", (s, dir) => {
      val e = embeds(s, dir)
      Similarity.cosineTopKQ8(e, e.filter(col("vec_id") < 16), k = 5)
        .select("query_id", "match_id", "cosine", "rank")
    },
      Some("""WITH z AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
            list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
          FROM embeddings),
        qz AS (
          SELECT vec_id,
            CASE WHEN mx > 0 THEN list_transform(e, x -> round(x * 127.0 / mx))
                 ELSE list_transform(e, x -> CAST(0 AS DOUBLE)) END AS q
          FROM z),
        sc AS (
          SELECT a.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(a.q, c.q)
              / (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(c.q, c.q))), 6) AS cosine
          FROM (SELECT * FROM qz WHERE vec_id < 16) a, qz c
          WHERE a.vec_id != c.vec_id)
        SELECT query_id, match_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""")),
    // quantization-error envelope: recall@5 of the q8 ranking vs full
    // precision, floor 0.9 (oracle states the floor as a literal — a
    // violated floor breaks the hash match)
    Query("q_q8_recall_bounds", (s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 16)
      val brute = Similarity.cosineTopK(e, q, k = 5)
        .select("query_id", "match_id")
      val q8 = Similarity.cosineTopKQ8(e, q, k = 5)
        .select("query_id", "match_id").withColumn("__hit", lit(true))
      brute.join(q8, Seq("query_id", "match_id"), "left")
        .agg(expr("count(1)").as("n_brute_rows"),
          expr("sum(CASE WHEN __hit THEN 1 ELSE 0 END)").as("__nhit"))
        .select(col("n_brute_rows"),
          (col("__nhit") >= col("n_brute_rows") * 0.9).as("recall_ok"))
    },
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT count(*) AS n_brute_rows, TRUE AS recall_ok
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""")),
    // FAISS discipline: the IVF index is fitted ONCE per dataset (memoized
    // below — coarse quantizer on a half sample, cell-assigned corpus
    // persisted) and every invocation runs the PROBE path only; the bench's
    // measured pass times candidate-join + cosine + top-k, not a KMeans fit
    Query("q_similarity_topk_ivf", (s, dir) => {
      val e = embeds(s, dir)
      // nProbe 12 rides the occupancy-128 index: coverage fraction
      // nProbe/nLists matches the previous 6-of-(n/256) configuration
      // while each probed cell is half the size
      Similarity.cosineTopKIvfProbe(
        ivfIndex(s, dir), e.filter(col("vec_id") < 16), k = 5, nProbe = 12)
        .select("query_id", "match_id", "cosine", "rank")
    },
      None),
    // IVF probed EXHAUSTIVELY (nProbe = nLists): every cell is a candidate
    // cell, so the result must equal brute force EXACTLY — proving the IVF
    // machinery (cell assignment partitions the corpus, candidate join,
    // codegen cosine, top-k) is lossless; the approximate row above stays
    // rows-only with measured recall
    Query("q_similarity_topk_ivf_full", (s, dir) => {
      val e = embeds(s, dir)
      val idx = ivfIndex(s, dir)
      Similarity.cosineTopKIvfProbe(
        idx, e.filter(col("vec_id") < 16), k = 5,
        nProbe = idx.centroids.length) // nProbe = nLists at ANY list count
        .select("query_id", "match_id", "cosine", "rank")
    },
      // Exhaustive IVF probe shares the brute-force top-k oracle.
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT query_id, match_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""")),
    Query("q_similarity_topk_lsh", (s, dir) => {
      val e = embeds(s, dir)
      // weakly-similar corpus (max pairwise cosine ≈ 0.5): few bits, many
      // tables — see cosineTopKLsh scaladoc for the recall arithmetic;
      // accuracy driver-gated by q_similarity_topk_lsh_full (machinery) +
      // q_lsh_recall_bounds (parameterized recall) below
      Similarity.cosineTopKLsh(e, e.filter(col("vec_id") < 16), k = 5,
        nBits = 4, tables = 12)
        .select("query_id", "match_id", "cosine", "rank")
    },
      None),
    // sign-LSH probed EXHAUSTIVELY (nBits = 0 ⇒ every vector lands in
    // bucket 0 of the single table, so candidates = all) — the IVF `_full`
    // trick: the result must equal brute force EXACTLY, proving the whole
    // LSH machinery (compiled bucket signatures, per-table candidate join,
    // vector rejoin, codegen cosine, deterministic top-k) is lossless; the
    // approximate row above stays rows-only with its measured recall
    Query("q_similarity_topk_lsh_full", (s, dir) => {
      val e = embeds(s, dir)
      Similarity.cosineTopKLsh(e, e.filter(col("vec_id") < 16), k = 5,
        nBits = 0, tables = 1)
        .select("query_id", "match_id", "cosine", "rank")
    },
      // Exhaustive LSH probe shares the brute-force top-k oracle.
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT query_id, match_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""")),
    // recall@k envelope for the APPROXIMATE banding above (nBits=4,
    // tables=12): engine-side overall recall vs the brute-force top-k must
    // clear 0.7 (measured 0.75 / 0.81 / 0.89 at sf0.01 / 0.001 / 0.1 —
    // deterministic: seeded hyperplanes over fixed fixtures); n_brute_rows
    // is value-matched against the DuckDB brute-force count
    Query("q_lsh_recall_bounds", (s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 16)
      val brute = Similarity.cosineTopK(e, q, k = 5)
        .select("query_id", "match_id")
      val lsh = Similarity.cosineTopKLsh(e, q, k = 5, nBits = 4, tables = 12)
        .select("query_id", "match_id").withColumn("__hit", lit(true))
      brute.join(lsh, Seq("query_id", "match_id"), "left")
        .agg(expr("count(1)").as("n_brute_rows"),
          expr("sum(CASE WHEN __hit THEN 1 ELSE 0 END)").as("__nhit"))
        .select(col("n_brute_rows"),
          (col("__nhit") >= col("n_brute_rows") * 0.7).as("recall_ok"))
    },
      // LSH recall envelope: the brute-force row count is the oracle's half;
      // the recall floor is the engine-side claim stated as a literal.
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT count(*) AS n_brute_rows, TRUE AS recall_ok
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""")))
}
