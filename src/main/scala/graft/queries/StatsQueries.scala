package graft.queries

import graft.operators.{Features, Ranking, Similarity, Stats}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions.{col, expr, lit}

/** Numeric and embedding statistics: moments, correlation, drift, outlier
  * cuts, top-fraction and top-per-group ranking, retention and funnels,
  * label centroids.
  */
object StatsQueries {
  val all: Seq[Query] = Seq(
    // per-dimension embedding stats in exact fixed point: micro-unit
    // sums/sums-of-squares in DECIMAL(38,0) (a double sum over 1e11
    // floats is partitioning-dependent; these are not), mean derived by
    // identical double arithmetic in both engines
    // DECIMAL(38,0) moments render as VARCHAR for the harness (the
    // q_part_decimal *_str discipline): sumsq exceeds BIGINT past ~1e11
    // vectors, so the exact value crosses the gate as digits, not as a
    // lossy double.
    Query("q_embed_dim_stats", (s, dir) =>
      Stats.embeddingDimStats(embeds(s, dir)).selectExpr(
        "dim", "n",
        "CAST(sum_micro AS STRING) AS sum_micro_str",
        "CAST(sumsq_micro AS STRING) AS sumsq_micro_str",
        "min_micro", "max_micro", "mean"),
      // Exact fixed-point moments (micro-units in DECIMAL) — identical
      // quantize-then-sum arithmetic on both engines; `mean` derived from
      // the exact sums by the same double expression.
      Some("""WITH ex AS (
          SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
              AS DECIMAL(19,0)) AS um
          FROM embeddings)
        SELECT dim, count(*) AS n,
          CAST(CAST(sum(um) AS DECIMAL(38,0)) AS VARCHAR) AS sum_micro_str,
          CAST(CAST(sum(um * um) AS DECIMAL(38,0)) AS VARCHAR) AS sumsq_micro_str,
          CAST(min(um) AS BIGINT) AS min_micro,
          CAST(max(um) AS BIGINT) AS max_micro,
          round(CAST(CAST(sum(um) AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean
        FROM ex GROUP BY 1""")),
    // grouped Pearson correlation from exact DECIMAL moments — corr()
    // built-ins sum doubles in partition order and are not reproducible;
    // the five integer moments are, and r derives from them in lockstep
    // double arithmetic (see Stats.groupedCorrelation)
    // The five exact moments cross the gate as VARCHAR digits (sum_yy
    // overflows BIGINT past ~sf0.1); r stays a lockstep-derived double.
    Query("q_grouped_corr", (s, dir) =>
      Stats.groupedCorrelation(
        graft.core.Parquet.read(s, s"$dir/lineitem.parquet"),
        Seq("l_returnflag"),
        "CAST(round(l_quantity * 100) AS LONG)",
        "CAST(round(l_extendedprice * 100) AS LONG)").selectExpr(
        "l_returnflag", "n",
        "CAST(sum_x AS STRING) AS sum_x_str",
        "CAST(sum_y AS STRING) AS sum_y_str",
        "CAST(sum_xx AS STRING) AS sum_xx_str",
        "CAST(sum_yy AS STRING) AS sum_yy_str",
        "CAST(sum_xy AS STRING) AS sum_xy_str",
        "corr"),
      // Pearson r from the five exact DECIMAL moments; the corr expression
      // is kept in LOCKSTEP with Stats.groupedCorrelation — same casts,
      // same association order, same rounding.
      Some("""WITH st AS (
          SELECT l_returnflag,
            CAST(CAST(round(l_quantity * 100) AS BIGINT) AS DECIMAL(19,0)) AS x,
            CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0)) AS y
          FROM lineitem),
        m AS (
          SELECT l_returnflag, count(*) AS n,
            CAST(sum(x) AS DECIMAL(38,0)) AS sum_x,
            CAST(sum(y) AS DECIMAL(38,0)) AS sum_y,
            CAST(sum(x * x) AS DECIMAL(38,0)) AS sum_xx,
            CAST(sum(y * y) AS DECIMAL(38,0)) AS sum_yy,
            CAST(sum(x * y) AS DECIMAL(38,0)) AS sum_xy
          FROM st GROUP BY 1)
        SELECT l_returnflag, n,
          CAST(sum_x AS VARCHAR) AS sum_x_str,
          CAST(sum_y AS VARCHAR) AS sum_y_str,
          CAST(sum_xx AS VARCHAR) AS sum_xx_str,
          CAST(sum_yy AS VARCHAR) AS sum_yy_str,
          CAST(sum_xy AS VARCHAR) AS sum_xy_str,
          round(
            (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
              - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(sum_yy AS DOUBLE)
              - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE)), 6) AS corr
        FROM m""")),
    // per-user rolling event-time features: trailing-hour count/sum in
    // exact cents, previous-value lag, inter-event gap in micros — the
    // RANGE frame orders by ts alone (peers included ⇒ tie-deterministic),
    // the lag window by (ts, event_id) (total order); both share one
    // user-key shuffle (see Features.rollingEventFeatures)
    Query("q_rolling_features", (s, dir) =>
      Features.rollingEventFeatures(events(s, dir), windowSecs = 3600L),
      // RANGE frame ordered by the bare micros (peers included — SQL RANGE
      // CURRENT ROW means "last peer", identical in both engines); the lag
      // window totally ordered by (us, event_id). DuckDB's sum(BIGINT) is
      // HUGEINT — cast back so both sides render as int64.
      Some("""WITH e AS (
          SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
            CAST(round(value * 100) AS BIGINT) AS value_cents
          FROM events)
        SELECT event_id, user_id, value_cents,
          count(*) OVER w_range AS roll_n,
          CAST(sum(value_cents) OVER w_range AS BIGINT) AS roll_cents,
          lag(value_cents) OVER w_row AS prev_cents,
          us - lag(us) OVER w_row AS gap_us
        FROM e
        WINDOW
          w_range AS (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
          w_row AS (PARTITION BY user_id ORDER BY us, event_id)""")),
    // categorical drift between the even/odd doc_id halves over `source`:
    // exact per-key counts + a lockstep-derived chi-square contribution
    // (the two halves of one fixture are a null-hypothesis pair — the
    // oracle gates the arithmetic, not a planted drift)
    Query("q_drift", (s, dir) => {
      val d = docs(s, dir)
      Stats.categoricalDrift(
        d.filter(expr("doc_id % 2 = 0")),
        d.filter(expr("doc_id % 2 = 1")), "source")
    },
      // chi-square contribution kept in LOCKSTEP with
      // Stats.categoricalDrift — same casts, association order, rounding
      Some("""WITH a AS (
          SELECT source, count(*) AS n_a FROM documents
          WHERE doc_id % 2 = 0 GROUP BY 1),
        b AS (
          SELECT source, count(*) AS n_b FROM documents
          WHERE doc_id % 2 = 1 GROUP BY 1),
        j AS (
          SELECT COALESCE(a.source, b.source) AS source,
            COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM a FULL OUTER JOIN b ON a.source = b.source),
        t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM j)
        SELECT source, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          round(
            pow(CAST(n_a AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
              * CAST(tot_a AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 2)
            / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE))
            + pow(CAST(n_b AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
              * CAST(tot_b AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 2)
            / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_b AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 6) AS chi2_term
        FROM j, t""")),
    // numeric drift: baseline-decile bins (histogram-side cumBefore, no
    // corpus window) broadcast to both slices, chi-square per bin; the
    // +20 shift on the current slice makes the drift signal real
    Query("q_numeric_drift", (s, dir) => {
      val d = docs(s, dir)
      Stats.numericDrift(
        d.filter(expr("doc_id % 2 = 0")),
        d.filter(expr("doc_id % 2 = 1"))
          .withColumn("n_chars", col("n_chars") + lit(20L)),
        "n_chars", 10)
    },
      // numeric drift mirrored: identical cumBefore edge derivation,
      // identical count-of-edges bin assignment, identical chi2 text
      Some("""WITH sa AS (
          SELECT CAST(n_chars AS BIGINT) AS s FROM documents
          WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        sb AS (
          SELECT CAST(n_chars + 20 AS BIGINT) AS s FROM documents
          WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        h AS (SELECT s, count(*) AS c FROM sa GROUP BY 1),
        cum AS (
          SELECT s, COALESCE(sum(c) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
          FROM h),
        n AS (SELECT sum(c) AS n FROM h),
        e AS (
          SELECT bin, min(s) AS edge FROM (
            SELECT s, least(9, (10 * cumb) // n) AS bin FROM cum, n) q
          WHERE bin >= 1 GROUP BY 1),
        ba AS (SELECT (SELECT count(*) FROM e WHERE edge <= sa.s) AS bin
          FROM sa),
        bb AS (SELECT (SELECT count(*) FROM e WHERE edge <= sb.s) AS bin
          FROM sb),
        a2 AS (SELECT bin, count(*) AS n_a FROM ba GROUP BY 1),
        b2 AS (SELECT bin, count(*) AS n_b FROM bb GROUP BY 1),
        j AS (
          SELECT COALESCE(a2.bin, b2.bin) AS bin,
            COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM a2 FULL OUTER JOIN b2 ON a2.bin = b2.bin),
        t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM j)
        SELECT CAST(bin AS INT) AS bin,
          CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          round(
            pow(CAST(n_a AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
              * CAST(tot_a AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 2)
            / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE))
            + pow(CAST(n_b AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
              * CAST(tot_b AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 2)
            / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_b AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 6) AS chi2_term
        FROM j, t""")),
    // robust per-language length outliers: median/MAD double histogram
    // pass, all-integer k·MAD cut. The fixture's length distribution is
    // light-tailed (zero rows clear 3·MAD), so every %211th doc gets a
    // planted +5000 spike — the cut must flag exactly the spikes while
    // the medians stay anchored by the 210/211 clean mass (the
    // robustness property under test)
    Query("q_mad_outliers", (s, dir) =>
      Stats.madOutliers(
        docs(s, dir).withColumn("n_chars",
          expr("n_chars + CASE WHEN doc_id % 211 = 0 THEN 5000 ELSE 0 END")),
        Seq("lang"), "n_chars", "doc_id", k = 5L),
      // median/MAD outliers mirrored: the q_grouped_median lower-median
      // CTE twice (score, then absolute deviation), same planted spikes,
      // same integer cut
      Some("""WITH spiked AS (
          SELECT doc_id, lang,
            n_chars + CASE WHEN doc_id % 211 = 0 THEN 5000 ELSE 0 END
              AS n_chars
          FROM documents),
        h AS (
          SELECT lang, CAST(n_chars AS BIGINT) AS score, count(*) AS cnt
          FROM spiked WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        c AS (
          SELECT lang, score,
            sum(cnt) OVER (PARTITION BY lang ORDER BY score ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY lang) AS total
          FROM h),
        med AS (
          SELECT lang, CAST(min(score) AS BIGINT) AS med
          FROM c WHERE cum * 2 >= total GROUP BY 1),
        d AS (
          SELECT d0.lang, d0.doc_id, CAST(d0.n_chars AS BIGINT) AS score,
            abs(CAST(d0.n_chars AS BIGINT) - med.med) AS dev
          FROM spiked d0 JOIN med USING (lang)
          WHERE d0.n_chars IS NOT NULL),
        h2 AS (SELECT lang, dev, count(*) AS cnt FROM d GROUP BY 1, 2),
        c2 AS (
          SELECT lang, dev,
            sum(cnt) OVER (PARTITION BY lang ORDER BY dev ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY lang) AS total
          FROM h2),
        mad AS (
          SELECT lang, CAST(min(dev) AS BIGINT) AS mad
          FROM c2 WHERE cum * 2 >= total GROUP BY 1)
        SELECT d.lang, d.doc_id, d.score, d.dev AS abs_dev, mad.mad
        FROM d JOIN mad USING (lang)
        WHERE d.dev > 5 * mad.mad""")),
    // quality-threshold filter: keep the top 20% of documents by n_chars,
    // ties included — cutoff selected on the score histogram, the corpus
    // itself never sorted or windowed (see Stats.topFraction)
    Query("q_top_fraction", (s, dir) =>
      Stats.topFraction(docs(s, dir).select(col("doc_id"), col("n_chars")),
        "n_chars", 0.2).select("doc_id", "n_chars"),
      // histogram-threshold top-fraction: cutoff = highest score whose
      // from-the-top cumulative count reaches ceil(frac*n); ties kept
      Some("""WITH h AS (
          SELECT CAST(n_chars AS BIGINT) AS score, count(*) AS cnt
          FROM documents GROUP BY 1),
        c AS (
          SELECT score, sum(cnt) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM h),
        n AS (SELECT sum(cnt) AS total FROM h),
        k AS (
          SELECT max(score) AS cutoff FROM c, n
          WHERE cum >= CAST(ceil(0.2 * CAST(total AS DOUBLE)) AS BIGINT))
        SELECT doc_id, n_chars FROM documents, k
        WHERE CAST(n_chars AS BIGINT) >= cutoff""")),
    // best-3-per-source ranking via the salted two-phase form (salts=4
    // exercises BOTH phases on the fixture — phase-1 buckets actually
    // split the groups); ties broken by doc_id ⇒ deterministic set
    Query("q_top_per_group", (s, dir) =>
      Ranking.topKPerGroup(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), "n_chars", "doc_id", k = 3, salts = 4)
        .selectExpr("source", "doc_id", "n_chars", "rank AS rnk"),
      // single-window reference form: the salted two-phase plan must emit
      // the identical relation (rank ties broken by doc_id on both sides)
      Some("""WITH r AS (
          SELECT source, doc_id, n_chars,
            row_number() OVER (PARTITION BY source
              ORDER BY CAST(n_chars AS BIGINT) DESC, doc_id) AS rnk
          FROM documents)
        SELECT source, doc_id, n_chars, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3""")),
    // weekly retention cohorts: exact integer weeks, one user-key
    // aggregation carrying cohort + distinct active weeks together —
    // no join, no window (see Features.retentionCohorts)
    Query("q_retention", (s, dir) =>
      Features.retentionCohorts(events(s, dir)),
      // exact integer weeks (micros DIV week-micros); the join-free Spark
      // plan and this join-shaped reference compute the same matrix
      Some("""WITH uw AS (
          SELECT user_id,
            CAST(floor(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
              / 604800000000) AS BIGINT) AS week
          FROM events GROUP BY 1, 2),
        c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
        SELECT cohort_week, week - cohort_week AS week_offset,
          count(*) AS n_users
        FROM uw JOIN c USING (user_id) GROUP BY 1, 2""")),
    // ordered view→click→purchase conversion: greedy-earliest chain,
    // strict-> stage advance, every join/agg on one user-key
    // partitioning (see Features.funnel)
    Query("q_funnel", (s, dir) =>
      Features.funnel(events(s, dir), Seq("view", "click", "purchase")),
      // greedy-earliest funnel chain in lockstep: each stage joins the
      // previous stage's (user, min-ts) and advances on strict >
      Some("""WITH s0 AS (
          SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t
          FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL
            AND ts IS NOT NULL
          GROUP BY 1),
        s1 AS (
          SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
          FROM events e JOIN s0 ON e.user_id = s0.user_id
          WHERE e.event_type = 'click'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s0.t
          GROUP BY 1),
        s2 AS (
          SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s1.t
          GROUP BY 1)
        SELECT 0 AS stage_idx, 'view' AS stage,
          (SELECT count(*) FROM s0) AS n_users
        UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)""")),
    // per-label centroids in exact micro fixed point; sums cross the
    // gate as VARCHAR digits (the q_embed_dim_stats discipline)
    Query("q_label_centroids", (s, dir) =>
      Stats.labelCentroids(embeds(s, dir)).selectExpr(
        "label", "dim", "n",
        "CAST(sum_micro AS STRING) AS sum_micro_str", "centroid"),
      // exact micro-unit centroid sums as VARCHAR digits; centroid double
      // derived in lockstep with Stats.labelCentroids
      // centroid + 0: DuckDB round() preserves IEEE -0.0 (a tiny negative
      // sum rounding to zero — first hit at sf10, label 3 dim 47) while
      // Spark ROUND goes through BigDecimal which has no signed zero; the
      // +0 canonicalizes to +0.0, matching the engine on every value
      Some("""WITH ex AS (
          SELECT label,
            CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
              AS DECIMAL(19,0)) AS um
          FROM embeddings)
        SELECT label, dim, count(*) AS n,
          CAST(CAST(sum(um) AS DECIMAL(38,0)) AS VARCHAR) AS sum_micro_str,
          round(CAST(CAST(sum(um) AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) / 1000000.0, 6) + 0 AS centroid
        FROM ex GROUP BY 1, 2""")),
    // signed random projection to 8 integer components: sign matrix is
    // compile-time literals (md5 parity per cell), micro-quantized
    // before summation so both engines do exact BIGINT arithmetic; the
    // oracle inlines the identical matrix as VALUES
    Query("q_random_projection", (s, dir) =>
      Similarity.randomProject(embeds(s, dir), inDim = 64, outDim = 8),
      Some({
      val signs = for (j <- 0 until 8; i <- 0 until 64)
        yield s"($i, $j, ${Similarity.projSign(i, j)})"
      s"""WITH s(i, j, sgn) AS (VALUES ${signs.mkString(", ")}),
        ex AS (
          SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS i,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS um
          FROM embeddings)
        SELECT ex.vec_id, s.j AS dim, CAST(sum(ex.um * s.sgn) AS BIGINT) AS p_micro
        FROM ex JOIN s ON s.i = ex.i
        GROUP BY 1, 2"""
    })),
    // exact per-language lower median of document length, computed on
    // per-group score histograms (see Stats.groupedMedian)
    Query("q_grouped_median", (s, dir) =>
      Stats.groupedMedian(docs(s, dir).select(col("lang"), col("n_chars")),
        Seq("lang"), "n_chars"),
      // lower median = min score with 2*cum >= n, per group, over the
      // (group, score) histogram — identical arithmetic in DuckDB
      Some("""WITH h AS (
          SELECT lang, CAST(n_chars AS BIGINT) AS score, count(*) AS cnt
          FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        c AS (
          SELECT lang, score,
            sum(cnt) OVER (PARTITION BY lang ORDER BY score ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY lang) AS total
          FROM h)
        SELECT lang, CAST(min(score) AS BIGINT) AS median,
          CAST(min(total) AS BIGINT) AS n_rows
        FROM c WHERE cum * 2 >= total GROUP BY 1""")),
    // semantic mislabel scrub: vectors anti-correlated with their own
    // label centroid (exact micro-unit centroid → float → codegen cosine)
    Query("q_label_outliers", (s, dir) => Stats.labelOutliers(embeds(s, dir)),
      // identical centroid construction (micro-unit sums → round 6 →
      // FLOAT[]) and the same fold-order cosine as the Spark codegen kernel
      Some("""WITH ex AS (
          SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS um
          FROM embeddings),
        c AS (
          SELECT label, dim,
            round(CAST(sum(um) AS DOUBLE) / count(*) / 1000000.0, 6) AS ct
          FROM ex GROUP BY 1, 2),
        ca AS (
          SELECT label, CAST(list(ct ORDER BY dim) AS FLOAT[]) AS cent
          FROM c GROUP BY 1)
        SELECT e.vec_id, e.label,
          round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(ca.cent AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(ca.cent AS DOUBLE[]), CAST(ca.cent AS DOUBLE[])))), 6)
            AS centroid_cos
        FROM embeddings e JOIN ca USING (label)
        WHERE round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(ca.cent AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(ca.cent AS DOUBLE[]), CAST(ca.cent AS DOUBLE[])))), 6) < 0.0""")))
}
