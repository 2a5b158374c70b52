package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics operators built on EXACT fixed-point aggregation:
  * every compared value is either an integer (micro-/cent-quantized
  * before summation, aggregated in DECIMAL(38,0)) or a double derived
  * from those exact integers by an identical expression in both engines —
  * the [[TextAnalysis.unigramSurprise]] determinism discipline, extended
  * to second moments. Floating-point SUMS never happen, so results are
  * partitioning-, order-, and engine-independent.
  */
object Stats {

  /** Heavy hitters over a key column, cross-checked in-plan against
    * Spark's bounded-state frequent-items sketch.
    *
    * The EXACT side is the emitted relation: every key whose occurrence
    * count exceeds total/invSupport — the threshold comparison is
    * `cnt * invSupport > total` in 64-bit integers, so there is no
    * floating-point boundary for engines to disagree on. Two-phase
    * aggregation (map-side combine) + a 1-row broadcast total, the
    * [[TextAnalysis.bm25Rank]] corpus-stats shape: one data shuffle
    * bounded by the distinct-key space, never a global sort.
    *
    * The SKETCH side is `DataFrame.stat.freqItems` (the Karp et al.
    * one-pass majority generalization): per-partition candidate maps of
    * at most invSupport entries, merged associatively — state is bounded
    * by the knob, not the key space, which is what a 100 TB single-pass
    * profile runs. Its guarantee is one-sided — every key with
    * cnt * invSupport > total IS returned (false positives possible,
    * false negatives impossible) — so each emitted exact row carries
    * `covered` = sketch membership, and the guarantee forces TRUE: the
    * oracle-gated envelope (q_heavy_hitters), same pattern as
    * q_approx_bounds / q_quantile_bounds.
    *
    * The driver materializes the sketch set (≤ invSupport strings) — the
    * same bounded, intentional driver-side footprint as the IVF
    * centroids.
    */
  def heavyHitters(
      pairs: DataFrame, keyCol: String, invSupport: Long = 200L): DataFrame = {
    require(invSupport >= 2, "invSupport must be >= 2 (support <= 0.5)")
    val sketch: Seq[String] =
      pairs.stat.freqItems(Seq(keyCol), 1.0 / invSupport.toDouble)
        .head().getSeq[String](0)
    val counts = pairs.groupBy(keyCol).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("__total"))
    val covered =
      if (sketch.isEmpty) lit(false) else col(keyCol).isInCollection(sketch)
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") * lit(invSupport) > col("__total"))
      .select(col(keyCol), col("cnt"), covered.as("covered"))
  }

  /** Per-dimension statistics of an embedding column (`ARRAY<FLOAT>`) —
    * the normalization / whitening precursor every embedding pipeline
    * computes before centering or scaling vectors.
    *
    * Each component is quantized to integer micro-units
    * (round(v * 1e6), the cents discipline) BEFORE aggregation; sums and
    * sums-of-squares aggregate in DECIMAL — exact, so the result is
    * independent of partitioning and engine (a double sum over 1e11
    * floats is neither). The DECIMAL(38,0) output columns are the
    * scale-stable values; `mean` is derived from them by identical
    * double arithmetic in both engines. Inputs quantize at DECIMAL(19,0)
    * so the square stays inside both engines' 38-digit multiply rule.
    *
    * Plan: posexplode (fan-out = dim, a constant per row) → ONE
    * two-phase aggregation on a key space of exactly `dim` groups —
    * map-side combine reduces each task to dim partial rows, so the
    * shuffle is O(partitions × dim) regardless of corpus size.
    */
  def embeddingDimStats(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim"),
        expr("CAST(round(CAST(__v AS DOUBLE) * 1000000) AS DECIMAL(19,0))").as("__u"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        expr("CAST(sum(__u) AS DECIMAL(38,0))").as("sum_micro"),
        expr("CAST(sum(__u * __u) AS DECIMAL(38,0))").as("sumsq_micro"),
        expr("CAST(min(__u) AS BIGINT)").as("min_micro"),
        expr("CAST(max(__u) AS BIGINT)").as("max_micro"))
      .withColumn("mean",
        expr("round(CAST(sum_micro AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)"))

  /** Grouped Pearson correlation from exact fixed-point moments — the
    * feature-correlation profile (does quantity predict price?) computed
    * the way it must be at 100 TB: `corr()` built-ins accumulate doubles
    * in partition order, so two runs of the same query can disagree in
    * the last ulps; here the five moments (Σx, Σy, Σx², Σy², Σxy)
    * aggregate as exact DECIMAL(38,0) integers in ONE two-phase pass,
    * and r is derived from them by an identical double expression in
    * both engines — bit-reproducible, hash-gated (q_grouped_corr).
    *
    * `xCol`/`yCol` must be integer-valued expressions (quantize to cents
    * first — same contract as every `*_cents` column in the suite); they
    * stage at DECIMAL(19,0) so cross-products stay inside the 38-digit
    * multiply rule. One shuffle, bounded by the group-key space.
    */
  def groupedCorrelation(
      df: DataFrame, groupCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    val staged = df.select(
      groupCols.map(col) ++ Seq(
        expr(s"CAST($xCol AS DECIMAL(19,0))").as("__x"),
        expr(s"CAST($yCol AS DECIMAL(19,0))").as("__y")): _*)
    staged.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        expr("CAST(sum(__x) AS DECIMAL(38,0))").as("sum_x"),
        expr("CAST(sum(__y) AS DECIMAL(38,0))").as("sum_y"),
        expr("CAST(sum(__x * __x) AS DECIMAL(38,0))").as("sum_xx"),
        expr("CAST(sum(__y * __y) AS DECIMAL(38,0))").as("sum_yy"),
        expr("CAST(sum(__x * __y) AS DECIMAL(38,0))").as("sum_xy"))
      // identical association order on both engines: each exact DECIMAL
      // casts to the same nearest double, then the same IEEE ops in the
      // same order give the same bits — keep this expression in lockstep
      // with the oracle SQL (q_grouped_corr in graft.queries.StatsQueries)
      .withColumn("corr",
        expr("""round(
            (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
              - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(sum_yy AS DOUBLE)
              - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE)), 6)"""))
  }

  /** Per-label embedding centroids in exact fixed point — the class
    * prototypes a labeled-embedding pipeline derives (SemDeDup cluster
    * seeds, nearest-class-mean classification, per-class drift probes).
    *
    * Same arithmetic contract as [[embeddingDimStats]]: components
    * quantize to integer micro-units before aggregation, sums ride
    * DECIMAL(38,0), and the `centroid` double derives from the exact sum
    * by lockstep arithmetic — partitioning- and engine-independent,
    * hash-gated (q_label_centroids).
    *
    * Plan: posexplode (constant fan-out = dim) → ONE two-phase
    * aggregation on labels × dim groups — map-side combine bounds the
    * shuffle at O(partitions × labels × dim) regardless of corpus size.
    */
  def labelCentroids(
      emb: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col(labelCol), col("dim"),
        expr("CAST(round(CAST(__v AS DOUBLE) * 1000000) AS DECIMAL(19,0))").as("__u"))
      .groupBy(labelCol, "dim")
      .agg(
        count(lit(1)).as("n"),
        expr("CAST(sum(__u) AS DECIMAL(38,0))").as("sum_micro"))
      .withColumn("centroid",
        expr("round(CAST(sum_micro AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)"))

  /** Count-Min-Sketch accuracy envelope — completes the mergeable-sketch
    * family (HLL distinct counts, Greenwald-Khanna quantiles, freqItems
    * majorities): a CMS is the fixed-size, mergeable frequency profile a
    * single-pass 100 TB stream keeps when even the distinct key space is
    * too large to count exactly. Raw estimates are engine-specific, so —
    * the q_approx_bounds/q_quantile_bounds discipline — what crosses the
    * hash gate is the EXACT heavy-hitter counts plus a boolean asserting
    * each estimate sits inside the CMS one-sided guarantee
    * (`cnt ≤ est ≤ cnt + ⌈eps·N⌉`, overestimates only — a hash sketch
    * never undercounts).
    *
    * The ≤ invSupport hitter rows materialize on the driver to probe the
    * sketch — the same bounded contract as [[heavyHitters]]' freqItems
    * set; the sketch itself builds distributed (one treeAggregate-style
    * merge of fixed-size tables).
    */
  def cmsBounds(
      pairs: DataFrame, keyCol: String, invSupport: Long = 60L,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Build the sketch over the key pre-cast to STRING so the insert
    // type matches the string probe below: CountMinSketch hashes a
    // String's UTF-8 bytes but a numeric column through the long path,
    // and a type mismatch would silently void the one-sided guarantee.
    val cms = pairs.select(col(keyCol).cast("string").as(keyCol))
      .stat.countMinSketch(keyCol, eps, confidence, seed)
    val counts = pairs.groupBy(keyCol).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(coalesce(sum(col("cnt")), lit(0L)).as("__total"))
    val hitters = counts.crossJoin(broadcast(total))
      .filter(col("cnt") * lit(invSupport) > col("__total"))
      .select(col(keyCol).cast("string"), col("cnt"), col("__total"))
      .collect() // bounded: ≤ invSupport rows by the support arithmetic
    val rows: Seq[(String, Long, Boolean)] = hitters.toSeq.map { r =>
      val k = r.getString(0); val cnt = r.getLong(1); val tot = r.getLong(2)
      val est = cms.estimateCount(k)
      (k, cnt, est >= cnt && est <= cnt + math.ceil(eps * tot).toLong)
    }
    rows.toDF(keyCol, "cnt", "cms_within")
  }

  /** Semantic mislabel scrub: flag vectors whose cosine to their OWN
    * label's centroid falls below `minCos` — the embedding-space
    * cleaning pass a labeled training set runs before fine-tuning (a
    * vector anti-correlated with its class center is a labeling bug or
    * an out-of-distribution sample). Default threshold 0: "flag what
    * points AWAY from its own class".
    *
    * The centroid comes from [[labelCentroids]]' exact micro-unit sums
    * (partitioning-independent), rounded to 6 decimals and narrowed to
    * FLOAT — both engines build the identical array, so the cosine
    * (codegen [[graft.functions]] vec_cosine; same left-to-right fold
    * as DuckDB's list_dot_product) crosses the hash gate exactly.
    *
    * Plan: the centroid relation is labels × dim — broadcast-joined to
    * the corpus, which is scanned ONCE and never shuffled; the only
    * exchanges aggregate labels × dim partial rows. Self-inclusion is
    * the standard convention (the vector contributes to its own
    * centroid; at class sizes ≥ ~10 the self-term moves the cosine
    * less than the quantization).
    */
  def labelOutliers(
      emb: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding", idCol: String = "vec_id",
      minCos: Double = 0.0): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val cents = labelCentroids(emb, labelCol, vecCol)
      .groupBy(labelCol)
      .agg(sort_array(collect_list(struct(col("dim"), col("centroid"))))
        .as("__o"))
      .select(col(labelCol),
        expr("CAST(transform(__o, x -> x.centroid) AS ARRAY<FLOAT>)")
          .as("__cent"))
    emb.join(broadcast(cents), labelCol)
      .withColumn("centroid_cos",
        expr(s"round(vec_cosine(`$vecCol`, `__cent`), 6)"))
      .filter(col("centroid_cos") < minCos)
      .select(col(idCol), col(labelCol), col("centroid_cos"))
  }

  /** Categorical distribution drift between two corpus slices — the
    * 2×K chi-square contingency decomposition a curation pipeline runs
    * to detect mix shift between snapshots (did the `source`/`lang`
    * distribution move between last month's crawl and this one?).
    *
    * Emits one row per key with the exact integer counts on both sides
    * and that key's chi-square contribution
    * `(n_a - e_a)²/e_a + (n_b - e_b)²/e_b` — the expected counts derive
    * from the exact integer marginals by an identical double expression
    * in both engines (the [[groupedCorrelation]] lockstep discipline),
    * so the statistic is bit-reproducible and hash-gated (q_drift).
    * Σ chi2_term over the output is the 2×K chi-square statistic with
    * K−1 degrees of freedom.
    *
    * Plan: one two-phase count per slice (map-side combined, key-space
    * bounded), a full-outer key join (zero-fill for keys absent on one
    * side), and the four totals as a 1-row broadcast — no windows, no
    * global sort, nothing driver-side.
    */
  def categoricalDrift(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val ca = a.groupBy(keyCol).agg(count(lit(1)).as("n_a"))
    val cb = b.groupBy(keyCol).agg(count(lit(1)).as("n_b"))
    val joined = ca.join(cb, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = joined.agg(
      sum("n_a").as("__tot_a"), sum("n_b").as("__tot_b"))
    joined.crossJoin(broadcast(totals))
      // lockstep with the oracle SQL (q_drift in graft.queries.StatsQueries):
      // same casts, same association order, same rounding
      .withColumn("chi2_term", expr("""round(
          pow(CAST(n_a AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
            * CAST(__tot_a AS DOUBLE)
            / CAST(__tot_a + __tot_b AS DOUBLE)), 2)
          / (CAST(n_a + n_b AS DOUBLE) * CAST(__tot_a AS DOUBLE)
            / CAST(__tot_a + __tot_b AS DOUBLE))
          + pow(CAST(n_b AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
            * CAST(__tot_b AS DOUBLE)
            / CAST(__tot_a + __tot_b AS DOUBLE)), 2)
          / (CAST(n_a + n_b AS DOUBLE) * CAST(__tot_b AS DOUBLE)
            / CAST(__tot_a + __tot_b AS DOUBLE)), 6)"""))
      .select(col(keyCol), col("n_a"), col("n_b"), col("chi2_term"))
  }

  /** Numeric distribution drift between two corpus slices — the
    * PSI-report shape (equi-depth bins from the BASELINE, per-bin counts
    * on both sides) with [[categoricalDrift]]'s chi-square statistic per
    * bin instead of PSI's `ln` term: the chi-square decomposition is
    * rational in the exact integer counts, so it hash-gates
    * engine-to-engine, where `ln`'s last-ulp behavior does not (the BM25
    * rational-idf lesson). Answers "did document length / quality-score
    * distribution move between snapshots?" for any quantized-integer
    * score.
    *
    * Bin edges come from the baseline's score HISTOGRAM exactly as
    * [[quantileBins]] derives them (cumBefore arithmetic — no corpus
    * ntile window); the ≤ bins−1 edge values collapse to a ONE-ROW
    * sorted array that broadcasts to both slices, and every row's bin is
    * `size(filter(edges, e -> score >= e))` — a per-row projection over
    * a constant-size array, covering current-slice scores the baseline
    * never saw (below-min → bin 0, above-max → top bin). Empty baseline
    * bins (a mega-tie can jump the cumulative count past several bin
    * boundaries) simply produce fewer edges — bin ids stay contiguous
    * and IDENTICAL on both sides, which is all the chi-square needs.
    * Baseline must be non-empty (no bins can be derived from nothing).
    *
    * Plan: one two-phase histogram on the baseline, a bounded
    * histogram-side window (the [[topFraction]] discipline), two
    * broadcast-assign projections, then [[categoricalDrift]]'s
    * key-space-bounded join — the corpus is never sorted or windowed.
    */
  def numericDrift(
      a: DataFrame, b: DataFrame, scoreExpr: String, bins: Int): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    def scored(df: DataFrame) = df
      .withColumn("__score", expr(s"CAST($scoreExpr AS BIGINT)"))
      .filter(col("__score").isNotNull)
    val sa = scored(a)
    val hist = sa.groupBy("__score").agg(count(lit(1)).as("__cnt"))
    val w = Window.orderBy(col("__score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val edges = hist
      .withColumn("__cumb", coalesce(sum("__cnt").over(w), lit(0L)))
      .crossJoin(broadcast(hist.agg(sum("__cnt").as("__n"))))
      .selectExpr("__score",
        s"least(${bins - 1}L, CAST($bins * __cumb AS BIGINT) DIV __n) AS __bin")
      .filter(col("__bin") >= 1)
      .groupBy("__bin").agg(min("__score").as("__edge"))
      .agg(sort_array(collect_list("__edge")).as("__edges"))
    def assign(s: DataFrame) = s.crossJoin(broadcast(edges))
      .selectExpr(
        "CAST(size(filter(__edges, e -> __score >= e)) AS INT) AS bin")
    categoricalDrift(assign(sa), assign(scored(b)), "bin")
  }

  /** Keep the top `frac` fraction of rows by an integer score, ties
    * included — quality-threshold filtering ("keep the best 20% by
    * quality score") computed WITHOUT a global sort.
    *
    * The cutoff is selected on the score HISTOGRAM: group by score
    * (two-phase, key space = distinct scores — bounded by the
    * integer-score contract, the same quantize-first discipline as every
    * `*_cents` column), take the running count from the top, and the
    * cutoff is the highest score whose cumulative count reaches
    * `ceil(frac · n)`. Every row with score ≥ cutoff is kept — ties at
    * the cutoff are all kept, so the result is a deterministic SET (no
    * arbitrary tie-break), and `kept ≥ ceil(frac · n)` with the minimal
    * such threshold. Exact integer comparisons only ⇒ hash-gated
    * (q_top_fraction).
    *
    * Plan: histogram aggregation (map-side combined) → a running-sum
    * window over the DISTINCT-score relation only (partition-less, but
    * its input is the bounded histogram, never the corpus — the one
    * place a partition-less window is safe at 100 TB) → 1-row cutoff
    * broadcast → scan-parallel filter. The corpus itself is never
    * sorted, shuffled, or windowed.
    */
  def topFraction(
      df: DataFrame, scoreExpr: String, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val scored = df.withColumn("__score", expr(s"CAST($scoreExpr AS BIGINT)"))
    val hist = scored.groupBy("__score").agg(count(lit(1)).as("__cnt"))
    val w = Window.orderBy(col("__score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cutoff = hist
      .withColumn("__cum", sum("__cnt").over(w))
      .crossJoin(broadcast(hist.agg(sum("__cnt").as("__n"))))
      .filter(expr(s"__cum >= CAST(ceil($frac * CAST(__n AS DOUBLE)) AS BIGINT)"))
      .agg(max("__score").as("__cutoff"))
    scored.crossJoin(broadcast(cutoff))
      .filter(col("__score") >= col("__cutoff"))
      .drop("__cutoff")
  }

  /** Equi-depth quantile binning ("assign every document its quality
    * decile") WITHOUT a corpus ntile window. `ntile(B) OVER (ORDER BY
    * score)` globally sorts the corpus into ONE task's window — the
    * partition-less-window failure mode at 100 TB. Instead the bin
    * boundary computation runs entirely on the score HISTOGRAM
    * (two-phase agg; key space bounded by the integer-score contract —
    * the [[topFraction]] premise) and the corpus only sees a broadcast
    * join:
    *
    *   bin(score) = min(B-1, floor(B · cumBefore(score) / n))
    *
    * where `cumBefore` counts strictly-smaller scores — so ties share a
    * bin (a deterministic SET, unlike ntile's arbitrary tie split, which
    * is what makes the result hash-gateable, q_quality_bins), bins are
    * equi-depth up to tie granularity, and the arithmetic is exact
    * BIGINT (B·cumBefore ≤ B·n, nowhere near overflow). The score→bin
    * map broadcasts back at histogram size; the corpus is never sorted,
    * shuffled, or windowed. Null-score rows are dropped (engines
    * disagree on null ordering; a null quality score has no decile).
    */
  def quantileBins(
      df: DataFrame, scoreExpr: String, bins: Int): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val scored = df.withColumn("__score", expr(s"CAST($scoreExpr AS BIGINT)"))
      .filter(col("__score").isNotNull)
    val hist = scored.groupBy("__score").agg(count(lit(1)).as("__cnt"))
    val w = Window.orderBy(col("__score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val binMap = hist
      .withColumn("__cumb", coalesce(sum("__cnt").over(w), lit(0L)))
      .crossJoin(broadcast(hist.agg(sum("__cnt").as("__n"))))
      .selectExpr("__score",
        s"CAST(least(${bins - 1}L, CAST($bins * __cumb AS BIGINT) DIV __n) AS INT) AS bin")
    scored.join(broadcast(binMap), "__score").drop("__score")
  }

  /** Exact per-group lower median of an integer score — "median document
    * length per language" — computed on per-group score HISTOGRAMS, not
    * per-group row windows. `percentile(0.5)`-style built-ins buffer a
    * group's rows in one task (corpus-scale for a head group); here the
    * only window runs over the (group, distinct-score) relation, whose
    * per-group partition is bounded by the integer-score contract, and
    * the corpus itself sees exactly one two-phase aggregation.
    *
    * Lower median (smallest score with 2·cum ≥ n): a DETERMINISTIC
    * integer — no midpoint averaging, no interpolation — so the result
    * hash-gates engine-to-engine (q_grouped_median). Emits
    * `(groupCols*, median, n_rows)`; null scores drop. Both window
    * specs share one group-key exchange (same partitioning), and the
    * final min-aggregation reuses it.
    */
  def groupedMedian(
      df: DataFrame, groupCols: Seq[String], scoreExpr: String): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    val g = groupCols.map(col)
    val hist = df.withColumn("__score", expr(s"CAST($scoreExpr AS BIGINT)"))
      .filter(col("__score").isNotNull)
      .groupBy(g :+ col("__score"): _*).agg(count(lit(1)).as("__cnt"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("__score").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(g: _*)
    hist
      .withColumn("__cum", sum("__cnt").over(wCum))
      .withColumn("__total", sum("__cnt").over(wTot))
      .filter(col("__cum") * 2 >= col("__total"))
      .groupBy(g: _*)
      .agg(min("__score").as("median"), min("__total").as("n_rows"))
  }

  /** Robust per-group outlier cut — median/MAD, the estimator that
    * survives the contamination it is hunting (mean/stddev z-scores move
    * WITH the outliers; the median and the median absolute deviation
    * have a 50% breakdown point). Flags every row whose integer score
    * deviates from its group's lower median by more than `k` times the
    * group's MAD — all comparisons exact integers, so the flagged SET is
    * deterministic and hash-gated (q_mad_outliers).
    *
    * Composed from TWO [[groupedMedian]] passes (score, then absolute
    * deviation) — each histogram-side only, no corpus windows — with the
    * group-cardinality median/MAD relations attached as broadcast joins.
    * Degenerate groups (≥ half the rows at one value ⇒ MAD = 0) flag
    * every nonzero deviation — the textbook MAD caveat; callers wanting
    * slack there should floor the MAD or raise `k`.
    */
  def madOutliers(
      df: DataFrame, groupCols: Seq[String], scoreExpr: String,
      idCol: String, k: Long = 5L): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column required")
    require(k >= 1, "k must be >= 1")
    val g = groupCols.map(col)
    val scored = df
      .withColumn("__score", expr(s"CAST($scoreExpr AS BIGINT)"))
      .filter(col("__score").isNotNull)
      .select(g :+ col(idCol) :+ col("__score"): _*)
    val med = groupedMedian(scored, groupCols, "__score")
      .select(g :+ col("median").as("__med"): _*)
    val dev = scored.join(broadcast(med), groupCols)
      .withColumn("__dev", abs(col("__score") - col("__med")))
    val mad = groupedMedian(dev, groupCols, "__dev")
      .select(g :+ col("median").as("__mad"): _*)
    dev.join(broadcast(mad), groupCols)
      .filter(col("__dev") > lit(k) * col("__mad"))
      .select(g ++ Seq(col(idCol), col("__score").as("score"),
        col("__dev").as("abs_dev"), col("__mad").as("mad")): _*)
  }

  /** Single-scan column profile — the ANALYZE-style statistics report
    * (row count, null count, distinct count, min/max) for `cols` of one
    * relation, emitted one row per column. The naive form (one
    * `SELECT count(DISTINCT c), min(c), max(c)` per column) scans the
    * table once PER COLUMN; this emits every statistic from ONE
    * aggregation over one scan, then pivots the 1-row wide result to
    * long form with `stack` — a driver-free constant-size projection.
    *
    * `exact = true` (the oracle-gated baseline) uses `count(DISTINCT)`:
    * Spark plans multi-distinct aggregates via Expand, duplicating scan
    * rows ×|cols| before the exchange — correct but the wrong trade at
    * 100 TB. `exact = false` is the scale path: `approx_count_distinct`
    * (HLL++, rsd 0.05 default) keeps ONE pass with no Expand and
    * constant sketch state per column; everything else stays exact.
    * ProfileSpec gates the approx mode's ndv within rsd bounds of the
    * exact mode on the fixture (the q_approx_bounds discipline).
    *
    * min/max cross engines as strings (`CAST AS VARCHAR`): restrict
    * `cols` to integer/string columns for hash-gated use — double and
    * timestamp render formats are engine-specific (the q_part_decimal
    * render lesson).
    */
  def profile(
      df: DataFrame, cols: Seq[String], relation: String,
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = cols.map(c =>
      s"'$c', __nn_$c, __nd_$c, __min_$c, __max_$c").mkString(", ")
    wide.selectExpr(
      s"'$relation' AS relation",
      s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, n_non_null, n_distinct, min_str, max_str)",
      "__n AS n_rows")
      .select(col("relation"), col("column_name"), col("n_rows"),
        (col("n_rows") - col("n_non_null")).as("n_nulls"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }
}
