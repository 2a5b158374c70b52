package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR) — the Xie et al. 2023
  * shape (arXiv:2302.03169): score every raw document by how much more
  * likely its hashed n-gram bag is under a TARGET corpus model than under
  * the RAW corpus model, then sample a fixed budget of documents by
  * Gumbel-perturbed log-weights. This is the standard public technique
  * for steering a 100 TB crawl toward a high-quality target distribution.
  * No reference counterpart — a training-data extension (SURVEY §2.11)
  * like the rest of this package.
  *
  * Model: hashed n-gram multinomials. Features are whitespace unigrams +
  * space-joined bigrams hashed into `buckets` slots (xxhash64, seed 42 —
  * the engine-wide token hash with a proven DuckDB HUGEINT mirror). With
  * add-λ smoothing the per-bucket log-ratio is
  *
  *   lw(b) = ln(ct_b + λ) − ln(Nt + λB) − ln(cr_b + λ) + ln(Nr + λB)
  *
  * and a document's log importance weight is Σ_b n_db · lw(b) — the exact
  * log of the DSIR importance ratio Π (pt/pr)^n.
  *
  * Determinism discipline ([[TextAnalysis.unigramSurprise]]): `ln` differs
  * in the last ulp across libm implementations, so each bucket's lw is
  * quantized to integer micro-units (round(1e6·lw) as DECIMAL(38,0))
  * BEFORE any per-document sum — the noisy operation runs once per BUCKET
  * (B ≈ 4k rows), and every per-document aggregate is exact fixed-point
  * arithmetic, independent of engine, partitioning, and order. Only the
  * final emitted weight is one IEEE division (micro / 1e6), bit-identical
  * everywhere. DECIMAL(38,0) (not BIGINT) because a long-document sum of
  * n·1e6-scale micros overflows int64 well inside the 100 TB posture.
  *
  * Plan shape (scale posture): ONE (doc, bucket) count aggregation whose
  * exchange is consumed twice (model fit groups it by bucket; scoring
  * groups it by doc — the [[TextAnalysis.joinTokenTotals]] reuse
  * discipline); the fitted model is B rows and BROADCASTS onto the count
  * relation, so scoring adds no shuffle beyond the counts themselves.
  * Bucket counts are bounded by B regardless of corpus size — the model
  * never skews, never spills, and the fit cost is a skinny B-row
  * aggregate at any scale.
  */
object Selection {

  /** Unigram + bigram grams of a staged token-array column. Bigrams are
    * space-joined so they hash through the same token pipeline; the
    * token array MUST be a staged column reference (a transform lambda
    * re-evaluates free sub-expressions per element — the measured-4×
    * decontamination lesson).
    */
  private def gramsExpr(toksCol: String): String =
    s"""concat($toksCol,
       |  CASE WHEN size($toksCol) >= 2
       |    THEN transform(sequence(1, size($toksCol) - 1),
       |      i -> concat(element_at($toksCol, i), ' ',
       |                  element_at($toksCol, i + 1)))
       |    ELSE CAST(array() AS ARRAY<STRING>) END)""".stripMargin

  /** (doc_id, __bucket, __n, __tgt) hashed-gram counts, one row per
    * document × touched bucket. `buckets` must be a power of two:
    * `signed & (B−1)` equals the unsigned `hash mod B` DuckDB computes
    * in HUGEINT — any other modulus splits the two engines on negative
    * longs.
    *
    * NULL-id rows are excluded HERE, not downstream, for two reasons:
    * the oracle's equality joins drop them from the model anyway (NULL
    * never matches), and — load-bearing for the plan — the final
    * left-outer restore join pushes IsNotNull(id) into its build side
    * only; pre-filtering makes the scoring and model-fit subtrees
    * canonically identical, so the expensive gram-explode count exchange
    * plans ONCE and the second consumer is a ReusedExchange
    * (plan-pinned). Without it the corpus is scanned and exploded twice.
    */
  private def bucketCounts(
      docs: DataFrame, textCol: String, idCol: String,
      targetExpr: Column, buckets: Int): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol), targetExpr.as("__tgt"),
        expr(s"coalesce(${TextAnalysis.tokensExpr(textCol)}, " +
          "CAST(array() AS ARRAY<STRING>))").as("__toks"))
      .select(col(idCol), col("__tgt"),
        explode(expr(gramsExpr("__toks"))).as("__gram"))
      .withColumn("__bucket", expr(s"xxhash64(__gram) & ${buckets - 1}"))
      .groupBy(col(idCol), col("__tgt"), col("__bucket"))
      .agg(count(lit(1)).as("__n"))
  }

  /** (doc_id, n_grams, __score_micro) for every document (zero-gram
    * documents kept with score 0 — the empty product has weight 1).
    */
  private def weightsMicro(
      docs: DataFrame, textCol: String, idCol: String,
      targetExpr: Column, buckets: Int, lambda: Double): DataFrame = {
    val counts = bucketCounts(docs, textCol, idCol, targetExpr, buckets)
    val model = counts.groupBy("__bucket").agg(
      sum(when(col("__tgt"), col("__n")).otherwise(lit(0L))).as("__ct"),
      sum(col("__n")).as("__cr"))
    val totals = model.agg(
      sum("__ct").as("__nt"), sum("__cr").as("__nr"))
    // per-BUCKET micro quantization — the only ln in the operator
    val lw = model.crossJoin(broadcast(totals)).select(
      col("__bucket"),
      expr(s"""CAST(round(1e6 * (ln(__ct + $lambda) - ln(__cr + $lambda)
              | + ln(__nr + $lambda * $buckets)
              | - ln(__nt + $lambda * $buckets))) AS DECIMAL(38,0))"""
        .stripMargin).as("__lw_micro"))
    val scored = counts
      .join(broadcast(lw), Seq("__bucket"))
      .groupBy(col(idCol))
      .agg(
        sum("__n").as("n_grams"),
        sum(expr("CAST(__n AS DECIMAL(38,0)) * __lw_micro"))
          .as("__score_micro"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left").select(
      col(idCol),
      coalesce(col("n_grams"), lit(0L)).as("n_grams"),
      coalesce(col("__score_micro"), lit(0).cast("decimal(38,0)"))
        .as("__score_micro"))
  }

  /** Per-document DSIR log importance weights:
    * (idCol, n_grams, log_weight). `targetExpr` marks the target-domain
    * rows the model should steer toward (both models fit in the same
    * pass); `log_weight` is ln Π (pt/pr)^n in 1e-6 units, exact
    * fixed-point until the single emitting division.
    */
  def dsirWeights(
      docs: DataFrame, targetExpr: Column,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 4096, lambda: Double = 1.0): DataFrame =
    weightsMicro(docs, textCol, idCol, targetExpr, buckets, lambda)
      .select(col(idCol), col("n_grams"),
        expr("CAST(__score_micro AS DOUBLE) / 1e6").as("log_weight"))

  /** Multinomial Naive-Bayes quality classifier — the fastText/CCNet
    * companion of [[dsirWeights]]: fit target-vs-REST class-conditional
    * hashed-gram multinomials plus a document-count prior, score every
    * document with its log-odds, and emit the classification. Where DSIR
    * reweights against the RAW corpus (pt/pr), NB discriminates against
    * the COMPLEMENT class — the standard trained quality filter
    * (high-quality seed = target, random crawl = rest).
    *
    * Per-bucket log-likelihood ratio, add-λ smoothed over B buckets:
    *
    *   llr(b) = ln(ct_b + λ) − ln(Nt + λB) − ln(cf_b + λ) + ln(Nf + λB)
    *
    * and a document's log-odds = prior + Σ_b n_db · llr(b) with
    * prior = ln(nd_t + 1) − ln(nd_f + 1), the class document counts over
    * the whole corpus (add-1 so an empty class stays finite; a zero-gram
    * document carries no evidence and is scored by the prior alone).
    * Exact-integer NB: counts are exact, so the fit is ONE aggregation —
    * no SGD, nothing iterative — which is what makes the classifier
    * hash-gateable cross-engine, unlike a trained fastText.
    *
    * Same determinism discipline as the DSIR model: every ln runs once
    * per BUCKET (or once, for the prior) and is micro-quantized to
    * DECIMAL(38,0) before any per-document sum; the emitted log_odds is
    * one IEEE division and `pred_target` compares the exact integer
    * against zero — bit-identical across engines and partitionings.
    *
    * Plan shape: the SAME one (doc, bucket) count exchange as DSIR,
    * consumed by the bucket-level fit AND the per-doc scoring
    * (ReusedExchange, plan-pinned); the doc-count prior is a separate
    * column-pruned (id, target) scan — deliberately NOT derived from the
    * count relation, where a distinct-doc rewrite de-canonicalizes the
    * shared subtree and re-explodes the corpus (the DSIR restore-join
    * lesson). The B-row model and 1-row prior broadcast. At 100 TB the
    * fit cost is the gram explode — the scan the pipeline already pays
    * for DSIR — plus skinny bounded aggregates.
    */
  def nbQuality(
      docs: DataFrame, targetExpr: Column,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 4096, lambda: Double = 1.0): DataFrame = {
    val counts = bucketCounts(docs, textCol, idCol, targetExpr, buckets)
    val model = counts.groupBy("__bucket").agg(
      sum(when(col("__tgt"), col("__n")).otherwise(lit(0L))).as("__ct"),
      sum(when(!col("__tgt"), col("__n")).otherwise(lit(0L))).as("__cf"))
    val totals = model.agg(sum("__ct").as("__nt"), sum("__cf").as("__nf"))
    val prior = docs.filter(col(idCol).isNotNull).agg(
        sum(when(targetExpr, lit(1L)).otherwise(lit(0L))).as("__td"),
        sum(when(!targetExpr, lit(1L)).otherwise(lit(0L))).as("__fd"))
      .select(expr(
        """CAST(round(1e6 * (ln(__td + CAST(1 AS DOUBLE))
          | - ln(__fd + CAST(1 AS DOUBLE)))) AS DECIMAL(38,0))"""
          .stripMargin).as("__pm"))
    val llr = model.crossJoin(broadcast(totals)).select(
      col("__bucket"),
      expr(s"""CAST(round(1e6 * (ln(__ct + $lambda) - ln(__nt + $lambda * $buckets)
              | - ln(__cf + $lambda) + ln(__nf + $lambda * $buckets)))
              | AS DECIMAL(38,0))""".stripMargin).as("__llr_micro"))
    val scored = counts
      .join(broadcast(llr), Seq("__bucket"))
      .groupBy(col(idCol))
      .agg(
        sum("__n").as("n_grams"),
        sum(expr("CAST(__n AS DECIMAL(38,0)) * __llr_micro")).as("__sm"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .crossJoin(broadcast(prior))
      .withColumn("__odds_micro",
        coalesce(col("__sm"), lit(0).cast("decimal(38,0)")) + col("__pm"))
      .select(
        col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        expr("CAST(__odds_micro AS DOUBLE) / 1e6").as("log_odds"),
        (col("__odds_micro") > 0).as("pred_target"))
  }

  /** Gumbel top-k DSIR sample: the k documents with the largest
    * log_weight + Gumbel(0,1) key — sampling WITHOUT replacement
    * proportional to the importance weights (the Gumbel-max trick, as in
    * the DSIR paper's resampling step). The uniform is the engine-wide
    * deterministic md5-bucket arithmetic ([[TextAnalysis.assignSplit]]),
    * u = (bucket16 + 0.5) / 65536 from md5(id) — reproducible across
    * engines, runs, and partitionings, unlike seeded RNG — and the
    * Gumbel −ln(−ln u) is micro-quantized per ROW the same way the model
    * quantizes per bucket. Fixed k is the true DSIR contract (select a
    * token budget), so the global top-k runs as TakeOrderedAndProject —
    * per-partition heaps + a k-row driver merge, never a global sort
    * (the BM25 discipline).
    *
    * Returns (idCol, key) ordered nowhere in particular; `key` is the
    * perturbed log-weight in 1e-6 units, divided once for emission.
    */
  /** Token-budget selection — the "budget the training run" cut: keep
    * documents in GLOBAL (score DESC, md5 tie ASC) order while the
    * running token total stays within `budget`; a document is kept iff
    * its INCLUSIVE prefix-sum of `tokenCol` in that total order is
    * ≤ `budget`. The md5 tie makes the order strict and total, so the
    * kept SET (and each row's emitted `cum_tokens`) is a pure function
    * of the data — independent of partitioning, engine, and corpus
    * layout, hence hash-gateable.
    *
    * Scale posture: the naive formulation is
    * `sum(tokens) OVER (ORDER BY score)` — ONE unpartitioned window
    * task holding the entire corpus, the exact shape this codebase
    * bans everywhere else. Here it is the classic distributed prefix
    * sum instead: range-repartition on the sort key (one linear
    * shuffle), pass 1 reduces each partition to a single token total
    * (≤ shuffle-partition-count rows to the driver — the bounded
    * `Stats.scala` collect class), pass 2 streams each partition once
    * with its exclusive offset, emitting until the budget is crossed
    * (partitions whose offset already exceeds the budget are skipped
    * without decoding a row). The sorted relation is persisted across
    * the two passes and the RESULT is eagerly pinned before unpersist —
    * recomputing a range shuffle may re-sample boundaries, and the
    * offsets are only valid for the partitioning pass 1 measured (the
    * q_self_theta determinism lesson).
    *
    * `checkpointDir` picks the pinning mechanism (the [[Dedup.components]]
    * knob): None (default) uses `localCheckpoint` — executor block
    * storage with NO lineage fallback, right locally, but on a real
    * cluster one executor loss after the checkpoint kills the job —
    * while Some(dir) writes a RELIABLE checkpoint (`setCheckpointDir` +
    * `checkpoint()`, dir should be HDFS/S3), the 100 TB posture.
    * Identical result either way.
    *
    * `tokenCol` must be non-negative (prefix monotonicity is what lets
    * a partition stop at the first over-budget row).
    */
  def tokenBudgetSelect(
      docs: DataFrame, scoreCol: String, tokenCol: String, budget: Long,
      idCol: String = "doc_id", checkpointDir: Option[String] = None): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val cached = Materialize.cache(docs.select(
        col(idCol).cast("long").as("doc_id"),
        col(scoreCol).cast("long").as("score"),
        col(tokenCol).cast("long").as("n_tokens"),
        md5(concat(lit("tb"), col(idCol).cast("string"))).as("__tie"))
      .repartitionByRange(parts, col("score").desc, col("__tie").asc)
      .sortWithinPartitions(col("score").desc, col("__tie").asc))
    try {
      val keyed = cached.as[(Long, Long, Long, String)]
      val sums = keyed.mapPartitions { it =>
        var s = 0L; it.foreach(s += _._3)
        Iterator.single((org.apache.spark.TaskContext.getPartitionId(), s))
      }.collect().toMap
      // exclusive prefix offset per range partition, in partition order
      // (range partition ids ARE the global order)
      val offsets = Array.tabulate(parts)(i => sums.getOrElse(i, 0L))
        .scanLeft(0L)(_ + _)
      val kept = keyed.mapPartitions { it =>
        var cum = offsets(org.apache.spark.TaskContext.getPartitionId())
        if (cum > budget) Iterator.empty
        else it.map { case (id, s, t, _) => cum += t; (id, s, t, cum) }
          .takeWhile(_._4 <= budget) // cum is monotone (tokens >= 0)
      }.toDF("doc_id", "score", "n_tokens", "cum_tokens")
      Materialize.pin(kept, eager = true, reliableDir = checkpointDir)
    } finally Materialize.release(cached)
  }

  def dsirSample(
      docs: DataFrame, targetExpr: Column, k: Int,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 4096, lambda: Double = 1.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    weightsMicro(docs, textCol, idCol, targetExpr, buckets, lambda)
      .withColumn("__h", md5(col(idCol).cast("string")))
      // the uniform MUST be an all-DOUBLE computation: Spark parses the
      // bare literals 0.5 / 65536.0 as DECIMALs, and decimal division
      // carries scale 8 here — a 5e-9 perturbation of u that moves the
      // Gumbel by whole micro-units vs the oracle's double arithmetic
      .withColumn("__g_micro", expr(
        s"""CAST(round(1e6 * -ln(-ln((${TextAnalysis.md5Bucket16Expr}
           | + CAST(0.5 AS DOUBLE)) / CAST(65536 AS DOUBLE))))
           | AS DECIMAL(38,0))""".stripMargin))
      .withColumn("__key_micro", col("__score_micro") + col("__g_micro"))
      .orderBy(col("__key_micro").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol),
        expr("CAST(__key_micro AS DOUBLE) / 1e6").as("key"))
  }
}
