package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The standard pre-training corpus cleaning recipe, composed from the
  * individual operators' expressions: exact dedup → surface-quality floor
  * → language filter. FUSED into one projection wave — every feature is
  * per-row over the same rows, so the r1 form (five scans of the corpus
  * joined back on doc_id) paid four joins for nothing. Dup-group stats
  * come from `Dedup.withDupStats` (skew-immune two-phase aggregation +
  * frequency-routed rejoin), not a hash window — a boilerplate page with
  * millions of copies must not become one window task's partition.
  *
  * Near-dup removal (MinHash) intentionally stays a separate pass: its
  * candidate verification is a different shuffle shape and is usually run
  * at a different cadence than the cheap exact/quality/lang pass.
  */
object CorpusPipeline {

  /** Cleaned corpus: canonical (first-id) representatives of exact-dup
    * groups that clear the quality floor, with a recognized language.
    */
  def clean(
      docs: DataFrame, textCol: String = "text",
      minQuality: Double = 0.3, minTokens: Int = 8,
      keepLangs: Seq[String] = TextAnalysis.defaultKeepLangs,
      headMinDupes: Long = 100000L): DataFrame = {
    val featured = TextAnalysis.withLangPred(docs, textCol)
      .withColumn("quality", TextAnalysis.qualityExpr(textCol))
      .withColumn("n_tokens", expr(s"size(${TextAnalysis.tokensExpr(textCol)})"))
      .withColumn("__h", Dedup.dupHash(textCol))
    Dedup.withDupStats(featured, headMinDupes)
      .filter(col("doc_id") === col("canonical_id") &&
        col("quality") >= minQuality &&
        col("n_tokens") >= minTokens &&
        col("lang_pred").isin(keepLangs: _*))
      .select("doc_id", "lang_pred", "quality", "n_tokens", "dup_count")
  }

  /** NEAR-duplicate-aware cleaning: the production recipe where a document
    * survives only if it is the canonical (minimum-id) member of its
    * near-duplicate COMPONENT — the transitive closure over MinHash-LSH
    * pairs — and clears the same quality/token/language floors as
    * [[clean]]. Exact duplicates are subsumed: identical text has Jaccard
    * 1, so exact-dup groups are inside the components.
    *
    * Shape: one fused per-row projection wave for the filters (no joins
    * between feature passes), plus the components label join. MinHash
    * bounds candidate fan-out, so the whole recipe stays shuffle-on-key
    * at any corpus size.
    */
  def cleanNearDup(
      docs: DataFrame, textCol: String = "text",
      minQuality: Double = 0.3, minTokens: Int = 8,
      keepLangs: Seq[String] = TextAnalysis.defaultKeepLangs,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val comps = Dedup.components(
      docs.select(col("doc_id").as("id")),
      Dedup.minhashPairs(docs, textCol, threshold = jaccardThreshold)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
      .withColumnRenamed("id", "doc_id")
    TextAnalysis.withLangPred(docs, textCol)
      .withColumn("quality", TextAnalysis.qualityExpr(textCol))
      .withColumn("n_tokens", expr(s"size(${TextAnalysis.tokensExpr(textCol)})"))
      .join(comps, "doc_id")
      .filter(col("doc_id") === col("component_id") &&
        col("quality") >= minQuality &&
        col("n_tokens") >= minTokens &&
        col("lang_pred").isin(keepLangs: _*))
      .select("doc_id", "lang_pred", "quality", "n_tokens")
  }

  /** The FULL curation chain in one operator — the pipeline a
    * training-data team actually runs, composed from the library's own
    * stages without plan blow-up:
    *
    *   1. rule gates: Gopher (Rae et al. 2021) AND C4 (Raffel et al.
    *      2020) — ONE fused projection wave
    *      ([[TextAnalysis.withGopherRules]] + [[TextAnalysis.withC4Rules]]
    *      as column-adding passes over the same scan; joining the two
    *      rule frames back on doc_id would scan the corpus twice and
    *      shuffle it twice for nothing)
    *   2. exact dedup: normalized-md5 canonical via [[Dedup.withDupStats]]
    *      (two-phase group stats + frequency-routed rejoin — no window)
    *   3. near-dup components: MinHash-LSH pairs → [[Dedup.components]]
    *      → keep each component's canonical (minimum-id) member
    *   4. selection: [[Selection.dsirSample]] Gumbel top-k over the
    *      curated survivors (fixed token/document budget)
    *
    * Emits the selected documents as `(doc_id, key)` — any drift in any
    * stage changes the selected set and/or its perturbed keys, so one
    * hash gate pins the whole chain.
    *
    * Shuffle budget at 100 TB: the gate wave is shuffle-free; exact
    * dedup pays the withDupStats hash exchange + routed rejoin; the
    * near-dup stage pays MinHash's bounded band-bucket joins plus
    * components' iterative label joins over SURVIVORS only; DSIR pays
    * its one (doc, bucket) count exchange. The gated+deduped survivor
    * relation is PERSISTED (survivor-sized, like ExactSubstr's): it has
    * four consumers (pair generation, the component vertex list, the
    * canonical join, DSIR scoring) whose agg/probe subtrees cannot share
    * one exchange, and bare it would re-run the gate projections and the
    * dedup exchanges per consumer. The survivor cache is released
    * DETERMINISTICALLY before curate returns: the selected set is k rows
    * (bounded, tiny), so the chain is terminal-localCheckpointed —
    * forcing the one remaining lazy consumption — and the survivor
    * relation unpersisted, leaving only a k-row block behind per call
    * (components()' terminal-release discipline; previously each
    * curate() left a survivor-sized cache to the ContextCleaner, which
    * accumulates across calls in a long-lived session).
    */
  def curate(
      docs: DataFrame, targetExpr: org.apache.spark.sql.Column, k: Int,
      textCol: String = "text", gateTextCol: String = "text",
      gopherMinWords: Int = 10,
      jaccardThreshold: Double = 0.5, headMinDupes: Long = 100000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rawCols = docs.columns.map(col).toSeq
    // gates evaluate `gateTextCol` (the rendered page, boilerplate lines
    // included — what the C4/Gopher rules are written against); dedup and
    // selection run on `textCol` (the extracted body) — the standard
    // crawl-pipeline split
    val gated = TextAnalysis.withC4Rules(
        TextAnalysis.withGopherRules(docs, gateTextCol, minWords = gopherMinWords),
        gateTextCol)
      .filter(col("gopher_keep") && col("c4_keep"))
      .select(rawCols: _*)
      .withColumn("__h", Dedup.dupHash(textCol))
    val exact = Materialize.cache(Dedup.withDupStats(gated, headMinDupes)
      .filter(col("doc_id") === col("canonical_id"))
      .select(rawCols: _*))
    try {
      val pairs = Dedup.minhashPairs(exact, textCol, threshold = jaccardThreshold)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      val comps = Dedup.components(exact.select(col("doc_id").as("id")), pairs)
      val canon = exact.join(
        comps.filter(col("id") === col("component_id"))
          .select(col("id").as("doc_id")),
        "doc_id")
      // eager k-row terminal: one localCheckpoint action consumes the
      // persisted survivor relation's last lazy readers (canonical join +
      // DSIR), then the survivor cache is released before returning
      Materialize.pin(
        Selection.dsirSample(canon, targetExpr, k, textCol), eager = true)
    } finally Materialize.release(exact)
  }

  /** Snapshot diff: classify every document id across two corpus
    * snapshots as `added` / `removed` / `changed` / `unchanged` — the
    * audit a pipeline runs between crawl refreshes before deciding what
    * to re-tokenize (at 100 TB, reprocessing only the `added`+`changed`
    * slice instead of the full corpus is the whole game).
    *
    * Per-row content identity is `md5(text)` (computed scan-side in each
    * snapshot — the full text never crosses the exchange, 32 hex chars
    * do) with a non-colliding sentinel for null text; the diff is ONE
    * full-outer id-key join — ids are unique per snapshot, so the join
    * is skew-free by construction. Presence is tracked with explicit
    * marker columns, not hash-null-ness, so a null-text document in one
    * snapshot cannot masquerade as absent. Hash-gated
    * (q_corpus_diff; DuckDB computes the same md5).
    */
  def snapshotDiff(
      oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def side(df: DataFrame, h: String, mark: String) = df.select(
      col(idCol),
      coalesce(md5(col(textCol)), lit("__null_text__")).as(h),
      lit(true).as(mark))
    side(oldDocs, "__ho", "__in_old")
      .join(side(newDocs, "__hn", "__in_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(col("__ho") === col("__hn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** CDC apply — the companion of [[snapshotDiff]]: fold a change log
    * (`idCol`, `seqCol`, `opCol` ∈ {upsert, delete}, `textCol` payload)
    * into a base snapshot and emit the next snapshot. This is the
    * incremental corpus refresh at 100 TB: the change log is a sliver of
    * the base, so the winning pattern is reduce-the-log-first, touch each
    * base row exactly once.
    *
    * Per id, the change with the greatest (seq, op) wins — resolved with
    * ONE two-phase `max(struct(seq, op, payload))` aggregation, never a
    * per-id window over the log (map-side combine collapses hot ids
    * before the exchange; a ROW_NUMBER window would sort full log
    * partitions). The winner set then meets the base in ONE full-outer
    * join on unique ids — skew-free by construction on both sides.
    * A delete winner drops the row (including a delete of a nonexistent
    * id — a no-op, not an insert); an upsert overwrites or inserts.
    * Output marks each row's `origin` ∈ {kept, updated, inserted} so a
    * downstream re-tokenization can take only updated+inserted
    * (the same only-touch-the-delta motivation as [[snapshotDiff]]).
    *
    * Ties on (seq, op): struct comparison is total and deterministic
    * (field-lexicographic, 'upsert' > 'delete'), so concurrent
    * same-seq ops resolve reproducibly — upsert wins, then greater
    * payload. Callers that need strict semantics should keep (id, seq)
    * unique in the log.
    */
  def applyChanges(
      base: DataFrame, changes: DataFrame, idCol: String = "doc_id",
      seqCol: String = "seq", opCol: String = "op",
      textCol: String = "text"): DataFrame = {
    val win = changes
      .groupBy(col(idCol))
      .agg(max(struct(col(seqCol).as("s"), col(opCol).as("o"),
        col(textCol).as("t"))).as("__w"))
      .select(col(idCol), col("__w.o").as("__op"), col("__w.t").as("__new"))
    mergeWinners(base, win, idCol, textCol)
  }

  /** The merge half of [[applyChanges]], shared with the streaming twin
    * ([[graft.streaming.Events.applyChangesStream]]): apply an
    * ALREADY-RESOLVED winner relation (`idCol`, `__op`, `__new` — exactly
    * one row per id) to the base snapshot. Same one full-outer join on
    * unique ids, same delete/origin semantics; only the winner
    * resolution differs between the batch fold (one max-struct agg) and
    * the stream (per-id state compacted by watermark timeout).
    */
  def mergeWinners(
      base: DataFrame, winners: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val win = winners.select(col(idCol), col("__op"), col("__new"),
      lit(true).as("__chg"))
    base.select(col(idCol), col(textCol).as("__base"), lit(true).as("__in_base"))
      .join(win, Seq(idCol), "full_outer")
      .filter(!(col("__chg").isNotNull && col("__op") === "delete"))
      .select(col(idCol),
        when(col("__chg").isNotNull, col("__new")).otherwise(col("__base"))
          .as(textCol),
        when(col("__chg").isNull, "kept")
          .when(col("__in_base").isNull, "inserted")
          .otherwise("updated").as("origin"))
  }

  /** SCD type-2 history build — the third leg of the CDC family
    * ([[snapshotDiff]] detects, [[applyChanges]] folds to the latest,
    * this keeps EVERY version with its validity interval): from the same
    * change-log contract (`idCol`, `seqCol`, `opCol` ∈ {upsert, delete},
    * `textCol` payload), emit one row per upsert version with
    * `valid_from_seq` = its seq, `valid_to_seq` = the NEXT change's seq
    * for that id (null while no later change exists), and `is_current` —
    * true only for an open interval (a trailing delete closes the last
    * version, so a deleted id has no current row). Deletes emit no row
    * of their own; they exist in the timeline only as the closer of the
    * preceding interval.
    *
    * Plan: ONE window over the id key ordered by the same
    * (seq, op, payload) total order [[applyChanges]] resolves ties with
    * (struct-lexicographic, so concurrent same-seq ops produce the same
    * history both engines). Per-partition window state is one id's
    * version list — the bounded-per-entity premise (versions per entity
    * ∝ that entity's change count, not corpus size); the id exchange is
    * the one unavoidable shuffle, linear and AQE-splittable.
    */
  def scd2History(
      changes: DataFrame, idCol: String = "doc_id", seqCol: String = "seq",
      opCol: String = "op", textCol: String = "text"): DataFrame = {
    val byId = Window.partitionBy(col(idCol))
      .orderBy(col(seqCol), col(opCol), col(textCol))
    changes
      .withColumn("__next_seq", lead(seqCol, 1).over(byId))
      .filter(col(opCol) === "upsert")
      .select(col(idCol), col(textCol),
        col(seqCol).as("valid_from_seq"),
        col("__next_seq").as("valid_to_seq"),
        col("__next_seq").isNull.as("is_current"))
  }
}
