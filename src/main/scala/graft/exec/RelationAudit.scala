package graft.exec

import graft.analyze.{CompiledProject, Pruner}
import graft.core.Sql.q
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Project-level relation audit: for every declared relation, measure how
  * the DATA honors the declaration — unmatched source rows (a lookup that
  * will return NULL), multi-match source rows (a declared `*-1` relation
  * whose join actually FANS OUT — the silent row-inflation bug), and the
  * worst fan-out. This welds the [[graft.operators.Integrity]] discipline
  * onto the reference-parity YAML world: the relation expressions
  * themselves (the forward join condition that
  * [[graft.analyze.CompiledRelation]] renders for [[SourcePlanner]]'s real
  * joins — same `[This]`/`[Related]` binding, same unique-join guards, same
  * hub columns, so rule-keyed and multi-conjunct relations audit correctly)
  * drive the audit joins, no hand-typed key lists.
  *
  * Shape per relation: source hub LEFT JOIN related hub on the rendered
  * condition, grouped by a per-source-row id to count matches (the id is
  * `monotonically_increasing_id` — unique within this execution, which is
  * all a count-by-row needs), then a single-row rollup. The match-count
  * aggregation's key is unique by construction ⇒ skew-free; the join
  * itself inherits whatever shape the relation has (equi conjuncts become
  * hash joins exactly as in the planner path).
  */
object RelationAudit {
  import SourcePlanner.prefixAll

  /** One row per relation; a project without relations audits to no rows. */
  def audit(cp: CompiledProject, hub: String => DataFrame): DataFrame =
    cp.project.relations.map(r => auditOne(cp, hub, r.name)).reduceOption(_.unionAll(_))
      .getOrElse(SparkSession.active.createDataFrame(java.util.List.of[Row](), schema))

  private val schema = StructType.fromDDL(
    "relation STRING NOT NULL, cardinality STRING NOT NULL, source_rows BIGINT NOT NULL, " +
      "unmatched_source_rows BIGINT NOT NULL, multi_match_source_rows BIGINT NOT NULL, " +
      "max_matches BIGINT NOT NULL, cardinality_violations BIGINT NOT NULL")

  /** [[audit]] over PRUNED hubs: each audit join needs only the columns
    * the relation expression binds (plus uv-flag companions), so the hub
    * provider plans just those rules — raw-attribute relations audit
    * against bare source scans instead of re-building the full enriched
    * hub (its whole lookup/aggregate join tree) once per relation. The
    * pruning seeds are each relation traversed forward, the join
    * [[auditOne]] runs.
    * Identical counts: rule columns that don't key the join cannot change
    * which rows match. Caveat: that equivalence assumes the pruned-away
    * rule JOINS don't inflate hub rows — a declared `*-1` lookup that
    * actually fans out (the very defect the audit exists to surface)
    * multiplies source_rows in [[audit]]'s full hubs but not here, so the
    * pruned counts reflect UN-inflated source rows. That is the more
    * useful number (each source row audited once), but it differs from
    * audit() exactly when some unrelated relation is already broken.
    */
  def auditPruned(cp: CompiledProject, runner: Runner): DataFrame =
    audit(cp, runner.hubs(Pruner.closure(cp, Map.empty, cp.relations.values.map(_.forward).toSeq)))

  def auditOne(
      cp: CompiledProject, hub: String => DataFrame, name: String): DataFrame = {
    val rel = cp.relations(name)
    val rd = rel.relation
    val s = prefixAll(hub(rd.sourceName), "__s_")
      .withColumn("__sid", monotonically_increasing_id())
    val r = prefixAll(hub(rd.relatedName), "__r_")
      .withColumn("__rmark", lit(true))
    // the join the planner runs, unique-join guard included (J6): without
    // it a unique-filtered relation audits as a fan-out
    val cond = rel.joinCondition(
      rel.forward, cp.project, attr => q("__s_" + attr), attr => q("__r_" + attr))
    val oneRelated = rd.cardinality.relatedOne
    s.join(r, expr(cond), "left")
      .groupBy(col("__sid"))
      .agg(count(col("__rmark")).as("__m"))
      .agg(
        count(lit(1)).as("source_rows"),
        count(when(col("__m") === 0, lit(1))).as("unmatched_source_rows"),
        count(when(col("__m") > 1, lit(1))).as("multi_match_source_rows"),
        coalesce(max(col("__m")), lit(0L)).as("max_matches"))
      .select(lit(rd.name).as("relation"),
        lit(rd.cardinality.code).as("cardinality"),
        col("source_rows"), col("unmatched_source_rows"),
        col("multi_match_source_rows"), col("max_matches"),
        // a *-1 declaration with observed fan-out is a broken contract;
        // 1-M/M-M fan-out is the declared shape, not a violation
        (if (oneRelated) col("multi_match_source_rows") else lit(0L))
          .as("cardinality_violations"))
  }

  /** True when any relation with a `*-1` declaration fans out — the
    * one-line gate a pipeline can assert before trusting its lookups.
    */
  def hasViolations(auditResult: DataFrame): Boolean =
    auditResult.filter(col("cardinality_violations") > 0).limit(1).count() > 0
}
