package graft.exec

import graft.analyze._
import graft.core._
import graft.core.Sql.q
import graft.exec.Lowering.{Agg, Lookup, Rule}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.collection.mutable

/** Assembles one source's enriched DataFrame ("hub").
  *
  * Spark-first re-expression of the reference's CTE/SQL generator
  * (reference: u_enr_query_generate_query.sql:45-99): instead of emitting
  * `WITH cte0 AS ... LEFT JOIN ...` text, we compose the logical plan with
  * the DataFrame API and let Catalyst collapse projections, prune columns
  * and choose join strategies. Scalar lookups become left joins against the
  * related hub (reference: u_enr_query_add_join.sql); aggregates over
  * M-cardinality paths are rewritten from the reference's correlated
  * `LEFT JOIN LATERAL (SELECT agg ... WHERE corr)` form
  * (u_enr_query_generate_many_joins.sql:15-39) into a shuffle-friendly
  * `groupBy(joinKeys).agg(...)` + left join — the scalable plan at 100 TB
  * (no nested-loop; map-side partial aggregation; AQE-eligible).
  *
  * It interprets the steps of [[Lowering.source]] in order; [[SqlEmitter]]
  * prints the same steps as the reference's text.
  */
final class SourcePlanner(
    cp: CompiledProject,
    cs: CompiledSource,
    reader: SourceDef => DataFrame,
    hubs: String => DataFrame) {

  import SourcePlanner._

  private val s = cs.source
  private val rawNames = s.rawAttributes.map(_.name)
  private var df: DataFrame = {
    val base = reader(s)
    s.rawAttributes.foreach { a =>
      if (!base.columns.contains(a.name))
        throw CompileError(
          s"Source '${s.name}': declared attribute '${a.name}' missing from input table")
    }
    base.select(s.rawAttributes.map(a => base.col(q(a.name)).cast(a.dataType).as(a.name)): _*)
  }
  private val steps = Lowering.source(cp, cs)
  private val aggSpans = steps.collect { case a: Agg => a }
  /** The span that first names each distinct aggregate (path, `func(inner)`):
    * its id names the aggregate's column `__a<id>`, which later equal spans
    * share.
    */
  private val firstSpan: Map[(String, String), Agg] =
    aggSpans.groupBy(a => (a.key, a.sig)).map { case (k, as) => k -> as.head }
  private val aggJoined = mutable.Set.empty[String] // path keys already joined

  def plan(): DataFrame = {
    steps.foreach {
      case l: Lookup => addLookup(l)
      case a: Agg => if (aggJoined.add(a.key)) joinAggPath(a)
      case r: Rule => addRule(r)
    }
    df.select((rawNames ++ cs.rules.map(_.name)).map(n => df.col(q(n))): _*)
  }

  // ----------------------------------------------------------------- rules

  private def addRule(r: Rule): Unit = {
    var colExpr = expr(r.sql((l, attr) => column(l)(attr), aggRef))
    r.cast.foreach(t => colExpr = colExpr.cast(t))
    df = df.withColumn(r.name, colExpr)
    // decimal discipline: every decimal is decimal(38,12)
    // (reference: u_enr_query_add_enrichment.sql:128-133)
    val dt = df.schema(r.name).dataType
    dt match {
      case d: DecimalType if d != CoreTypes.Decimal3812 =>
        df = df.withColumn(r.name, df.col(q(r.name)).cast(CoreTypes.Decimal3812))
      case other if !CoreTypes.isSupported(other) =>
        throw CompileError(
          s"Rule '${r.name}': expression type '${other.simpleString}' is not a supported type")
      case _ =>
    }
  }

  /** Column binder for a lookup's far columns (None: this source's row). */
  private def column(l: Option[Lookup]): String => String =
    attr => q(l.fold("")(_.prefix) + attr)

  // ----------------------------------------------------------------- joins

  /** The related-side DataFrame for a hop: another source's hub, or — when
    * the path lands back on this source (self-relations / cycles) — a
    * snapshot of the current build over the rules computed so far,
    * mirroring the reference's join-cte<k-1>-to-itself self-join
    * (u_enr_query_generate_query.sql:90).
    */
  private def relatedSide(hop: Hop, done: Seq[String]): DataFrame =
    if (hop.to == s.name) df.select((rawNames ++ done).map(n => df.col(q(n))): _*)
    else hubs(hop.to)

  private def addLookup(l: Lookup): Unit = {
    val far = prefixAll(relatedSide(l.hop, l.done), l.prefix)
    val cond = l.on(column(l.near), column(Some(l)))
    df =
      try df.join(far, expr(cond), "left")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          // boolean gate parity (impc_update_test_results.sql:37-49)
          throw CompileError(
            s"Relation '${l.hop.relation.name}': join condition is invalid — " +
              e.getSimpleMessage)
      }
  }

  // ------------------------------------------------------------ aggregates

  /** The SQL fragment spliced where span `a` appeared: its aggregate's
    * column.
    *
    * Scale note: the reference's lateral form re-scans the related hub per
    * outer row (nested loop at the engine's mercy); the groupBy+join form
    * shuffles each side once on the join keys and benefits from partial
    * (map-side) aggregation — the only plan that survives 100 TB.
    */
  private def aggRef(a: Agg): String = {
    val c = q(s"__a${firstSpan((a.key, a.sig)).id}")
    // Empty-group parity with the reference's lateral form: an ungrouped
    // aggregate over zero rows yields 0/[] for counts/collections, which a
    // left join surfaces as NULL — coalesce restores the lateral semantics.
    a.func match {
      case "count" | "count_if" | "approx_count_distinct" => s"coalesce($c, 0)"
      case "collect_list" | "collect_set" | "array_agg"   => s"coalesce($c, array())"
      case _                                              => c
    }
  }

  /** Join every aggregate over `a`'s path in a single pass, at the path's
    * first span: each path shuffles ONCE however many rules aggregate over
    * it (reference equivalent: one many-join element with N attribute
    * elements — u_enr_query_add_many_join_attribute.sql). Transit hops
    * (all cardinality 1) are lookups already, bringing the correlation
    * columns onto this row (reference: u_enr_query_add_many_join.sql:76-98
    * "cascading many-join" transits).
    */
  private def joinAggPath(a: Agg): Unit = {
    val near = column(a.transit)
    val related = relatedSide(a.hop, a.done)
    val specs = aggSpans.filter(_.key == a.key).distinctBy(_.sig)

    a.equi match {
      case Some(pairs) =>
        // Equi rewrite: aggregate the related hub once, grouped by its side
        // of the join keys, then left-join. Shuffles each side once and
        // enables map-side partial aggregation.
        val gks = pairs.indices.map(i => s"__gk${a.id}_$i")
        val aggCols = specs.map(sp => expr(sp.sig).as(s"__a${sp.id}"))
        val aggDf = related
          .groupBy(pairs.zipWithIndex.map { case ((_, farSide), i) =>
            expr(a.on(near, q, farSide)).as(gks(i))
          }: _*)
          .agg(aggCols.head, aggCols.tail: _*)
        val cond = pairs.zipWithIndex.map { case ((nearSide, _), i) =>
          s"(${a.on(near, q, nearSide)}) = ${q(gks(i))}"
        }.mkString(" AND ")
        df = df.join(aggDf, expr(cond), "left").drop(gks: _*)
      case None =>
        // Theta fallback: tag each row with a DETERMINISTIC id, inner-join
        // the related hub on the raw condition, aggregate per id, left-join
        // back. `tagged` feeds both sides of the rejoin, so the id must be
        // stable under recomputation (task retry, speculation, AQE replan) —
        // monotonically_increasing_id is not (it depends on partition fetch
        // order). A content-derived id is: xxhash64 over every column plus a
        // row_number among content-identical rows; identical rows are
        // interchangeable, so any numbering among them yields the same
        // result multiset no matter which branch recomputes.
        // The INNER join restores the reference lateral's WHERE semantics
        // (u_enr_query_generate_many_joins.sql:15-39): a row with no matches
        // aggregates over ZERO rows — count → 0 via the coalesce in
        // aggRef, sum → NULL via the null-extending join back — never
        // over one null-extended row (which would inflate count-like
        // aggregates of null-proof expressions to 1).
        // Spark still extracts any equi conjuncts of `cond` into the join
        // keys at planning time, so mixed equality+inequality conditions
        // hash-partition rather than nested-loop.
        val rid = s"__rid${a.id}"
        val pfx = s"__m${a.id}_"
        val allCols = df.columns.toSeq.map(c => col(q(c)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(allCols: _*).orderBy(lit(1))
        // cached: `tagged` feeds both the match aggregation and the
        // rejoin — without it the tag window (a full shuffle) plans twice.
        // A cache, not a pin: Runner memoizes hub frames beyond any scope,
        // and a released cache only recomputes.
        val tagged = Materialize.cache(df.withColumn(
          rid, struct(xxhash64(allCols: _*), row_number().over(w))))
        val cond = a.on(near, attr => q(pfx + attr))
        val aggCols = specs.map(sp => expr(sp.call(attr => q(pfx + attr))).as(s"__a${sp.id}"))
        val matches = tagged
          .join(prefixAll(related, pfx), expr(cond), "inner")
          .groupBy(col(rid))
          .agg(aggCols.head, aggCols.tail: _*)
        df = tagged.join(matches, Seq(rid), "left").drop(rid)
    }
  }
}

object SourcePlanner {

  /** Rename every column of `df` with `pfx`. */
  def prefixAll(df: DataFrame, pfx: String): DataFrame =
    df.select(df.columns.map(c => df.col(q(c)).as(pfx + c)).toSeq: _*)
}
