package graft.exec

import graft.analyze._
import graft.core._
import graft.core.Sql.{q, withKeys}
import graft.parse._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}
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
  private val computed = mutable.LinkedHashSet.empty[String] // rule columns present
  private val joinPrefix = mutable.LinkedHashMap.empty[String, String] // path key → col prefix
  private var counter = 0

  /** One aggregate column spec: output column, function name, and a
    * renderer taking the attribute binding for the related side (so the
    * same span can be rendered against bare or prefixed hub columns).
    */
  private final case class AggSpec(col: String, func: String, render: (String => String) => String)

  /** All aggregate spans of all rules, batched per relation path so each
    * path shuffles ONCE no matter how many rules aggregate over it
    * (reference equivalent: one many-join element with N attribute elements
    * — u_enr_query_add_many_join_attribute.sql).
    * pathKey → (signature → spec); signature is the rendered `func(inner)`
    * SQL so identical aggregates share a column.
    */
  private val aggPlan: Map[String, mutable.LinkedHashMap[String, AggSpec]] = {
    val m = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, AggSpec]]
    cs.rules.foreach { cr =>
      cr.aggPaths.zipWithIndex.foreach { case (path, j) =>
        val sig = cr.expr.renderAggInner(j, i => qKeys(cr.params(i).ref))
        val bySig = m.getOrElseUpdate(pathKey(path), mutable.LinkedHashMap.empty)
        if (!bySig.contains(sig))
          bySig(sig) = AggSpec(s"__a${nextId()}", cr.expr.aggs(j).func,
            bind => cr.expr.renderAggInner(j, i =>
              withKeys(bind(cr.params(i).ref.attribute), cr.params(i).ref.keys)))
      }
    }
    m.toMap
  }
  private val aggJoined = mutable.Set.empty[String] // pathKeys already joined

  def plan(): DataFrame = {
    cs.rules.foreach(addRule)
    df.select((rawNames ++ cs.rules.map(_.name)).map(n => df.col(q(n))): _*)
  }

  // ----------------------------------------------------------------- rules

  private def addRule(cr: CompiledRule): Unit = {
    cr.params.foreach { p =>
      if (p.aggIndex.isEmpty && p.path.nonEmpty) ensurePath(p.path)
    }
    val aggCols = cr.expr.aggs.indices.map(j => ensureAgg(cr, j))
    val sql = cr.expr.render(
      i => bindParam(cr.params(i)),
      j => aggCols(j))
    var colExpr = expr(sql)
    cr.rule.castDatatype.foreach(t => colExpr = colExpr.cast(CoreTypes.parseTypeName(t)))
    df = df.withColumn(cr.name, colExpr)
    // decimal discipline: every decimal is decimal(38,12)
    // (reference: u_enr_query_add_enrichment.sql:128-133)
    val dt = df.schema(cr.name).dataType
    dt match {
      case d: DecimalType if d != CoreTypes.Decimal3812 =>
        df = df.withColumn(cr.name, df.col(q(cr.name)).cast(CoreTypes.Decimal3812))
      case other if !CoreTypes.isSupported(other) =>
        throw CompileError(
          s"Rule '${cr.name}': expression type '${other.simpleString}' is not a supported type")
      case _ =>
    }
    computed += cr.name
  }

  /** SQL fragment for a scalar (non-aggregate) parameter. */
  private def bindParam(p: ResolvedParam): String = withKeys(
    if (p.path.isEmpty) q(p.ref.attribute)
    else q(joinPrefix(pathKey(p.path)) + p.ref.attribute), p.ref.keys)

  // ----------------------------------------------------------------- joins

  /** The related-side DataFrame for a hop: another source's hub, or — when
    * the path lands back on this source (self-relations / cycles) — a
    * snapshot of the current build, mirroring the reference's
    * join-cte<k-1>-to-itself self-join (u_enr_query_generate_query.sql:90).
    */
  private def relatedSide(hop: Hop): DataFrame =
    if (hop.to == s.name)
      df.select((rawNames ++ computed).map(n => df.col(q(n))).toSeq: _*)
    else hubs(hop.to)

  /** Ensure the chain of lookup joins for `path` exists; memoized per path
    * prefix so identical relation paths are joined once
    * (reference join dedup: u_enr_query_add_join.sql:33-41).
    */
  private def ensurePath(path: Vector[Hop]): Unit = {
    var i = 1
    while (i <= path.length) {
      val prefix = path.take(i)
      val key = pathKey(prefix)
      if (!joinPrefix.contains(key)) {
        val hop = prefix.last
        if (!hop.cardOne)
          throw CompileError(s"Join cardinality is not 1 for relation '${hop.relation.name}'")
        val pfx = s"__j${nextId()}_"
        val far = prefixAll(relatedSide(hop), pfx)
        val currentBind: String => String =
          if (i == 1) attr => q(attr)
          else {
            val prevPfx = joinPrefix(pathKey(prefix.init))
            attr => q(prevPfx + attr)
          }
        val cond = cp.relations(hop.relation.name)
          .joinCondition(hop, cp.project, currentBind, attr => q(pfx + attr))
        df =
          try df.join(far, expr(cond), "left")
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              // boolean gate parity (impc_update_test_results.sql:37-49)
              throw CompileError(
                s"Relation '${hop.relation.name}': join condition is invalid — " +
                  e.getSimpleMessage)
          }
        joinPrefix(key) = pfx
      }
      i += 1
    }
  }

  // ------------------------------------------------------------ aggregates

  /** Ensure the aggregate column for span `j` of rule `cr`; returns the SQL
    * fragment to splice where `A<j>` appeared.
    *
    * Scale note: the reference's lateral form re-scans the related hub per
    * outer row (nested loop at the engine's mercy); the groupBy+join form
    * shuffles each side once on the join keys and benefits from partial
    * (map-side) aggregation — the only plan that survives 100 TB.
    */
  private def ensureAgg(cr: CompiledRule, j: Int): String = {
    val path = cr.aggPaths(j)
    val key = pathKey(path)
    if (!aggJoined.contains(key)) { joinAggPath(path); aggJoined += key }
    val sig = cr.expr.renderAggInner(j, i => qKeys(cr.params(i).ref))
    val AggSpec(colName, func, _) = aggPlan(key)(sig)
    // Empty-group parity with the reference's lateral form: an ungrouped
    // aggregate over zero rows yields 0/[] for counts/collections, which a
    // left join surfaces as NULL — coalesce restores the lateral semantics.
    func match {
      case "count" | "count_if" | "approx_count_distinct" => s"coalesce(${q(colName)}, 0)"
      case "collect_list" | "collect_set" | "array_agg"   => s"coalesce(${q(colName)}, array())"
      case _                                              => q(colName)
    }
  }

  private def qKeys(ref: ParamRef): String = withKeys(q(ref.attribute), ref.keys)

  /** Join all aggregate columns for one relation path in a single pass. */
  private def joinAggPath(path: Vector[Hop]): Unit = {
    // Transit hops (all cardinality 1) join as regular lookups, bringing the
    // correlation columns onto this row (reference:
    // u_enr_query_add_many_join.sql:76-98 "cascading many-join" transits).
    val transit = path.init
    if (transit.nonEmpty) ensurePath(transit)
    val lastHop = path.last
    val currentBind: String => String =
      if (transit.isEmpty) attr => q(attr)
      else attr => q(joinPrefix(pathKey(transit)) + attr)

    val rel = cp.relations(lastHop.relation.name)
    val related = relatedSide(lastHop)
    val specs = aggPlan(pathKey(path)).values.toSeq

    equiConjuncts(rel, lastHop, currentBind) match {
      case Some(pairs) =>
        // Equi rewrite: aggregate the related hub once, grouped by its side
        // of the join keys, then left-join. Shuffles each side once and
        // enables map-side partial aggregation.
        val gid = nextId()
        val gks = pairs.indices.map(i => s"__gk${gid}_$i")
        val aggCols = specs.map(sp => expr(sp.render(a => q(a))).as(sp.col))
        val aggDf = related
          .groupBy(pairs.zipWithIndex.map { case ((_, farSide), i) =>
            expr(farSide).as(gks(i))
          }: _*)
          .agg(aggCols.head, aggCols.tail: _*)
        val cond = pairs.zipWithIndex.map { case ((nearSide, _), i) =>
          s"($nearSide) = ${q(gks(i))}"
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
        // ensureAgg, sum → NULL via the null-extending join back — never
        // over one null-extended row (which would inflate count-like
        // aggregates of null-proof expressions to 1).
        // Spark still extracts any equi conjuncts of `cond` into the join
        // keys at planning time, so mixed equality+inequality conditions
        // hash-partition rather than nested-loop.
        val rid = s"__rid${nextId()}"
        val pfx = s"__m${nextId()}_"
        val allCols = df.columns.toSeq.map(c => col(q(c)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(allCols: _*).orderBy(lit(1))
        // cached: `tagged` feeds both the match aggregation and the
        // rejoin — without it the tag window (a full shuffle) plans twice.
        // A cache, not a pin: Runner memoizes hub frames beyond any scope,
        // and a released cache only recomputes.
        val tagged = Materialize.cache(df.withColumn(
          rid, struct(xxhash64(allCols: _*), row_number().over(w))))
        val cond = rel.render(lastHop, currentBind, attr => q(pfx + attr))
        val aggCols = specs.map(sp => expr(sp.render(a => q(pfx + a))).as(sp.col))
        val matches = tagged
          .join(prefixAll(related, pfx), expr(cond), "inner")
          .groupBy(col(rid))
          .agg(aggCols.head, aggCols.tail: _*)
        df = tagged.join(matches, Seq(rid), "left").drop(rid)
    }
  }

  /** Split the last hop's relation expression into equi conjuncts
    * (nearSideSql, farSideSql); the near side is bound by `near`, the far
    * side over the bare related hub columns. Returns None when any
    * conjunct is not a simple `near = far` equality.
    */
  private def equiConjuncts(
      rel: CompiledRelation, hop: Hop, near: String => String): Option[Seq[(String, String)]] = {
    val conjuncts = splitTopLevel(rel.expr.segments, "AND").getOrElse(return None)
    def render(segs: Vector[Seg]) = rel.render(hop, near, attr => q(attr), segs)
    val out = conjuncts.map { c =>
      val (lhs, rhs) = splitEquality(c).getOrElse(return None)
      def sideOf(segs: Vector[Seg]): Option[Boolean] = { // Some(true)=far side
        val far = segs.collect { case Seg.Param(i) => rel.bindsFar(i, hop) }
        if (far.isEmpty) None
        else if (far.forall(identity)) Some(true)
        else if (far.forall(!_)) Some(false)
        else None
      }
      (sideOf(lhs), sideOf(rhs)) match {
        case (Some(false), Some(true)) => (render(lhs), render(rhs))
        case (Some(true), Some(false)) => (render(rhs), render(lhs))
        case _ => return None
      }
    }
    Some(out)
  }

  private def nextId(): Int = { counter += 1; counter }
}

object SourcePlanner {

  def pathKey(path: Seq[Hop]): String = path.map(_.key).mkString(",")

  /** Rename every column of `df` with `pfx`. */
  def prefixAll(df: DataFrame, pfx: String): DataFrame =
    df.select(df.columns.map(c => df.col(q(c)).as(pfx + c)).toSeq: _*)

  /** Split segments on a top-level keyword (outside parens and quotes).
    * Returns None if parens are unbalanced.
    */
  def splitTopLevel(segs: Vector[Seg], keyword: String): Option[Vector[Vector[Seg]]] = {
    val parts = Vector.newBuilder[Vector[Seg]]
    var current = Vector.newBuilder[Seg]
    var depth = 0
    segs.foreach {
      case Seg.Text(t) =>
        var i = 0
        val sb = new StringBuilder
        while (i < t.length) {
          val c = t(i)
          if (c == '\'' || c == '"' || c == '`') {
            val close = findQuoteEnd(t, i, c)
            sb.append(t.substring(i, close)); i = close
          } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
          else if (c == ')') { depth -= 1; sb.append(c); i += 1 }
          else if (depth == 0 && matchesWord(t, i, keyword)) {
            current += Seg.Text(sb.toString); sb.clear()
            parts += current.result(); current = Vector.newBuilder[Seg]
            i += keyword.length
          } else { sb.append(c); i += 1 }
        }
        current += Seg.Text(sb.toString)
      case other => current += other
    }
    parts += current.result()
    if (depth != 0) None else Some(parts.result())
  }

  /** Split one conjunct at a top-level bare `=` (not ==, <=, >=, !=, <=>). */
  def splitEquality(segs: Vector[Seg]): Option[(Vector[Seg], Vector[Seg])] = {
    var depth = 0
    var found = -1 // index encoding: (segIdx, charIdx)
    var foundSeg = -1
    segs.zipWithIndex.foreach { case (seg, si) =>
      seg match {
        case Seg.Text(t) =>
          var i = 0
          while (i < t.length) {
            val c = t(i)
            if (c == '\'' || c == '"' || c == '`') i = findQuoteEnd(t, i, c)
            else {
              if (c == '(') depth += 1
              else if (c == ')') depth -= 1
              else if (c == '=' && depth == 0) {
                val prev = if (i > 0) t(i - 1) else ' '
                val next = if (i + 1 < t.length) t(i + 1) else ' '
                if (!"<>=!".contains(prev) && next != '=' && prev != '<' ) {
                  if (found >= 0) return None // multiple '='
                  found = i; foundSeg = si
                }
              }
              i += 1
            }
          }
        case _ =>
      }
    }
    if (found < 0) return None
    val before = Vector.newBuilder[Seg]
    val after = Vector.newBuilder[Seg]
    segs.zipWithIndex.foreach { case (seg, si) =>
      if (si < foundSeg) before += seg
      else if (si > foundSeg) after += seg
      else seg match {
        case Seg.Text(t) =>
          before += Seg.Text(t.substring(0, found))
          after += Seg.Text(t.substring(found + 1))
        case _ =>
      }
    }
    Some((before.result(), after.result()))
  }

  private def findQuoteEnd(t: String, start: Int, quote: Char): Int = {
    var i = start + 1
    while (i < t.length) {
      if (t(i) == quote) {
        if (quote == '\'' && i + 1 < t.length && t(i + 1) == '\'') i += 2
        else return i + 1
      } else i += 1
    }
    t.length
  }

  private def matchesWord(t: String, i: Int, word: String): Boolean = {
    if (i + word.length > t.length) return false
    if (!t.regionMatches(true, i, word, 0, word.length)) return false
    val beforeOk = i == 0 || !isIdent(t(i - 1))
    val afterOk = i + word.length == t.length || !isIdent(t(i + word.length))
    beforeOk && afterOk
  }

  private def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_'
}
