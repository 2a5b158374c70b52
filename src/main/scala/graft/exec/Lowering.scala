package graft.exec

import graft.analyze._
import graft.core._
import graft.core.Sql.{q, withKeys}
import graft.parse._
import org.apache.spark.sql.types.DataType
import scala.collection.mutable

/** Each source and each output lowered once into the steps both renderers
  * print: [[SourcePlanner]] and [[OutputPlanner]] interpret them as
  * DataFrames, [[SqlEmitter]] as the reference's CTE/`LATERAL` text. The
  * reference likewise builds one query model per source and then prints it
  * (u_enr_query_generate_query.sql:45-99, u_enr_query_add_join.sql,
  * u_enr_query_generate_many_joins.sql:15-39).
  *
  * The structural checks that need no type run here, so both renderers
  * raise the same CompileError: a lookup hop that is not cardinality 1,
  * `schema_of_json_agg`, and an aggregate channel without aggregate
  * mappings. A missing `_uv_flag` companion is raised by [[Lookup.on]],
  * through [[CompiledRelation.joinCondition]], which both renderers call.
  * Checks that read an analyzed type stay with the DataFrame renderers.
  */
object Lowering {

  sealed trait Step

  /** The lookup join of one distinct path prefix, numbered `id`: its far
    * columns are prefixed [[prefix]]. `near` is the lookup the hop starts
    * from (None: this source's row); `done` holds the rules computed
    * before it, the columns a self-join snapshot of this source carries
    * (reference: u_enr_query_generate_query.sql:90).
    */
  final case class Lookup(
      id: Int, hop: Hop, near: Option[Lookup], done: Seq[String],
      rel: CompiledRelation, project: Project) extends Step {
    def prefix: String = s"__j${id}_"

    /** The join condition, far-side guards included. */
    def on(nearCol: String => String, farCol: String => String): String =
      rel.joinCondition(hop, project, nearCol, farCol)
  }

  /** Aggregate span `span` of `rule` over `path`, numbered `id`. `transit`
    * is the lookup its last hop starts from (None: this source's row);
    * `equi` holds the last hop's (near, far) sides of each `near = far`
    * conjunct, or None when the relation is theta; `sig` is the span's
    * `func(inner)` over bare columns, which identifies equal aggregates.
    */
  final case class Agg(
      id: Int, rule: CompiledRule, span: Int, path: Vector[Hop], transit: Option[Lookup],
      done: Seq[String], rel: CompiledRelation,
      equi: Option[Seq[(Vector[Seg], Vector[Seg])]]) extends Step {
    def hop: Hop = path.last
    def key: String = pathKey(path)
    def func: String = rule.expr.aggs(span).func

    /** `func(inner)` with each parameter's column named by `col(attribute)`. */
    def call(col: String => String): String = rule.expr.renderAggInner(span, i =>
      withKeys(col(rule.params(i).ref.attribute), rule.params(i).ref.keys))

    val sig: String = call(q)

    /** `segs` of the last hop's relation with near and far binders. */
    def on(nearCol: String => String, farCol: String => String,
        segs: Seq[Seg] = rel.expr.segments): String =
      rel.render(hop, nearCol, farCol, segs)
  }

  /** `rule` once its lookups and spans exist: `lookups(i)` is the lookup
    * scalar parameter i reads (None: this source's row), `aggs(j)` span j,
    * `cast` the explicit `cast_datatype`.
    */
  final case class Rule(
      rule: CompiledRule, lookups: IndexedSeq[Option[Lookup]], aggs: IndexedSeq[Agg],
      cast: Option[DataType]) extends Step {
    def name: String = rule.name

    /** The expression with parameter i named by `col(lookups(i), attribute)`
      * and span j by `agg(aggs(j))`.
      */
    def sql(col: (Option[Lookup], String) => String, agg: Agg => String): String =
      rule.expr.render(
        i => withKeys(col(lookups(i), rule.params(i).ref.attribute), rule.params(i).ref.keys),
        j => agg(aggs(j)))
  }

  /** One output channel over the hub of `ch`'s source. `filter` is its
    * WHERE SQL; a `grouped` channel groups by `dims` and computes `aggs`,
    * each a (target, SQL) pair; `columns` pairs each declared column with
    * the SQL of its mapped value, None where it is NULL-filled
    * (reference: u_output_query_column_select.sql:13-21).
    */
  final case class OutputChannel(
      ch: CompiledChannel, filter: Option[String], grouped: Boolean,
      dims: Seq[(String, String)], aggs: Seq[(String, String)],
      columns: Seq[(OutputCol, Option[String])]) {
    def source: String = ch.channel.sourceName
  }

  private def pathKey(path: Seq[Hop]): String = path.map(_.key).mkString(",")

  /** `cs`'s rules in evaluation order, each after the lookups and spans it
    * needs. A lookup exists once per path prefix, in first-need order; the
    * renderers number their joins by step id.
    */
  def source(cp: CompiledProject, cs: CompiledSource): Seq[Step] = {
    val steps = Vector.newBuilder[Step]
    val lookups = mutable.Map.empty[String, Lookup]
    var done = Vector.empty[String]
    var id = 0
    def nextId(): Int = { id += 1; id }

    def ensurePath(path: Vector[Hop]): Option[Lookup] =
      path.indices.foldLeft(Option.empty[Lookup]) { (near, i) =>
        Some(lookups.getOrElseUpdate(pathKey(path.take(i + 1)), {
          val hop = path(i)
          if (!hop.cardOne)
            throw CompileError(s"Join cardinality is not 1 for relation '${hop.relation.name}'")
          val l = Lookup(nextId(), hop, near, done, cp.relations(hop.relation.name), cp.project)
          steps += l
          l
        }))
      }

    cs.rules.foreach { cr =>
      val scalar = cr.params.map(p => if (p.aggIndex.isEmpty) ensurePath(p.path) else None)
      val aggs = cr.aggPaths.zipWithIndex.map { case (path, j) =>
        val transit = ensurePath(path.init)
        val rel = cp.relations(path.last.relation.name)
        val a = Agg(nextId(), cr, j, path, transit, done, rel, equiConjuncts(rel, path.last))
        steps += a
        a
      }
      steps += Rule(cr, scalar, aggs, cr.rule.castDatatype.map(CoreTypes.parseTypeName))
      done :+= cr.name
    }
    steps.result()
  }

  /** `co`'s channels (reference: u_output_generate_query.sql:53-155): a
    * filter, for an aggregate channel a GROUP BY every non-aggregate mapping
    * (reference A2), then the declared columns in order.
    */
  def output(co: CompiledOutput): Seq[OutputChannel] = co.channels.map { ch =>
    def inner(m: CompiledMapping): String = withKeys(q(m.attribute), m.keys)
    val grouped = ch.channel.operationType == OperationType.Aggregate
    val (aggMaps, dimMaps) = ch.mappings.partition(_.mapping.aggregate.isDefined)
    if (grouped && aggMaps.isEmpty)
      throw CompileError(
        s"Output '${co.output.name}': Aggregate channel has no aggregate mappings")
    def value(m: CompiledMapping): String = m.mapping.aggregate match {
      case Some(func) if grouped => ParsedExpr.renderAggCall(func, m.mapping.distinct, inner(m))
      case _ => inner(m)
    }
    val byTarget = ch.mappings.map(m => m.mapping.targetColumn -> value(m)).toMap
    OutputChannel(ch,
      ch.filter.map(f => f.expr.render(i =>
        withKeys(q(f.params(i).ref.attribute), f.params(i).ref.keys))),
      grouped,
      dimMaps.map(m => m.mapping.targetColumn -> inner(m)),
      aggMaps.map(m => m.mapping.targetColumn -> value(m)),
      co.output.columns.map(c => c -> byTarget.get(c.name)))
  }

  /** Split the last hop's relation expression into equi conjuncts (near
    * side, far side). None when any conjunct is not a simple `near = far`
    * equality.
    */
  private def equiConjuncts(
      rel: CompiledRelation, hop: Hop): Option[Seq[(Vector[Seg], Vector[Seg])]] = {
    val conjuncts = splitTopLevel(rel.expr.segments, "AND").getOrElse(return None)
    Some(conjuncts.map { c =>
      val (lhs, rhs) = splitEquality(c).getOrElse(return None)
      def sideOf(segs: Vector[Seg]): Option[Boolean] = { // Some(true)=far side
        val far = segs.collect { case Seg.Param(i) => rel.bindsFar(i, hop) }
        if (far.isEmpty) None
        else if (far.forall(identity)) Some(true)
        else if (far.forall(!_)) Some(false)
        else None
      }
      (sideOf(lhs), sideOf(rhs)) match {
        case (Some(false), Some(true)) => (lhs, rhs)
        case (Some(true), Some(false)) => (rhs, lhs)
        case _ => return None
      }
    })
  }

  /** Split segments on a top-level keyword (outside parens and quotes).
    * Returns None if parens are unbalanced.
    */
  private def splitTopLevel(segs: Vector[Seg], keyword: String): Option[Vector[Vector[Seg]]] = {
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
  private def splitEquality(segs: Vector[Seg]): Option[(Vector[Seg], Vector[Seg])] = {
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
