package graft.analyze

import graft.core._
import graft.core.Sql.withKeys
import graft.parse._

/** A relation with every parameter bound to the end it names: `sides(i)`
  * is "This" (the relation's source end) or "Related" (its related end),
  * and `isRule(i)` says whether parameter i reads a rule.
  *
  * This is the one place that knows what a binding means. Consumers ask:
  *  - [[sourceOf]]: the source parameter i reads;
  *  - [[bindsFar]]: whether parameter i binds the far side of a [[Hop]].
  *    A forward hop (source end → related end) puts `[Related]` on its far
  *    side and a reverse hop `[This]`. A self relation only traverses
  *    forward, and both of its sides are the one source;
  *  - [[guards]]: the `<rule>_uv_flag` companions that guard a lookup
  *    whose far side is keyed on a `unique_flag` rule;
  *  - [[render]] / [[joinCondition]]: the expression with near and far
  *    binders, struct keys included
  *    (reference: u_enr_query_add_join.sql:92-117).
  */
final case class CompiledRelation(
    relation: RelationDef,
    expr: ParsedExpr,
    sides: IndexedSeq[String],
    isRule: IndexedSeq[Boolean]) {

  /** The relation traversed from its source end to its related end. */
  def forward: Hop = Hop(relation, reverse = false)

  def sourceOf(i: Int): String = CompiledRelation.end(relation, sides(i))

  def bindsFar(i: Int, hop: Hop): Boolean = hop.reverse != (sides(i) == "Related")

  /** `segs` (by default the whole expression) with each parameter bound by
    * `near` or `far` on `hop`.
    */
  def render(hop: Hop, near: String => String, far: String => String,
      segs: Seq[Seg] = expr.segments): String =
    ParsedExpr.renderSegs(segs, { i =>
      val p = expr.params(i)
      withKeys((if (bindsFar(i, hop)) far else near)(p.attribute), p.keys)
    }, ParsedExpr.noAgg)

  /** The `<rule>_uv_flag` companion of each far-side parameter of `hop`
    * that is a `unique_flag` rule, whether or not the far source has it.
    */
  def guards(hop: Hop, project: Project): Seq[String] = {
    val far = project.source(hop.to)
    expr.params.indices.collect {
      case i if isRule(i) && bindsFar(i, hop) &&
          far.rules.exists(r => r.name == expr.params(i).attribute && r.uniqueFlag) =>
        expr.params(i).attribute + "_uv_flag"
    }.distinct
  }

  /** The lookup join condition for `hop`: the rendered relation ANDed with
    * its far side's guards. A guard the far source lacks is a CompileError.
    */
  def joinCondition(
      hop: Hop, project: Project, near: String => String, far: String => String): String = {
    val cond = render(hop, near, far)
    val g = guards(hop, project)
    val farRules = project.source(hop.to).rules.map(_.name).toSet
    g.find(!farRules.contains(_)).foreach { missing =>
      throw CompileError(
        s"Uniqueness validation enrichment is missing or inactive for rule " +
          s"'${missing.stripSuffix("_uv_flag")}' referenced in relation '${relation.name}'")
    }
    if (g.isEmpty) cond else (s"($cond)" +: g.map(far)).mkString(" AND ")
  }
}

object CompiledRelation {

  /** Parse `r` and bind its parameters; `isRule(source, p)` resolves p's
    * attribute in the source it binds (and rejects an unknown one).
    */
  def compile(r: RelationDef, isRule: (String, ParamRef) => Boolean): CompiledRelation = {
    val e = ExprParser.parse(r.expression)
    if (e.hasAggregates || e.windowFlag)
      throw CompileError(s"Relation '${r.name}': expression must be a plain boolean expression")
    val sides = e.params.map { p =>
      p.container match {
        case "This" | "Related" => p.container
        case other =>
          throw CompileError(
            s"Relation '${r.name}': parameter [$other] must be [This] or [Related]")
      }
    }
    CompiledRelation(r, e, sides, e.params.zip(sides).map { case (p, side) =>
      isRule(end(r, side), p)
    })
  }

  private def end(r: RelationDef, side: String): String =
    if (side == "This") r.sourceName else r.relatedName
}
