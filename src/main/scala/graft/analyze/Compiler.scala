package graft.analyze

import graft.core._
import graft.parse._
import scala.collection.mutable

/** A rule/filter parameter after resolution: where its value comes from.
  *
  * (reference: svc_parse_enrichment.sql:256-419 — each `[S].attr` is looked
  * up raw-attribute-first, then enrichment, and cross-source references get
  * a relation path inferred or validated.)
  */
final case class ResolvedParam(
    ref: ParamRef,
    targetSource: String,
    isRule: Boolean,
    path: Vector[Hop],          // empty = [This] (no traversal)
    aggIndex: Option[Int])      // Some(j) when inside aggregate span j

final case class CompiledRule(
    rule: RuleDef,
    expr: ParsedExpr,
    params: IndexedSeq[ResolvedParam],
    aggPaths: IndexedSeq[Vector[Hop]]) {
  def name: String = rule.name

  /** Every relation path the rule traverses (scalar lookups + aggregates,
    * including transit prefixes which read intermediate hubs).
    */
  def paths: Seq[Vector[Hop]] = (params.filter(_.path.nonEmpty).map(_.path) ++ aggPaths).distinct
}

final case class CompiledMapping(
    mapping: Mapping,
    keys: Seq[String],           // struct keys after the attribute name
    attribute: String,           // attribute/rule of the channel source
    isRule: Boolean)

final case class CompiledChannel(
    channel: Channel,
    filter: Option[CompiledFilter],
    mappings: Seq[CompiledMapping])

final case class CompiledFilter(expr: ParsedExpr, params: IndexedSeq[ResolvedParam])

final case class CompiledSource(
    source: SourceDef,
    rules: Seq[CompiledRule],    // in evaluation order
    dependsOn: Set[String])      // other sources whose hubs this source reads

final case class CompiledOutput(output: OutputDef, channels: Seq[CompiledChannel])

final case class CompiledProject(
    project: Project,
    sources: Seq[CompiledSource], // topologically ordered
    relations: Map[String, CompiledRelation],
    outputs: Seq[CompiledOutput]) {
  def compiledSource(name: String): CompiledSource =
    sources.find(_.source.name == name)
      .getOrElse(throw CompileError(s"Unknown source '$name'"))

  def output(name: String): CompiledOutput =
    outputs.find(_.output.name == name)
      .getOrElse(throw CompileError(s"Unknown output '$name'"))

  /** `names` and every source they transitively depend on, grouped into
    * dependency levels in topological order: a source's level is one more
    * than its deepest dependency's, so each level reads only earlier ones.
    */
  def levels(names: Seq[String]): Seq[Seq[String]] = {
    val need = mutable.Set.empty[String]
    def visit(n: String): Unit = if (need.add(n)) compiledSource(n).dependsOn.foreach(visit)
    names.foreach(visit)
    val depth = mutable.Map.empty[String, Int]
    val order = sources.filter(cs => need(cs.source.name))
    order.foreach { cs =>
      depth(cs.source.name) = (cs.dependsOn.toSeq.map(depth(_) + 1) :+ 0).max
    }
    order.map(_.source.name).groupBy(depth).toSeq.sortBy(_._1).map(_._2)
  }
}

/** The compile pipeline: parse every expression, resolve parameters, infer
  * relation paths, check aggregate constraints, detect cycles, order rules
  * and sources (reference flow: impc_execute.sql → svc_parse_enrichment per
  * rule → svc_generate_queries topological ordering).
  */
final class Compiler(project: Project, maxHops: Int = RelGraph.DefaultMaxHops) {

  private val graph = new RelGraph(project, maxHops)

  private lazy val relationsCompiled: Map[String, CompiledRelation] =
    project.relations.map { r =>
      r.name -> CompiledRelation.compile(r, (src, p) => resolveAttr(src, p, r.name)._2)
    }.toMap

  def compile(): CompiledProject = {
    project.validate()
    val relations = relationsCompiled
    val sources = project.sources.map(s => s.name -> compileSource(s)).toMap
    val order = RelGraph.topoSort(project.sources.map(_.name), sources.map {
      case (n, cs) => n -> cs.dependsOn
    })
    val outputs = project.outputs.map(compileOutput)
    CompiledProject(project, order.map(sources), relations, outputs)
  }

  /** Compile + run the strict C12 type probe (reference import behavior:
    * every expression executes against the 2-row datatypes view before any
    * query is generated). Returns the compiled project and the probe's
    * NULL-result warnings; throws CompileError on invalid expressions.
    */
  def compileChecked(
      spark: org.apache.spark.sql.SparkSession,
      failOnNullResult: Boolean = false): (CompiledProject, Seq[String]) = {
    val cp = compile()
    (cp, TypeProbe.check(spark, cp, failOnNullResult))
  }

  // --------------------------------------------------------------- sources

  private def compileSource(s: SourceDef): CompiledSource = {
    val ruleByName = s.rules.map(r => r.name -> r).toMap
    if (ruleByName.size != s.rules.size)
      throw CompileError(s"Source '${s.name}': duplicate rule names")
    s.rules.foreach { r =>
      if (s.rawAttributes.exists(_.name == r.name))
        throw CompileError(s"Source '${s.name}': rule '${r.name}' clashes with a raw attribute")
    }

    val compiled = s.rules.map(r => r.name -> compileRule(s, r)).toMap

    // Same-source dependency edges for evaluation ordering + loop detection
    // (reference: u_check_enrichment_loop.sql:12-47, u_get_upstream_rules.sql).
    def sameSourceDeps(cr: CompiledRule): Set[String] = {
      val deps = mutable.Set.empty[String]
      cr.params.foreach { p =>
        if (p.path.isEmpty && p.isRule) deps += p.ref.attribute
        // self-path landing back on this source: the joined side must carry
        // the referenced rule, computed in an earlier wave
        if (p.path.nonEmpty && p.path.last.to == s.name && p.isRule) deps += p.ref.attribute
      }
      // a path's first hop binds rules of this source: compute those first
      cr.paths.flatMap(_.headOption).foreach { h0 =>
        val rel = relationsCompiled(h0.relation.name)
        rel.expr.params.indices.foreach { i =>
          if (rel.isRule(i) && rel.sourceOf(i) == s.name) deps += rel.expr.params(i).attribute
        }
      }
      deps.filter(ruleByName.contains).toSet
    }

    val deps = compiled.map { case (n, cr) => n -> sameSourceDeps(cr) }
    val order = orderRules(s.name, s.rules.map(_.name), deps)

    val sourceDeps = compiled.values.flatMap { cr =>
      cr.paths.flatten.map(_.to).filter(_ != s.name)
    }.toSet

    CompiledSource(s, order.map(compiled), sourceDeps)
  }

  /** Topological order of a source's rules; cycle = compile error
    * (reference: u_check_enrichment_loop.sql).
    */
  private def orderRules(
      sourceName: String, names: Seq[String], deps: Map[String, Set[String]]): Seq[String] = {
    val order = mutable.LinkedHashSet.empty[String]
    val visiting = mutable.Set.empty[String]
    def visit(n: String, stack: List[String]): Unit = {
      if (order.contains(n)) return
      if (visiting.contains(n))
        throw CompileError(
          s"Circular dependency in rules of source '$sourceName': " +
            (n :: stack).reverse.mkString(" -> "))
      visiting += n
      deps.getOrElse(n, Set.empty).toSeq.sorted.foreach(d => visit(d, n :: stack))
      visiting -= n
      order += n
    }
    names.foreach(visit(_, Nil))
    order.toSeq
  }

  // ----------------------------------------------------------------- rules

  private def compileRule(s: SourceDef, r: RuleDef): CompiledRule = {
    val e = ExprParser.parse(r.expression)
    val aggOf: Map[Int, Int] = e.aggs.zipWithIndex.flatMap { case (a, j) =>
      a.paramIndexes.map(_ -> j)
    }.toMap

    val params = e.params.zipWithIndex.map { case (p, i) =>
      resolveParam(s, r, p, aggOf.get(i))
    }

    // One relation path per aggregate (reference: svc_parse_enrichment.sql:463-471)
    val aggPaths = e.aggs.indices.map { j =>
      val inAgg = params.zipWithIndex.collect { case (rp, i) if aggOf.get(i).contains(j) => rp }
      if (inAgg.isEmpty)
        throw CompileError(
          s"Rule '${r.name}': aggregate has no source parameters — aggregates must reference a related source")
      val paths = inAgg.map(p => (p.targetSource, p.path)).distinct
      if (paths.size > 1)
        throw CompileError(
          s"Rule '${r.name}': all parameters of one aggregate must use a single relation path")
      paths.head._2
    }
    CompiledRule(r, e, params, aggPaths)
  }

  private def resolveParam(
      s: SourceDef, r: RuleDef, p: ParamRef, aggIndex: Option[Int]): ResolvedParam = {
    if (p.container == "This") {
      if (aggIndex.isDefined)
        throw CompileError(
          s"Rule '${r.name}': aggregation is not allowed on [This] attributes — " +
            "reference a related source inside the aggregate")
      if (p.attribute == r.name)
        throw CompileError(s"Rule '${r.name}' references itself")
      val (_, isRule) = resolveAttr(s.name, p, r.name)
      ResolvedParam(p, s.name, isRule, Vector.empty, aggIndex)
    } else {
      val target = p.container
      if (!project.sourceByName.contains(target))
        throw CompileError(
          s"Rule '${r.name}': source `$target` referenced in expression does not exist")
      val (_, isRule) = resolveAttr(target, p, r.name)
      val explicit = r.parameters.find(_.sourceName == target).map(_.relations).getOrElse(Nil)
      val wantOne = aggIndex.isEmpty
      val path =
        if (explicit.nonEmpty) graph.inferPath(s.name, target, wantOne, explicit)
        else graph.inferPath(s.name, target, wantOne)
      ResolvedParam(p, target, isRule, path, aggIndex)
    }
  }

  /** Attribute lookup: raw attribute first, then rule (reference:
    * u_lookup_source_attribute.sql raw→enrichment→system precedence; system
    * attributes are unseeded/dead in core — SURVEY §1.1).
    */
  private def resolveAttr(sourceName: String, p: ParamRef, forRule: String): (String, Boolean) = {
    val src = project.source(sourceName)
    if (src.rawAttributes.exists(_.name == p.attribute)) (p.attribute, false)
    else if (src.rules.exists(_.name == p.attribute)) (p.attribute, true)
    else
      throw CompileError(s"Attribute `${p.attribute}` does not exist in source `$sourceName`")
  }

  // --------------------------------------------------------------- outputs

  private def compileOutput(o: OutputDef): CompiledOutput = {
    val channels = o.channels.map { ch =>
      val src = project.source(ch.sourceName)
      val filter = ch.filter.map { f =>
        val e = ExprParser.parse(f)
        if (e.hasAggregates)
          throw CompileError(s"Output '${o.name}': filter cannot contain aggregates")
        // The reference only binds `T` (the channel source row) in emitted
        // filters (u_output_generate_query.sql:141) — [This] params only.
        val params = e.params.map { p =>
          if (p.container != "This")
            throw CompileError(
              s"Output '${o.name}': filter parameters must use [This] (got [${p.container}])")
          resolveParam(src, RuleDef(s"__filter_${o.name}", f), p, None)
        }
        CompiledFilter(e, params)
      }
      val mappings = ch.mappings.map { m =>
        m.aggregate.foreach { fn =>
          if (!ExprParser.aggregateFunctions.contains(fn))
            throw CompileError(
              s"Output '${o.name}': aggregate function '$fn' is not allow-listed")
        }
        // mapping expression: attribute name optionally followed by struct keys
        val parts = m.expression.split("\\.").toSeq
        val attr = parts.head
        val isRule =
          if (src.rawAttributes.exists(_.name == attr)) false
          else if (src.rules.exists(_.name == attr)) true
          else
            throw CompileError(
              s"Output '${o.name}': attribute `$attr` does not exist in source `${src.name}`")
        CompiledMapping(m, parts.tail, attr, isRule)
      }
      CompiledChannel(ch, filter, mappings)
    }
    CompiledOutput(o, channels)
  }
}
