package graft.exec

import graft.analyze._
import graft.core._
import graft.core.Sql.{q, withKeys}
import scala.collection.mutable

/** Reference-comparable SQL side channel.
  *
  * Emits each compiled source as executable Spark SQL text in the
  * reference's shape — a CTE chain with LEFT JOIN lookups and correlated
  * `LEFT JOIN LATERAL (SELECT agg … WHERE corr)` many-joins (reference:
  * u_enr_query_generate_query.sql:45-99, u_enr_query_generate_many_joins
  * .sql:15-39) — plus per-output queries and a run.sql concatenation
  * (svc_generate_queries.sql:85-127).
  *
  * This is a *diffing/golden artifact*, not the execution path: the engine
  * executes DataFrame plans (SourcePlanner). The SQL here is verified
  * equivalent by SqlEmitterSpec, which executes both formulations and
  * compares. Note the lateral form is the faithful reference emission; the
  * planner deliberately rewrites it to groupBy+join for scale (SCALE.md).
  */
/** @param ruleTypes probed rule types ((source, rule) → DataType) from
  *   [[graft.analyze.TypeProbe.checkWithTypes]]. Needed to emit the
  *   decimal-discipline cast for rules whose INFERRED type is decimal —
  *   the reference does the same with the probe-backfilled
  *   `enrichment.datatype` (u_enr_query_add_enrichment.sql:128-133).
  *   Without it, only explicit `cast_datatype` casts are emitted.
  */
final class SqlEmitter(
    cp: CompiledProject,
    ruleTypes: Map[(String, String), org.apache.spark.sql.types.DataType] = Map.empty) {

  /** FROM-clause text for a source's physical input. */
  type TableRef = SourceDef => String

  def hubRef(name: String): String = q("hub_" + name)

  /** Full SQL for one source's hub query. */
  def sourceSql(name: String, tableFor: TableRef): String = {
    val cs = cp.compiledSource(name)
    val s = cs.source
    val rawSelect = s.rawAttributes
      .map(a => s"CAST(T.${q(a.name)} AS ${a.dataType.sql}) AS ${q(a.name)}")
      .mkString(",\n    ")
    // CTE names are namespaced per source: hub views defined from this SQL
    // nest inside downstream sources' WITH clauses, and colliding CTE
    // names across scopes confuse Spark's InlineCTE pass
    val cteNs = name.replaceAll("[^A-Za-z0-9_]", "_")
    val ctes = mutable.ListBuffer[(String, String)](
      s"${cteNs}_cte0" -> s"SELECT\n    $rawSelect\n  FROM ${tableFor(s)} T")

    val joinPrefix = mutable.LinkedHashMap.empty[String, String]
    // rules already emitted in prior CTEs: a SELF-join subquery may only
    // name these (the planner's snapshot semantics — joining the full rule
    // list would reference columns later CTEs haven't produced yet)
    val computedRules = mutable.ListBuffer.empty[String]
    // joins attached to the CTE currently being built: their columns are
    // addressed via the join alias; only the NEXT CTE sees them through T.*
    val currentCteAlias = mutable.Map.empty[String, String]
    var counter = 0
    def nextId(): Int = { counter += 1; counter }
    val pendingJoins = mutable.ListBuffer.empty[String]
    // lookup-join aliases of the current CTE: their prefixed columns are
    // re-selected so later CTEs inherit them through T.* (lateral aliases
    // are single-value and consumed in place — not propagated)
    val pendingJoinAliases = mutable.ListBuffer.empty[String]

    def colRef(pathKey: String, attr: String): String = {
      val pfx = joinPrefix(pathKey)
      currentCteAlias.get(pathKey) match {
        case Some(alias) => s"$alias.${q(pfx + attr)}"
        case None        => s"T.${q(pfx + attr)}"
      }
    }

    def relatedRef(hop: Hop): String =
      if (hop.to == s.name) ctes.last._1 else hubRef(hop.to)

    def ensurePath(path: Vector[Hop]): Unit = {
      var i = 1
      while (i <= path.length) {
        val prefix = path.take(i)
        val key = SourcePlanner.pathKey(prefix)
        if (!joinPrefix.contains(key)) {
          val hop = prefix.last
          val pfx = s"__j${nextId()}_"
          val alias = s"J${counter}"
          val far = relatedRef(hop)
          val farSource = cp.project.source(hop.to)
          val farColNames =
            if (hop.to == s.name) s.rawAttributes.map(_.name) ++ computedRules
            else farSource.rawAttributes.map(_.name) ++ farSource.rules.map(_.name)
          val farCols = farColNames
            .map(c => s"${q(c)} AS ${q(pfx + c)}").mkString(", ")
          val currentBind: String => String =
            if (i == 1) attr => s"T.${q(attr)}"
            else attr => colRef(SourcePlanner.pathKey(prefix.init), attr)
          val cond = cp.relations(hop.relation.name)
            .joinCondition(hop, cp.project, currentBind, attr => s"$alias.${q(pfx + attr)}")
          pendingJoins += s"LEFT JOIN (SELECT $farCols FROM $far) $alias\n    ON $cond"
          pendingJoinAliases += alias
          joinPrefix(key) = pfx
          currentCteAlias(key) = alias
        }
        i += 1
      }
    }

    def bindParam(p: ResolvedParam): String = withKeys(
      if (p.path.isEmpty) s"T.${q(p.ref.attribute)}"
      else colRef(SourcePlanner.pathKey(p.path), p.ref.attribute), p.ref.keys)

    // one CTE per rule wave: joins needed by the rule are attached to the
    // CTE that computes it; `T.*` carries prior columns forward
    cs.rules.foreach { cr =>
      cr.params.foreach(p => if (p.aggIndex.isEmpty && p.path.nonEmpty) ensurePath(p.path))

      // lateral many-joins for aggregate spans (reference emission form)
      val lateralAliases = cr.expr.aggs.indices.map { j =>
        val path = cr.aggPaths(j)
        val transit = path.init
        if (transit.nonEmpty) ensurePath(transit)
        val lastHop = path.last
        val currentBind: String => String =
          if (transit.isEmpty) attr => s"T.${q(attr)}"
          else attr => colRef(SourcePlanner.pathKey(transit), attr)
        val inner = cr.expr.renderAggInner(j,
          i => withKeys(s"R.${q(cr.params(i).ref.attribute)}", cr.params(i).ref.keys))
        val cond = cp.relations(lastHop.relation.name)
          .render(lastHop, currentBind, attr => s"R.${q(attr)}")
        val alias = s"A${nextId()}"
        pendingJoins +=
          s"LEFT JOIN LATERAL (SELECT $inner AS ${q(alias + "_v")}\n    FROM ${relatedRef(lastHop)} R WHERE $cond) $alias ON true"
        s"$alias.${q(alias + "_v")}"
      }

      var exprSql = cr.expr.render(i => bindParam(cr.params(i)), j => lateralAliases(j))
      cr.rule.castDatatype match {
        case Some(t) =>
          exprSql = s"CAST($exprSql AS ${CoreTypes.parseTypeName(t).sql})"
        case None =>
          // decimal discipline for inferred-decimal rules (planner parity)
          ruleTypes.get((s.name, cr.name)) match {
            case Some(_: org.apache.spark.sql.types.DecimalType) =>
              exprSql = s"CAST($exprSql AS DECIMAL(38,12))"
            case _ =>
          }
      }
      val joins = pendingJoins.mkString("\n  ")
      val carried = ("T.*" +: pendingJoinAliases.map(_ + ".*").toSeq).mkString(", ")
      pendingJoins.clear()
      pendingJoinAliases.clear()
      currentCteAlias.clear()
      val cteName = s"${cteNs}_cte${ctes.size}"
      ctes += cteName ->
        (s"SELECT $carried, $exprSql AS ${q(cr.name)}\n  FROM ${ctes(ctes.size - 1)._1} T" +
          (if (joins.nonEmpty) s"\n  $joins" else ""))
      computedRules += cr.name
    }

    val finalCols = (s.rawAttributes.map(_.name) ++ cs.rules.map(_.name))
      .map(q).mkString(", ")
    val cteSql = ctes.map { case (n, sql) => s"$n AS (\n  $sql\n)" }.mkString("WITH ", ",\n", "")
    s"$cteSql\nSELECT $finalCols FROM ${ctes.last._1}"
  }

  /** SQL for one output (channels, filters, aggregation, UNION ALL). */
  def outputSql(name: String): String = {
    val co = cp.outputs.find(_.output.name == name)
      .getOrElse(throw CompileError(s"Unknown output '$name'"))
    val channels = co.channels.map { ch =>
      val hub = hubRef(ch.channel.sourceName)
      val where = ch.filter.map { f =>
        val sql = f.expr.render(i =>
          withKeys(q(f.params(i).ref.attribute), f.params(i).ref.keys))
        s"\n  WHERE $sql"
      }.getOrElse("")
      val byTarget = ch.mappings.map(m => m.mapping.targetColumn -> m).toMap
      def inner(m: CompiledMapping): String = withKeys(q(m.attribute), m.keys)
      if (ch.channel.operationType == OperationType.Aggregate) {
        val dims = ch.mappings.filter(_.mapping.aggregate.isEmpty)
        val select = co.output.columns.map { c =>
          byTarget.get(c.name) match {
            case Some(m) if m.mapping.aggregate.isDefined =>
              val d = if (m.mapping.distinct) "DISTINCT " else ""
              s"CAST(${m.mapping.aggregate.get}($d${inner(m)}) AS ${c.dataType.sql}) AS ${q(c.name)}"
            case Some(m) => s"CAST(${inner(m)} AS ${c.dataType.sql}) AS ${q(c.name)}"
            case None => s"CAST(null AS ${c.dataType.sql}) AS ${q(c.name)}"
          }
        }.mkString(",\n    ")
        val groupBy = dims.map(inner).mkString(", ")
        s"SELECT\n    $select\n  FROM $hub$where\n  GROUP BY $groupBy"
      } else {
        val select = co.output.columns.map { c =>
          byTarget.get(c.name) match {
            case Some(m) => s"CAST(${inner(m)} AS ${c.dataType.sql}) AS ${q(c.name)}"
            case None => s"CAST(null AS ${c.dataType.sql}) AS ${q(c.name)}"
          }
        }.mkString(",\n    ")
        s"SELECT\n    $select\n  FROM $hub$where"
      }
    }
    channels.mkString("\nUNION ALL\n")
  }

  /** All sources (topo order) + outputs as a run script, reference style. */
  def runSql(tableFor: TableRef): String = {
    val sources = cp.sources.map { cs =>
      s"-- source: ${cs.source.name}\nCREATE OR REPLACE TEMPORARY VIEW " +
        s"${hubRef(cs.source.name)} AS\n${sourceSql(cs.source.name, tableFor)};"
    }
    val outputs = cp.outputs.map { co =>
      s"-- output: ${co.output.name}\nCREATE OR REPLACE TEMPORARY VIEW " +
        s"${q(co.output.target)} AS\n${outputSql(co.output.name)};"
    }
    (sources ++ outputs).mkString("\n\n")
  }
}
