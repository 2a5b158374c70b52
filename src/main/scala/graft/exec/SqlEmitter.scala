package graft.exec

import graft.analyze._
import graft.core._
import graft.core.Sql.q
import graft.exec.Lowering.{Agg, Lookup, Rule}
import scala.collection.mutable

/** Reference-comparable SQL side channel.
  *
  * Prints the steps of [[Lowering]] as executable Spark SQL text in the
  * reference's shape — a CTE chain with LEFT JOIN lookups and correlated
  * `LEFT JOIN LATERAL (SELECT agg … WHERE corr)` many-joins (reference:
  * u_enr_query_generate_query.sql:45-99, u_enr_query_generate_many_joins
  * .sql:15-39) — plus per-output queries and a run.sql concatenation
  * (svc_generate_queries.sql:85-127).
  *
  * This is a *diffing/golden artifact*, not the execution path: the engine
  * executes DataFrame plans ([[SourcePlanner]] and [[OutputPlanner]] over
  * the same steps). SqlEmitterSpec executes both formulations and compares
  * them. The lateral form is the faithful reference emission; the planner
  * deliberately rewrites it to groupBy+join for scale (SCALE.md).
  *
  * The emitter is Spark-free, so it raises only the checks that need no
  * type, which lowering runs for both renderers. A non-boolean output
  * filter is caught where a type exists: by [[OutputPlanner]] and by
  * [[graft.analyze.TypeProbe]], which `Main emit` runs first.
  *
  * @param ruleTypes probed rule types ((source, rule) → DataType) from
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

  /** Full SQL for one source's hub query: one CTE per rule, carrying the
    * joins its lookups and spans need.
    */
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
    val joins = mutable.ListBuffer.empty[String]
    // lookups joined in the CTE being built: their columns are addressed
    // through the join alias, and re-selected so later CTEs inherit them
    // through T.* (lateral aliases are single-value and consumed in place)
    val lookupIds = mutable.ListBuffer.empty[Int]

    def col(l: Option[Lookup], attr: String): String = l match {
      case Some(l) => s"${if (lookupIds.contains(l.id)) s"J${l.id}" else "T"}.${q(l.prefix + attr)}"
      case None    => s"T.${q(attr)}"
    }
    // a SELF-join reads the previous CTE (the planner's snapshot)
    def relatedRef(hop: Hop): String =
      if (hop.to == s.name) ctes.last._1 else hubRef(hop.to)

    Lowering.source(cp, cs).foreach {
      case l: Lookup =>
        val alias = s"J${l.id}"
        val farColNames =
          if (l.hop.to == s.name) s.rawAttributes.map(_.name) ++ l.done
          else {
            val far = cp.project.source(l.hop.to)
            far.rawAttributes.map(_.name) ++ far.rules.map(_.name)
          }
        val farCols = farColNames.map(c => s"${q(c)} AS ${q(l.prefix + c)}").mkString(", ")
        val cond = l.on(col(l.near, _), attr => s"$alias.${q(l.prefix + attr)}")
        joins += s"LEFT JOIN (SELECT $farCols FROM ${relatedRef(l.hop)}) $alias\n    ON $cond"
        lookupIds += l.id
      case a: Agg =>
        val alias = s"A${a.id}"
        val cond = a.on(col(a.transit, _), attr => s"R.${q(attr)}")
        joins += s"LEFT JOIN LATERAL (SELECT ${a.call(attr => s"R.${q(attr)}")} AS " +
          s"${q(alias + "_v")}\n    FROM ${relatedRef(a.hop)} R WHERE $cond) $alias ON true"
      case r: Rule =>
        val exprSql = r.sql(col, a => s"A${a.id}.${q(s"A${a.id}_v")}")
        // decimal discipline for inferred-decimal rules (planner parity)
        val cast = r.cast.orElse(ruleTypes.get((s.name, r.name)).collect {
          case _: org.apache.spark.sql.types.DecimalType => CoreTypes.Decimal3812
        })
        val value = cast.fold(exprSql)(t => s"CAST($exprSql AS ${t.sql})")
        val carried = ("T.*" +: lookupIds.map(id => s"J$id.*").toSeq).mkString(", ")
        ctes += s"${cteNs}_cte${ctes.size}" ->
          (s"SELECT $carried, $value AS ${q(r.name)}\n  FROM ${ctes.last._1} T" +
            (if (joins.nonEmpty) joins.mkString("\n  ", "\n  ", "") else ""))
        joins.clear()
        lookupIds.clear()
    }

    val finalCols = (s.rawAttributes.map(_.name) ++ cs.rules.map(_.name))
      .map(q).mkString(", ")
    val cteSql = ctes.map { case (n, sql) => s"$n AS (\n  $sql\n)" }.mkString("WITH ", ",\n", "")
    s"$cteSql\nSELECT $finalCols FROM ${ctes.last._1}"
  }

  /** SQL for one output (channels, filters, aggregation, UNION ALL). */
  def outputSql(name: String): String = {
    Lowering.output(cp.output(name)).map { ch =>
      val select = ch.columns.map { case (c, value) =>
        s"CAST(${value.getOrElse("null")} AS ${c.dataType.sql}) AS ${q(c.name)}"
      }.mkString(",\n    ")
      val where = ch.filter.fold("")(f => s"\n  WHERE $f")
      val groupBy = if (ch.grouped) s"\n  GROUP BY ${ch.dims.map(_._2).mkString(", ")}" else ""
      s"SELECT\n    $select\n  FROM ${hubRef(ch.source)}$where$groupBy"
    }.mkString("\nUNION ALL\n")
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
