package graft.analyze

import graft.core._
import graft.core.Sql.q
import graft.parse._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.types._
import java.util.Locale
import scala.collection.mutable
import scala.util.control.NonFatal

/** Compile-time empirical type checking — the reference's C12 pass.
  *
  * The reference spins up a local Spark at import time and executes every
  * rule / relation / output-filter expression against a fixed two-row
  * `datatypes` view with one column per canonical type
  * (reference: cli/dataforge/miniSparky.py:32-36). The probe expression is
  * `WITH ct AS (SELECT <type-exemplar> p<i>, ... FROM datatypes)
  * SELECT <expr> as col1 FROM ct`
  * (reference: u_build_datatype_test_expr.sql:26-74); non-aggregated
  * parameters are wrapped in `first_value(...)` when the expression contains
  * aggregates, struct/array exemplars are synthesized field-by-field
  * (u_datatype_test_expression.sql:33-67), and every decimal probes as
  * decimal(38,12).
  *
  * Outcomes, matching impc_update_test_results.sql:36-77 + miniSparky.py:55-89:
  *  - SQL/analysis error               → import fails ("Invalid rule
  *    expressions" / "Invalid relation expressions" / "Invalid output filter
  *    expressions", naming the object)
  *  - relation / filter not boolean    → import fails (same messages)
  *  - NULL result on the probe rows    → reference records a WARNING
  *    ("NULL values detected! ...") and continues; `failOnNullResult=true`
  *    escalates the warning to a CompileError (strict mode)
  *
  * Dependency waves (importProject.py:87-108 re-tests as types resolve):
  * a rule joins a wave once every rule its parameters read is typed, and
  * a relation or output filter once the rules it reads are. The check
  * runs wave by wave: the wave's probes are fused into a few shared
  * queries (see `probeWave`), which run at the same time on a small
  * [[graft.core.Pool]]; each query's schema types all of its members and
  * its `head()` gives their NULL flags. A wave's rule types are recorded
  * before the next wave is built. `datatypes` is a local relation (an
  * inline `VALUES` table), so Catalyst folds every scalar probe on the
  * driver and it launches no Spark job. The warnings are raised
  * afterwards in probe order: sources in topological order, rules in
  * evaluation order, then relations, then output filters.
  *
  * If any query fails, or a relation or filter is not boolean, the state
  * is cleared and the per-expression path (`checkSequentially`: one
  * executed probe per expression, in probe order) runs instead, so the
  * first error and its message are exactly what that path reports.
  * Without a failure both paths give the same types and the same
  * warnings in the same order.
  *
  * ANSI note: the reference probes on Spark 3.5 with ANSI off, where a
  * malformed cast returns NULL (→ warning). This engine runs Spark 4 with
  * ANSI on, so the same cast throws — the probe reports it as an invalid
  * expression instead. Strictly earlier failure for the same user error;
  * the NULL-warning path still fires for genuinely NULL results (try_cast,
  * missing JSON keys, …).
  */
final class TypeProbe(spark: SparkSession, failOnNullResult: Boolean = false) {

  import TypeProbe._

  /** Probed rule types per (source, rule) — decimal-normalized. */
  private val ruleTypes = mutable.Map.empty[(String, String), DataType]
  private val warnings = mutable.ListBuffer.empty[String]

  /** Probe the whole project; returns reference-parity warnings, throws
    * CompileError on failures.
    */
  def check(cp: CompiledProject): Seq[String] = checkWithTypes(cp)._2

  /** Probe + return the inferred rule types ((source, rule) → normalized
    * DataType) — the analog of the reference backfilling
    * `enrichment.datatype` from probe results
    * (impc_update_test_results.sql:80-84); consumers like the SQL emitter
    * need them to reproduce the decimal-discipline casts.
    */
  def checkWithTypes(cp: CompiledProject): (Map[(String, String), DataType], Seq[String]) = {
    ensureDatatypesView(spark)
    val nulls = try Some(probeInWaves(cp)) catch { case NonFatal(_) => None }
    nulls match {
      case Some(flags) =>
        flags.foreach { case (subject, isNull) => if (isNull) warn(subject) }
        (ruleTypes.toMap, warnings.toList)
      case None => checkSequentially(cp)
    }
  }

  /** The per-expression path, and the fused path's fallback: each
    * expression's probe executes on its own, in probe order, and each
    * error and warning is raised where the walk meets it.
    */
  private[analyze] def checkSequentially(
      cp: CompiledProject): (Map[(String, String), DataType], Seq[String]) = {
    ensureDatatypesView(spark)
    ruleTypes.clear(); warnings.clear()
    probes(cp).foreach { p =>
      runProbe(p.parts().sql) match {
        case Left(err) => throw p.invalid(err)
        case Right(cols) =>
          settle(p, cols.head._1)
          if (cols.head._2) warn(p.subject)
      }
    }
    (ruleTypes.toMap, warnings.toList)
  }

  /** The fused path: probes every wave, recording rule types, and returns
    * each probe's warning subject and NULL flag in probe order. Throws on
    * any failure.
    */
  private def probeInWaves(cp: CompiledProject): Seq[(String, Boolean)] = {
    val all = probes(cp).toIndexedSeq
    val flags = Array.ofDim[Boolean](all.size)
    var pending: IndexedSeq[Int] = all.indices
    while (pending.nonEmpty) {
      val (wave, later) = pending.partition(i => all(i).reads.forall(ruleTypes.contains))
      if (wave.isEmpty) throw CompileError("probe dependencies never resolve")
      wave.zip(probeWave(wave.map(all(_).parts()))).foreach { case (i, (dt, isNull)) =>
        settle(all(i), dt)
        flags(i) = isNull
      }
      pending = later
    }
    all.map(_.subject).zip(flags)
  }

  /** Every probe in probe order: sources in topological order with rules
    * in evaluation order, then relations, then output filters.
    */
  private def probes(cp: CompiledProject): Seq[Probe] = {
    def reads(sourceOfThis: String, params: Seq[ResolvedParam]) =
      params.filter(_.isRule).map(rp => (paramSource(sourceOfThis, rp), rp.ref.attribute)).toSet
    val rules = for (cs <- cp.sources; cr <- cs.rules) yield {
      val s = cs.source.name
      Probe(s"rule '${cr.name}' of source '$s'", reads(s, cr.params), Some((s, cr.name)),
        () => probeParts(cr.expr, i => paramType(cp, s, cr.params(i)), cr.rule.castDatatype),
        err => CompileError(
          s"""Invalid rule expressions: [{"rule_name": "${cr.name}", """ +
            s""""source_name": "$s", "error": "$err"}]"""))
    }
    val relations = cp.relations.values.map { rel =>
      val ps = rel.expr.params
      Probe(s"relation '${rel.relation.name}'",
        ps.indices.filter(rel.isRule).map(i => (rel.sourceOf(i), ps(i).attribute)).toSet, None,
        () => probeParts(rel.expr, i => attrType(cp, rel.sourceOf(i), ps(i)), None),
        err => CompileError(
          s"""Invalid relation expressions: [{"name": "${rel.relation.name}", "error": "$err"}]"""))
    }
    val filters = for (co <- cp.outputs; ch <- co.channels; f <- ch.filter) yield {
      val src = ch.channel.sourceName
      Probe(s"filter of output '${co.output.name}' (channel '$src')", reads(src, f.params), None,
        () => probeParts(f.expr, i => paramType(cp, src, f.params(i)), None),
        err => CompileError(
          s"""Invalid output filter expressions: [{"source_name": "$src", """ +
            s""""output_name": "${co.output.name}", "error": "$err"}]"""))
    }
    rules ++ relations ++ filters
  }

  /** Take a probe's result type: a rule's is recorded for its dependents;
    * a relation or filter must be boolean.
    */
  private def settle(p: Probe, dt: DataType): Unit = p.rule match {
    case Some(key) => ruleTypes(key) = CoreTypes.normalize(dt)
    case None =>
      if (dt != BooleanType)
        throw p.invalid(s"data_type ${CoreTypes.typeName(dt)} is not boolean")
  }

  private def paramSource(sourceOfThis: String, rp: ResolvedParam): String =
    if (rp.path.isEmpty) sourceOfThis else rp.targetSource

  private def paramType(cp: CompiledProject, sourceOfThis: String, rp: ResolvedParam): DataType =
    attrType(cp, paramSource(sourceOfThis, rp), rp.ref)

  private def attrType(cp: CompiledProject, sourceName: String, ref: ParamRef): DataType = {
    val s = cp.project.source(sourceName)
    val base = s.rawAttributes.find(_.name == ref.attribute).map(_.dataType)
      .orElse(ruleTypes.get((sourceName, ref.attribute)))
      .getOrElse(throw CompileError(
        s"Attribute `${ref.attribute}` of source `$sourceName` has no resolved type " +
          "(probe order violation)"))
    walkKeys(base, ref)
  }

  /** Struct-key walk (reference: u_get_struct_key_datatype.sql:20-40). */
  private def walkKeys(base: DataType, ref: ParamRef): DataType =
    ref.keys.foldLeft(base) { (dt, key) =>
      dt match {
        case st: StructType =>
          st.fields.find(_.name == key).map(_.dataType).getOrElse(
            throw CompileError(
              s"Key `$key` does not exist in struct schema of `${ref.attribute}`"))
        case other =>
          throw CompileError(
            s"Cannot access key `$key`: `${ref.attribute}` resolves to " +
              s"${other.simpleString}, not a struct")
      }
    }

  private def warn(what: String): Unit = {
    val msg = s"$what: $NullWarning"
    warnings += msg
    if (failOnNullResult)
      throw CompileError(s"NULL probe result (strict mode): $msg")
  }

  /** Each probe's result type and whether it is NULL on the row its
    * query's `head()` reads, from a few shared queries that run at the
    * same time. Probes with parameters share queries: scalar bodies with
    * scalar bodies, aggregate bodies with aggregate bodies, each query over
    * the union of its members' `ct` entries, so two probes share one only
    * when every alias they both bind has the same exemplar (aliases
    * compared lower-cased, as Spark resolves column names). Aliases are
    * never renamed — struct-building bodies take their field names from
    * them. A probe runs alone when its body has a window (row order after
    * a `Window` depends on its spec), no parameters (a `count(*)` body
    * counts the rows of `FROM ct`) or a name that is none of its own
    * aliases (in a shared query it could bind another member's column).
    * Throws if any query fails.
    */
  private def probeWave(wave: IndexedSeq[ProbeParts]): IndexedSeq[(DataType, Boolean)] = {
    final class Group(val aggregate: Boolean) {
      val entries = mutable.LinkedHashMap.empty[String, String]
      val members = mutable.ArrayBuffer.empty[Int]
      def admits(p: ProbeParts): Boolean =
        p.aggregate == aggregate &&
          p.entries.forall { case (a, e) => entries.get(a.toLowerCase(Locale.ROOT)).forall(_ == e) }
    }
    val queries = mutable.ArrayBuffer.empty[(Seq[Int], String)]
    val groups = mutable.ArrayBuffer.empty[Group]
    wave.indices.foreach { i =>
      val p = wave(i)
      if (p.entries.isEmpty || p.window || readsForeignNames(p)) queries += Seq(i) -> p.sql
      else {
        val g = groups.find(_.admits(p)).getOrElse {
          val g = new Group(p.aggregate); groups += g; g
        }
        p.entries.foreach { case (a, e) => g.entries(a.toLowerCase(Locale.ROOT)) = e }
        g.members += i
      }
    }
    groups.foreach { g =>
      val bodies = g.members.zipWithIndex.map { case (i, k) => s"${wave(i).body} AS c$k" }
      queries += g.members.toSeq -> (s"WITH ct AS (SELECT ${g.entries.values.mkString(", ")} " +
        s"FROM datatypes) SELECT ${bodies.mkString(", ")} FROM ct")
    }
    val results = Pool.all("graft-probe", queries.toSeq.map { case (_, sql) =>
      () => runProbe(sql).fold(err => throw CompileError(err), identity)
    })
    val out = Array.ofDim[(DataType, Boolean)](wave.size)
    queries.zip(results).foreach { case ((members, _), cols) =>
      members.zip(cols).foreach { case (i, c) => out(i) = c }
    }
    out.toIndexedSeq
  }

  /** Whether a probe body names a column that is none of its own aliases
    * (or hides names in a subquery) — Spark's parser tells, since lambda
    * variables parse as their own kind of name.
    */
  private def readsForeignNames(p: ProbeParts): Boolean = {
    val own = p.entries.map(_._1.toLowerCase(Locale.ROOT)).toSet
    try spark.sessionState.sqlParser.parseExpression(p.body).find {
      case a: UnresolvedAttribute => !own(a.nameParts.head.toLowerCase(Locale.ROOT))
      case _: SubqueryExpression  => true
      case _                      => false
    }.isDefined
    catch { case NonFatal(_) => true }
  }

  /** Execute one probe query and read its first row: Left(error) |
    * Right(per column: (type, wasNull)). The only place a probe runs.
    */
  private def runProbe(sql: String): Either[String, Seq[(DataType, Boolean)]] =
    try {
      val df = spark.sql(sql)
      val row = df.head()
      Right(df.schema.fields.toSeq.zipWithIndex.map { case (f, k) => (f.dataType, row.isNullAt(k)) })
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        Left(e.getSimpleMessage.replace("\"", "'").replace("\n", " "))
      case e: Exception =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName)
          .replace("\"", "'").replace("\n", " ").take(500))
    }
}

object TypeProbe {

  /** The reference's exact NULL-probe warning text (miniSparky.py:66-72). */
  val NullWarning: String =
    "NULL values detected! This typically indicates improper type casting " +
      "or that you're doing some very complex logic"

  private val ViewName = "datatypes"

  /** Two-row local relation with one column per canonical scalar type
    * (clone of the reference probe view's shape — miniSparky.py:32-36;
    * values are our own, only the types matter). Only `date` and
    * `timestamp` are nullable, as the casts make them. An inline `VALUES`
    * table, not a `UNION ALL` of two selects: Catalyst folds every scalar
    * probe over it on the driver (`ConvertToLocalRelation`), so such a
    * probe launches no Spark job. Registered only when the session does
    * not already hold a view with this exact plan: each registration is a
    * command execution of its own, and every probe pass calls this.
    */
  def ensureDatatypesView(spark: SparkSession): Unit = {
    val view = spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(-12.34 AS DECIMAL(10,2)), CAST('graft probe row one' AS STRING),
        |   CAST(7 AS INT), CAST(4.25 AS FLOAT), CAST(8.5 AS DOUBLE),
        |   CAST('2021-06-15' AS DATE), CAST('2021-06-15T12:30:00' AS TIMESTAMP),
        |   true, CAST(1234567890123 AS BIGINT)),
        |  (CAST(-8150.99 AS DECIMAL(10,2)), CAST('row two' AS STRING),
        |   CAST(131 AS INT), CAST(41.9 AS FLOAT), CAST(87.6 AS DOUBLE),
        |   CAST('2024-02-29' AS DATE), CAST('2024-02-29T23:19:17' AS TIMESTAMP),
        |   true, CAST(99999999991 AS BIGINT))
        |  AS t(`decimal`, `string`, `int`, `float`, `double`, `date`, `timestamp`,
        |       `boolean`, `long`)
        |""".stripMargin)
    val held = spark.sessionState.catalog.getRawTempView(ViewName).flatMap(_.plan)
    if (!held.exists(_.sameResult(view.queryExecution.analyzed)))
      view.createOrReplaceTempView(ViewName)
  }

  /** Constant exemplar expression for a parameter type
    * (reference: u_datatype_test_expression.sql:33-67 — struct/array
    * synthesized recursively, decimals probe as decimal(38,12), scalars read
    * the matching `datatypes` column).
    */
  def exemplar(dt: DataType): String = dt match {
    case st: StructType =>
      st.fields.map(f => s"${exemplar(f.dataType)} AS `${f.name}`")
        .mkString("struct(", ", ", ")")
    case at: ArrayType =>
      val e = exemplar(at.elementType)
      s"array($e,$e)"
    case _: DecimalType => "CAST(`decimal` AS decimal(38,12))"
    case other          => "`" + CoreTypes.typeName(other) + "`"
  }

  /** One probed expression. `reads` are the rules whose types its
    * exemplars need, `rule` the rule it types (`None` for a relation or
    * filter, which must be boolean), `invalid` its "Invalid ...
    * expressions" error; `parts` builds its probe once `reads` are typed.
    */
  private final case class Probe(
      subject: String,
      reads: Set[(String, String)],
      rule: Option[(String, String)],
      parts: () => ProbeParts,
      invalid: String => CompileError)

  /** One probe query, split so a wave can share a query between probes:
    * the `ct` entries (alias → `<exemplar> AS <alias>`, empty when the
    * expression has no parameters) and the select body.
    */
  private[analyze] final case class ProbeParts(
      entries: Seq[(String, String)], body: String, aggregate: Boolean, window: Boolean) {
    def sql: String =
      if (entries.isEmpty) s"SELECT $body as col1"
      else s"WITH ct AS (SELECT ${entries.map(_._2).mkString(", ")} FROM datatypes) " +
        s"SELECT $body as col1 FROM ct"
  }

  /** Build the probe query for one parsed expression
    * (reference: u_build_datatype_test_expr.sql:26-74).
    *
    * Parameters bind under their ATTRIBUTE name (suffixed with any struct
    * keys), exactly like the reference's `v_attribute_name` aliases —
    * `p<i>` aliases would silently rename the fields of struct-building
    * rules (`struct([This].a, [This].b)` must probe with fields a, b so
    * dependents' key walks resolve).
    */
  private[analyze] def probeParts(
      e: ParsedExpr, paramType: Int => DataType, castDatatype: Option[String]): ProbeParts = {
    def alias(i: Int): String = {
      val p = e.params(i)
      (p.attribute +: p.keys).mkString("__")
    }
    val hasAggs = e.hasAggregates
    // non-aggregated params wrap in first_value so the probe query stays a
    // valid global aggregate (reference :49-52)
    var body = e.render(
      i => if (hasAggs) s"first_value(${q(alias(i))})" else q(alias(i)),
      j => e.renderAggInner(j, i => q(alias(i))))
    castDatatype.foreach(t => body = s"CAST($body as $t)")
    val entries = e.params.indices
      .map(i => alias(i) -> s"${exemplar(paramType(i))} AS ${q(alias(i))}").distinct
    entries.groupBy(_._1).collect { case (a, es) if es.size > 1 => a }.headOption
      .foreach(a => throw CompileError(
        s"Probe alias collision: parameter `$a` resolves to different types " +
          "in one expression"))
    ProbeParts(entries, body, hasAggs, e.windowFlag)
  }

  /** Probe a compiled project (strict C12 mode): returns NULL-probe
    * warnings; throws CompileError on invalid expressions.
    */
  def check(
      spark: SparkSession, cp: CompiledProject,
      failOnNullResult: Boolean = false): Seq[String] =
    new TypeProbe(spark, failOnNullResult).check(cp)

  /** Probe + inferred rule types (see [[TypeProbe.checkWithTypes]]). */
  def checkWithTypes(
      spark: SparkSession, cp: CompiledProject,
      failOnNullResult: Boolean = false): (Map[(String, String), DataType], Seq[String]) =
    new TypeProbe(spark, failOnNullResult).checkWithTypes(cp)
}
