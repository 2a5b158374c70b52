package graft.analyze

import graft.core._
import graft.parse._
import org.apache.spark.sql.SparkSession
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
  * Dependency waves (importProject.py:87-108 re-tests as types resolve) are
  * implicit here: rules are probed in evaluation order and sources in
  * topological order, so a rule's dependencies are always typed before it.
  * The check runs in two passes:
  *  1. typing — every probe query is analyzed, never executed, in that
  *     order (then relations, then filters); each rule's type is recorded
  *     as it resolves, so dependents' exemplars see it;
  *  2. NULL check — the typed probes execute together in a few shared
  *     queries (see `nullFlags`), one `head()` each.
  * If either pass fails anywhere, the state is cleared and the
  * per-expression path (`checkSequentially`: one executed probe per
  * expression, in the same order) runs instead, so the first error and
  * its message are exactly what that path reports. Both passes give the
  * same types and the same warnings in the same order as that path.
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
  /** Typed probes whose NULL check is still to run, in probe order, with
    * the subject their warning would name.
    */
  private val unchecked = mutable.ArrayBuffer.empty[(String, ProbeParts)]

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
    val nulls =
      try {
        walk(cp, p => Right((spark.sql(p.sql).schema.fields.head.dataType, None)))
        Some(nullFlags(unchecked.map(_._2).toIndexedSeq))
      } catch { case NonFatal(_) => None }
    nulls match {
      case Some(flags) =>
        unchecked.map(_._1).zip(flags).foreach { case (subject, isNull) =>
          if (isNull) warn(subject)
        }
        (ruleTypes.toMap, warnings.toList)
      case None => checkSequentially(cp)
    }
  }

  /** The per-expression path: each expression's probe executes on its
    * own, and each error and warning is raised where the walk meets it.
    */
  private[analyze] def checkSequentially(
      cp: CompiledProject): (Map[(String, String), DataType], Seq[String]) = {
    ensureDatatypesView(spark)
    ruleTypes.clear(); warnings.clear(); unchecked.clear()
    walk(cp, p => runProbe(p.sql).map(cols => (cols.head._1, Some(cols.head._2))))
    (ruleTypes.toMap, warnings.toList)
  }

  /** Probe every rule (sources in topological order, rules in evaluation
    * order), then every relation, then every output filter. `probe` gives
    * an expression's result type and, when it executed the expression,
    * whether the result was NULL; `None` defers the NULL check to
    * `unchecked`.
    */
  private def walk(cp: CompiledProject, probe: Prober): Unit = {
    cp.sources.foreach { cs =>
      cs.rules.foreach(cr => probeRule(cp, cs.source, cr, probe))
    }
    cp.relations.values.foreach(probeRelation(cp, _, probe))
    cp.outputs.foreach { co =>
      co.channels.foreach(ch => ch.filter.foreach(probeFilter(cp, co, ch, _, probe)))
    }
  }

  private def paramType(cp: CompiledProject, sourceOfThis: String, rp: ResolvedParam): DataType = {
    val source = if (rp.path.isEmpty) sourceOfThis else rp.targetSource
    attrType(cp, source, rp.ref)
  }

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

  private def probeRule(
      cp: CompiledProject, s: SourceDef, cr: CompiledRule, probe: Prober): Unit = {
    val parts = probeParts(cr.expr, i => paramType(cp, s.name, cr.params(i)),
      cr.rule.castDatatype)
    probe(parts) match {
      case Left(err) =>
        throw CompileError(
          s"""Invalid rule expressions: [{"rule_name": "${cr.name}", """ +
            s""""source_name": "${s.name}", "error": "$err"}]""")
      case Right((dt, isNull)) =>
        noteNull(s"rule '${cr.name}' of source '${s.name}'", parts, isNull)
        ruleTypes((s.name, cr.name)) = CoreTypes.normalize(dt)
    }
  }

  private def probeRelation(cp: CompiledProject, rel: CompiledRelation, probe: Prober): Unit = {
    val parts = probeParts(rel.expr, { i =>
      val side = if (rel.sides(i) == "This") rel.relation.sourceName
                 else rel.relation.relatedName
      attrType(cp, side, rel.expr.params(i))
    }, None)
    probeBoolean(parts, probe, s"relation '${rel.relation.name}'") { err =>
      CompileError(
        s"""Invalid relation expressions: [{"name": "${rel.relation.name}", "error": "$err"}]""")
    }
  }

  private def probeFilter(
      cp: CompiledProject, co: CompiledOutput, ch: CompiledChannel, f: CompiledFilter,
      probe: Prober): Unit = {
    val src = ch.channel.sourceName
    val parts = probeParts(f.expr, i => paramType(cp, src, f.params(i)), None)
    probeBoolean(parts, probe, s"filter of output '${co.output.name}' (channel '$src')") { err =>
      CompileError(
        s"""Invalid output filter expressions: [{"source_name": "$src", """ +
          s""""output_name": "${co.output.name}", "error": "$err"}]""")
    }
  }

  /** Relations and filters must probe as boolean; anything else, or a probe
    * error, is the caller's `invalid` error.
    */
  private def probeBoolean(parts: ProbeParts, probe: Prober, subject: String)(
      invalid: String => CompileError): Unit = {
    val outcome = probe(parts)
    outcome match {
      case Right((BooleanType, isNull)) => noteNull(subject, parts, isNull)
      case _ =>
        throw invalid(outcome.left.toOption.getOrElse(
          s"data_type ${outcome.toOption.map(o => CoreTypes.typeName(o._1)).getOrElse("?")} is not boolean"))
    }
  }

  private def noteNull(subject: String, parts: ProbeParts, isNull: Option[Boolean]): Unit =
    isNull match {
      case Some(wasNull) => if (wasNull) warn(subject)
      case None          => unchecked += subject -> parts
    }

  private def warn(what: String): Unit = {
    val msg = s"$what: $NullWarning"
    warnings += msg
    if (failOnNullResult)
      throw CompileError(s"NULL probe result (strict mode): $msg")
  }

  /** Whether each probe's result is NULL on the row its own query's
    * `head()` reads. Probes with parameters and no window share queries:
    * scalar bodies with scalar bodies, aggregate bodies with aggregate
    * bodies, each query over the union of its members' `ct` entries, so
    * two probes share one only when every alias they both bind has the
    * same exemplar (aliases compared lower-cased, as Spark resolves
    * column names). Aliases are never renamed — struct-building bodies
    * take their field names from them. A window body runs alone (row
    * order after a `Window` depends on its spec), and so does a
    * parameter-less one (a `count(*)` body counts the rows of `FROM ct`).
    * Throws if any query fails.
    */
  private def nullFlags(probes: IndexedSeq[ProbeParts]): IndexedSeq[Boolean] = {
    final class Group(val aggregate: Boolean) {
      val entries = mutable.LinkedHashMap.empty[String, String]
      val members = mutable.ArrayBuffer.empty[Int]
      def admits(p: ProbeParts): Boolean =
        p.aggregate == aggregate &&
          p.entries.forall { case (a, e) => entries.get(a.toLowerCase(Locale.ROOT)).forall(_ == e) }
    }
    def firstRowNulls(sql: String): Seq[Boolean] =
      runProbe(sql).fold(err => throw CompileError(err), _.map(_._2))
    val flags = Array.ofDim[Boolean](probes.size)
    val groups = mutable.ArrayBuffer.empty[Group]
    probes.indices.foreach { i =>
      val p = probes(i)
      if (p.entries.isEmpty || p.window) flags(i) = firstRowNulls(p.sql).head
      else {
        val g = groups.find(_.admits(p)).getOrElse {
          val g = new Group(p.aggregate); groups += g; g
        }
        p.entries.foreach { case (a, e) => g.entries(a.toLowerCase(Locale.ROOT)) = e }
        g.members += i
      }
    }
    groups.foreach { g =>
      val bodies = g.members.zipWithIndex.map { case (i, k) => s"${probes(i).body} AS c$k" }
      val sql = s"WITH ct AS (SELECT ${g.entries.values.mkString(", ")} FROM datatypes) " +
        s"SELECT ${bodies.mkString(", ")} FROM ct"
      g.members.zip(firstRowNulls(sql)).foreach { case (i, isNull) => flags(i) = isNull }
    }
    flags.toIndexedSeq
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

  /** Two-row frame with one non-null column per canonical scalar type
    * (clone of the reference probe view's shape — miniSparky.py:32-36;
    * values are our own, only the types matter).
    */
  def ensureDatatypesView(spark: SparkSession): Unit =
    spark.sql(
      """SELECT CAST(-12.34 AS DECIMAL(10,2)) `decimal`,
        |       CAST('graft probe row one' AS STRING) `string`,
        |       CAST(7 AS INT) `int`,
        |       CAST(4.25 AS FLOAT) `float`,
        |       CAST(8.5 AS DOUBLE) `double`,
        |       CAST('2021-06-15' AS DATE) `date`,
        |       CAST('2021-06-15T12:30:00' AS TIMESTAMP) `timestamp`,
        |       true `boolean`,
        |       CAST(1234567890123 AS BIGINT) `long`
        |UNION ALL
        |SELECT CAST(-8150.99 AS DECIMAL(10,2)), CAST('row two' AS STRING),
        |       CAST(131 AS INT), CAST(41.9 AS FLOAT), CAST(87.6 AS DOUBLE),
        |       CAST('2024-02-29' AS DATE),
        |       CAST('2024-02-29T23:19:17' AS TIMESTAMP),
        |       true, CAST(99999999991 AS BIGINT)
        |""".stripMargin).createOrReplaceTempView(ViewName)

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

  /** One probe query, split so the NULL pass can share a query between
    * probes: the `ct` entries (alias → `<exemplar> AS <alias>`, empty when
    * the expression has no parameters) and the select body.
    */
  private[analyze] final case class ProbeParts(
      entries: Seq[(String, String)], body: String, aggregate: Boolean, window: Boolean) {
    def sql: String =
      if (entries.isEmpty) s"SELECT $body as col1"
      else s"WITH ct AS (SELECT ${entries.map(_._2).mkString(", ")} FROM datatypes) " +
        s"SELECT $body as col1 FROM ct"
  }

  /** Result type of one probe, and whether it was NULL when the probe ran;
    * `None` when only its type was taken.
    */
  private type Prober = ProbeParts => Either[String, (DataType, Option[Boolean])]

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
    def quote(n: String) = "`" + n.replace("`", "``") + "`"
    def alias(i: Int): String = {
      val p = e.params(i)
      (p.attribute +: p.keys).mkString("__")
    }
    val hasAggs = e.hasAggregates
    // non-aggregated params wrap in first_value so the probe query stays a
    // valid global aggregate (reference :49-52)
    var body = e.render(
      i => if (hasAggs) s"first_value(${quote(alias(i))})" else quote(alias(i)),
      j => e.renderAggInner(j, i => quote(alias(i))))
    castDatatype.foreach(t => body = s"CAST($body as $t)")
    val entries = e.params.indices
      .map(i => alias(i) -> s"${exemplar(paramType(i))} AS ${quote(alias(i))}").distinct
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
