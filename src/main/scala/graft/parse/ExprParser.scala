package graft.parse

import graft.core.CompileError

/** Parsed-expression IR.
  *
  * An expression is split into segments: literal SQL text, parameter
  * references (`[Container].attribute.key1...`), and aggregate spans
  * (`sum(<inner segments>)`). This mirrors the reference compiler's
  * `P<n>` / `A<n>` placeholder IR
  * (reference: database/code/meta/u-utility/u_parse_expression.sql:16-36,
  * svc-service/svc_parse_enrichment.sql:454-480).
  */
sealed trait Seg
object Seg {
  final case class Text(s: String) extends Seg
  final case class Param(i: Int) extends Seg // index into ParsedExpr.params
  final case class Agg(j: Int) extends Seg   // index into ParsedExpr.aggs
}

/** `[container].attribute(.key)*` — keys are struct-field accesses
  * (reference: svc_parse_enrichment.sql:187-190; struct walk
  * u_get_struct_key_datatype.sql:20-40).
  */
final case class ParamRef(container: String, attribute: String, keys: Seq[String]) {
  def path: String = (attribute +: keys).mkString(".")
  override def toString: String = s"[$container].$path"
}

/** One aggregate span: allow-listed function over inner segments. */
final case class AggExpr(func: String, distinct: Boolean, inner: Vector[Seg]) {
  def paramIndexes: Seq[Int] = inner.collect { case Seg.Param(i) => i }
}

final case class ParsedExpr(
    raw: String,
    segments: Vector[Seg],
    params: IndexedSeq[ParamRef],
    aggs: IndexedSeq[AggExpr],
    windowFlag: Boolean) {

  def hasAggregates: Boolean = aggs.nonEmpty

  /** Render to SQL given per-parameter and per-aggregate SQL. */
  def render(param: Int => String, agg: Int => String = ParsedExpr.noAgg): String =
    ParsedExpr.renderSegs(segments, param, agg)

  /** Render one aggregate's inner expression (its argument list). */
  def renderAggInner(j: Int, param: Int => String): String = {
    val a = aggs(j)
    val inner = ParsedExpr.renderSegs(a.inner, param, ParsedExpr.noAgg)
    ParsedExpr.renderAggCall(a.func, a.distinct, inner)
  }
}

object ParsedExpr {
  def noAgg: Int => String =
    j => throw CompileError(s"Unexpected aggregate placeholder A$j")

  /** SQL for one allow-listed aggregate call. `schema_of_json_agg` is
    * allow-listed for reference parity (aggregateTable.sql:44) but exists
    * only on Databricks; on OSS Spark there is no runtime equivalent (the
    * SURVEY §7.1 `schema_of_json(any_value(x))` idea fails analysis —
    * schema_of_json requires a foldable literal), so a rule using it gets a
    * clean compile error naming the function instead of a raw
    * AnalysisException at run time.
    */
  def renderAggCall(func: String, distinct: Boolean, inner: String): String = {
    if (func.equalsIgnoreCase("schema_of_json_agg"))
      throw CompileError(
        "Aggregate function 'schema_of_json_agg' is Databricks-only and has no " +
          "OSS Spark equivalent; derive the schema with " +
          "schema_of_json('<literal sample json>'), or flatten the column with " +
          "graft.operators.Json.flatten (sampled schema inference)")
    val d = if (distinct) "DISTINCT " else ""
    s"$func($d$inner)"
  }
  def renderSegs(
      segs: Seq[Seg], param: Int => String, agg: Int => String): String = {
    val sb = new StringBuilder
    segs.foreach {
      case Seg.Text(s)  => sb.append(s)
      case Seg.Param(i) => sb.append(param(i))
      case Seg.Agg(j)   => sb.append(agg(j))
    }
    sb.toString
  }
}

/** Expression tokenizer + aggregate-span scanner.
  *
  * Re-implements (Spark-first, from scratch) the semantics of the reference's
  * char-scan parser: single-quote strings with `''` escape, `[Source].attr`
  * extraction, numeric `[0]` kept as literal array index, empty/nested
  * bracket errors (reference: svc_parse_enrichment.sql:149-433), and the
  * paren/quote-aware aggregate scanner with window discrimination and
  * nested-aggregate rejection
  * (reference: u_parse_enrichment_aggregates.sql:27-135).
  */
object ExprParser {

  /** The 45 allow-listed aggregate functions
    * (reference: database/schema/10 aggregateTable.sql:10-56).
    */
  val aggregateFunctions: Set[String] = Set(
    "any", "any_value", "approx_count_distinct", "approx_percentile", "avg",
    "bit_or", "bit_xor", "bool_and", "bool_or", "some", "collect_list",
    "array_agg", "collect_set", "corr", "count", "count_if",
    "count_min_sketch", "covar_pop", "covar_samp", "every", "first",
    "first_value", "kurtosis", "last", "last_value", "max", "max_by", "mean",
    "median", "mode", "min", "min_by", "percentile", "percentile_approx",
    "skewness", "std", "stddev", "stddev_pop", "stddev_samp",
    "schema_of_json_agg", "sum", "var_pop", "var_samp", "variance")

  private val WindowRe = """(?is).*\bover\s*\(.*""".r

  def parse(expression: String): ParsedExpr = {
    val (segs0, params) = tokenizeParams(expression)
    val windowFlag = WindowRe.pattern.matcher(expression).matches()
    val (segs1, aggs) = scanAggregates(segs0)
    if (aggs.nonEmpty && windowFlag)
      throw CompileError(
        "Aggregate functions cannot be combined with window functions in one expression: " +
          expression)
    ParsedExpr(expression, segs1, params, aggs, windowFlag)
  }

  // ---------------------------------------------------------------- pass 1

  private def isIdentChar(c: Char): Boolean =
    c.isLetterOrDigit || c == '_'

  /** Extract `[Container].attr(.key)*` parameter references. */
  private def tokenizeParams(e: String): (Vector[Seg], IndexedSeq[ParamRef]) = {
    val segs = Vector.newBuilder[Seg]
    val params = IndexedSeq.newBuilder[ParamRef]
    var nParams = 0
    val text = new StringBuilder
    var i = 0
    val n = e.length

    def flushText(): Unit =
      if (text.nonEmpty) { segs += Seg.Text(text.toString); text.clear() }

    def copyQuoted(quote: Char, doubled: Boolean): Unit = {
      // assumes e(i) == quote
      text.append(e(i)); i += 1
      var done = false
      while (i < n && !done) {
        val c = e(i)
        text.append(c); i += 1
        if (c == quote) {
          if (doubled && i < n && e(i) == quote) { text.append(e(i)); i += 1 }
          else done = true
        }
      }
      if (!done) throw CompileError(s"Unterminated $quote-quoted literal in expression: $e")
    }

    while (i < n) {
      e(i) match {
        case '\'' => copyQuoted('\'', doubled = true)
        case '"'  => copyQuoted('"', doubled = false)
        case '`'  => copyQuoted('`', doubled = false)
        case '[' =>
          val close = {
            var j = i + 1
            var found = -1
            while (j < n && found < 0) {
              e(j) match {
                case ']' => found = j
                case '[' => throw CompileError(s"Nested brackets in expression: $e")
                case _   => j += 1
              }
            }
            if (found < 0) throw CompileError(s"Unbalanced bracket in expression: $e")
            found
          }
          val content = e.substring(i + 1, close).trim
          if (content.isEmpty)
            throw CompileError(s"Empty brackets in expression: $e")
          if (content.forall(_.isDigit)) {
            // array index — keep literal (reference: svc_parse_enrichment.sql:187-190)
            text.append(e.substring(i, close + 1)); i = close + 1
          } else {
            // [Container].attribute(.key)*
            i = close + 1
            if (i >= n || e(i) != '.')
              throw CompileError(
                s"Source reference [$content] must be followed by '.attribute' in: $e")
            val parts = Vector.newBuilder[String]
            var more = true
            while (more && i < n && e(i) == '.') {
              val start = i + 1
              var j = start
              while (j < n && isIdentChar(e(j))) j += 1
              if (j == start) more = false // trailing '.': leave to SQL (error later)
              else {
                val part = e.substring(start, j)
                // numeric path part would be a malformed struct key
                parts += part
                i = j
                // continue only if '.' followed by identifier-start
                more = i < n && e(i) == '.' && i + 1 < n && isIdentChar(e(i + 1)) &&
                  !e(i + 1).isDigit
              }
            }
            val all = parts.result()
            if (all.isEmpty)
              throw CompileError(
                s"Source reference [$content] must be followed by '.attribute' in: $e")
            flushText()
            segs += Seg.Param(nParams)
            params += ParamRef(content, all.head, all.tail)
            nParams += 1
          }
        case c =>
          text.append(c); i += 1
      }
    }
    flushText()
    (segs.result(), params.result())
  }

  // ---------------------------------------------------------------- pass 2

  // Marker encoding: params become single private-use chars so the aggregate
  // scanner can run over one flat string with positions mapping 1:1.
  private val MarkerBase = 0xE000

  private def toFlat(segs: Vector[Seg]): String = {
    val sb = new StringBuilder
    segs.foreach {
      case Seg.Text(s)  => sb.append(s)
      case Seg.Param(i) => sb.append((MarkerBase + i).toChar)
      case Seg.Agg(_)   => throw new IllegalStateException("agg before scan")
    }
    sb.toString
  }

  private def fromFlat(flat: String): Vector[Seg] = {
    val segs = Vector.newBuilder[Seg]
    val text = new StringBuilder
    flat.foreach { c =>
      if (c >= MarkerBase && c < MarkerBase + 6000) {
        if (text.nonEmpty) { segs += Seg.Text(text.toString); text.clear() }
        segs += Seg.Param(c - MarkerBase)
      } else text.append(c)
    }
    if (text.nonEmpty) segs += Seg.Text(text.toString)
    segs.result()
  }

  /** Positions of quote-state per char (true = inside a string literal). */
  private def quoteMask(s: String): Array[Boolean] = {
    val mask = new Array[Boolean](s.length)
    var i = 0
    var q: Char = 0
    while (i < s.length) {
      val c = s(i)
      if (q == 0) {
        if (c == '\'' || c == '"' || c == '`') { q = c; mask(i) = true }
      } else {
        mask(i) = true
        if (c == q) {
          if (q == '\'' && i + 1 < s.length && s(i + 1) == '\'') { mask(i + 1) = true; i += 1 }
          else q = 0
        }
      }
      i += 1
    }
    mask
  }

  private def matchingParen(s: String, mask: Array[Boolean], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      if (!mask(i)) {
        if (s(i) == '(') depth += 1
        else if (s(i) == ')') {
          depth -= 1
          if (depth == 0) return i
        }
      }
      i += 1
    }
    throw CompileError(s"Unbalanced parentheses in expression")
  }

  private final case class Span(func: String, nameStart: Int, open: Int, close: Int)

  /** Find top-level allow-listed aggregate spans (window calls excluded). */
  private def findSpans(flat: String): Vector[Span] = {
    val mask = quoteMask(flat)
    val spans = Vector.newBuilder[Span]
    var i = 0
    val n = flat.length
    while (i < n) {
      if (!mask(i) && (flat(i).isLetter || flat(i) == '_')) {
        var j = i
        while (j < n && isIdentChar(flat(j))) j += 1
        val word = flat.substring(i, j).toLowerCase
        var k = j
        while (k < n && flat(k).isWhitespace) k += 1
        if (aggregateFunctions.contains(word) && k < n && flat(k) == '(' && !mask(k)) {
          val close = matchingParen(flat, mask, k)
          // window discrimination: `agg(...) OVER (` is not a lateral aggregate
          // (reference: u_parse_enrichment_aggregates.sql:60-80)
          var m = close + 1
          while (m < n && flat(m).isWhitespace) m += 1
          val isWindow = m + 4 <= n && flat.substring(m, m + 4).equalsIgnoreCase("over") && {
            var p = m + 4
            while (p < n && flat(p).isWhitespace) p += 1
            p < n && flat(p) == '('
          }
          if (isWindow) {
            i = close + 1 // contents of OVER clause scanned next iterations
          } else {
            // nested aggregate rejection
            val innerSpans = findSpansIn(flat, mask, k + 1, close)
            if (innerSpans.nonEmpty)
              throw CompileError("Nested aggregate functions are not allowed")
            spans += Span(word, i, k, close)
            i = close + 1
          }
        } else i = j
      } else i += 1
    }
    spans.result()
  }

  private def findSpansIn(
      flat: String, mask: Array[Boolean], from: Int, until: Int): Vector[(String, Int)] = {
    val out = Vector.newBuilder[(String, Int)]
    var i = from
    while (i < until) {
      if (!mask(i) && (flat(i).isLetter || flat(i) == '_')) {
        var j = i
        while (j < until && isIdentChar(flat(j))) j += 1
        val word = flat.substring(i, j).toLowerCase
        var k = j
        while (k < until && flat(k).isWhitespace) k += 1
        if (aggregateFunctions.contains(word) && k < until && flat(k) == '(' && !mask(k))
          out += ((word, i))
        i = j
      } else i += 1
    }
    out.result()
  }

  private val DistinctRe = """(?is)^\s*DISTINCT\s+(.*)$""".r

  private def scanAggregates(segs0: Vector[Seg]): (Vector[Seg], IndexedSeq[AggExpr]) = {
    val flat = toFlat(segs0)
    val spans = findSpans(flat)
    if (spans.isEmpty) return (segs0, IndexedSeq.empty)
    val segs = Vector.newBuilder[Seg]
    val aggs = IndexedSeq.newBuilder[AggExpr]
    var pos = 0
    spans.zipWithIndex.foreach { case (sp, j) =>
      val before = flat.substring(pos, sp.nameStart)
      segs ++= fromFlat(before)
      val rawInner = flat.substring(sp.open + 1, sp.close)
      val (distinct, innerStr) = rawInner match {
        case DistinctRe(rest) => (true, rest)
        case _                => (false, rawInner)
      }
      aggs += AggExpr(sp.func, distinct, fromFlat(innerStr))
      segs += Seg.Agg(j)
      pos = sp.close + 1
    }
    segs ++= fromFlat(flat.substring(pos))
    (segs.result(), aggs.result())
  }
}
