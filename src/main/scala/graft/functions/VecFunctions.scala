package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two ARRAY<FLOAT>
  * columns, with whole-stage codegen (`doGenCode`).
  *
  * Why an Expression and not a UDF or mapPartitions: a Scala UDF boxes
  * every element and blocks codegen; a mapPartitions pass (the previous
  * implementation) is compiled but forces an encoder boundary — rows
  * serialize out of Tungsten and back. This expression stays inside the
  * generated stage: the join that produces candidate pairs, the cosine,
  * and the threshold filter compile into ONE Java loop.
  *
  * Numerics: one interleaved left-to-right pass — the same accumulation
  * order as the SQL higher-order formulation and the DuckDB oracle, so
  * results are bit-identical across all three. Vectors of different
  * lengths throw (a dimension-mismatch bug upstream must fail loudly,
  * not surface as a truncated dot product; DuckDB errors too).
  */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine expects two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // loud failure, not a truncated dot product: an upstream dimension
    // bug must not surface as a slightly-off cosine (DuckDB's
    // list_dot_product errors on mismatch too, so silent truncation
    // would also silently break oracle parity)
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_cosine: vector length mismatch ($n vs ${y.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_cosine: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecCosine =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two ARRAY<FLOAT> columns (codegen'd). Split out of
  * [[FloatVecCosine]] so a self-join scoring stage can hoist the two
  * norm computations OUT of the per-pair loop (norms are per-vector,
  * candidate pairs are per-vector × occupancy — at sf1's ~23M SemDeDup
  * candidates that is 3× the flops for values already known).
  * `vec_dot(a, b) / (vec_norm(a) * vec_norm(b))` is BIT-IDENTICAL to
  * `vec_cosine(a, b)`: same left-to-right double accumulation per sum,
  * same `sqrt`·`sqrt` multiply — only the evaluation schedule moves.
  * Same loud length-mismatch contract as the cosine.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_dot: vector length mismatch ($n vs ${y.numElements()})")
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_dot: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Euclidean norm of an ARRAY<FLOAT> column (codegen'd) — the
  * per-vector half of the hoisted-cosine identity documented on
  * [[FloatVecDot]]: same left-to-right squared-sum accumulation as the
  * fused cosine, then one `Math.sqrt`.
  */
case class FloatVecNorm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"vec_norm expects an ARRAY<FLOAT> argument, got ${dt.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var ss = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      ss += xv * xv
      i += 1
    }
    math.sqrt(ss)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => {
      val m = classOf[FloatVecNorm].getName
      s"$m$$.MODULE$$.normOf($a)"
    })

  override protected def withNewChildInternal(newChild: Expression): FloatVecNorm =
    copy(child = newChild)
}

object FloatVecNorm {
  /** Called from generated code — keeps the codegen template one-line. */
  def normOf(x: ArrayData): Double = {
    var ss = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      ss += xv * xv
      i += 1
    }
    math.sqrt(ss)
  }
}

/** Native Catalyst expression: symmetric int8 (maxabs) quantization of an
  * ARRAY<FLOAT> vector — `q_i = round_half_away(x_i * 127.0 / max|x|)` as
  * ARRAY<TINYINT>, the all-zeros vector quantizing to all zeros. Cosine
  * is scale-invariant per vector, so the per-vector scale factor drops
  * out entirely and [[I8VecCosine]] runs on the quantized arrays alone —
  * 4× smaller storage/shuffle than FLOAT at 100 TB embedding scale, and
  * the candidate-scoring dot product becomes exact integer arithmetic.
  *
  * Rounding is HALF AWAY FROM ZERO explicitly (Math.floor(v+0.5) /
  * Math.ceil(v-0.5)): Java's Math.round is half-UP (floor-based), which
  * differs on negative halves from DuckDB/Spark SQL round — and the
  * quantized vectors are hash-compared engine-to-engine.
  */
case class FloatVecQuantizeQ8(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_quantize_q8 expects ARRAY<FLOAT>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "vec_quantize_q8"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) { val v = math.abs(x.getFloat(i).toDouble); if (v > mx) mx = v; i += 1 }
    val out = new Array[Byte](n)
    if (mx > 0.0) {
      i = 0
      while (i < n) {
        val v = x.getFloat(i).toDouble * 127.0 / mx
        out(i) = (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toByte
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val mx = ctx.freshName("mx")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $mx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = Math.abs((double) $a.getFloat($i));
         |  if ($v > $mx) $mx = $v;
         |}
         |byte[] $out = new byte[$n];
         |if ($mx > 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $v = (double) $a.getFloat($i) * 127.0 / $mx;
         |    $out[$i] = (byte) ($v >= 0 ? Math.floor($v + 0.5d) : Math.ceil($v - 0.5d));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatVecQuantizeQ8 =
    copy(child = newChild)
}

/** Native Catalyst expression: cosine of two int8-quantized
  * ([[FloatVecQuantizeQ8]]) ARRAY<TINYINT> vectors. The dot product and
  * norms accumulate in 64-bit integers — EXACT, engine-order-independent
  * arithmetic (|q| ≤ 127 ⇒ a 2^63 accumulator overflows only past ~5e14
  * dimensions) — and only the final division goes through doubles, so the
  * value is bit-identical to any engine computing the same integer sums.
  */
case class I8VecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(ByteType, _) => true
      case _                      => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine_i8 expects two ARRAY<TINYINT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine_i8"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // same loud-mismatch contract as [[FloatVecCosine]]
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"vec_cosine_i8: vector length mismatch ($n vs ${y.numElements()})")
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val xv = x.getByte(i).toLong; val yv = y.getByte(i).toLong
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_cosine_i8: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |long $dot = 0L, $na = 0L, $nb = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = (long) $a.getByte($i);
         |  long $y = (long) $b.getByte($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ((double) $dot) / (Math.sqrt((double) $na) * Math.sqrt((double) $nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): I8VecCosine =
    copy(left = newLeft, right = newRight)
}

/** Registration: per-session (`GraftFunctions.register`) or via the
  * standard extensions hook
  * (`--conf spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GraftFunctions {

  val functions: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("vec_cosine",
      (es: Seq[Expression]) => FloatVecCosine(es(0), es(1)),
      "vec_cosine(a, b) - cosine similarity of two ARRAY<FLOAT> vectors"),
    ("vec_dot",
      (es: Seq[Expression]) => FloatVecDot(es(0), es(1)),
      "vec_dot(a, b) - dot product of two ARRAY<FLOAT> vectors"),
    ("vec_norm",
      (es: Seq[Expression]) => FloatVecNorm(es(0)),
      "vec_norm(v) - Euclidean norm of an ARRAY<FLOAT> vector"),
    ("vec_quantize_q8",
      (es: Seq[Expression]) => FloatVecQuantizeQ8(es(0)),
      "vec_quantize_q8(v) - symmetric int8 maxabs quantization of an ARRAY<FLOAT> vector"),
    ("vec_cosine_i8",
      (es: Seq[Expression]) => I8VecCosine(es(0), es(1)),
      "vec_cosine_i8(a, b) - cosine of two int8-quantized ARRAY<TINYINT> vectors"),
    ("text_winnow",
      (es: Seq[Expression]) => TextWinnow(es(0), litInt(es(1)), litInt(es(2))),
      "text_winnow(text, k, w) - winnowed k-gram fingerprint minima (MOSS)"),
    ("gram_hashes",
      (es: Seq[Expression]) => GramHashes(es(0), litInt(es(1))),
      "gram_hashes(text, k) - per-position rolling k-gram hashes (prefilter-grade)"),
    ("zorder2",
      (es: Seq[Expression]) => ZOrder2(es(0), es(1)),
      "zorder2(x, y) - 2-D Z-order (Morton) interleave of two BIGINTs' low 31 bits"),
    ("text_nfc",
      (es: Seq[Expression]) => TextNfc(es(0)),
      "text_nfc(s) - Unicode NFC normalization (UAX #15 canonical composition)"),
    ("bpe_encode",
      (es: Seq[Expression]) => BpeEncode(es(0), parseMerges(litStr(es(1)))),
      "bpe_encode(word, 'a b>ab;th e>the;...') - BPE pieces under a " +
        "rank-ordered merge table (replace-chain semantics, array speed)"),
    ("html_extract",
      (es: Seq[Expression]) => HtmlExtract(es(0), litInt(es(1)),
        litInt(es(2)), litInt(es(3)), litInt(es(4))),
      "html_extract(html, minChars, maxLinkPm, minStopPm, longChars) - " +
        "jusText-style boilerplate-stripping block extraction struct"),
    ("html_extract_lang",
      (es: Seq[Expression]) => HtmlExtractLang(es(0), es(1), litInt(es(2)),
        litInt(es(3)), litInt(es(4)), litInt(es(5))),
      "html_extract_lang(html, lang, minChars, maxLinkPm, minStopPm, " +
        "longChars) - html_extract with the stopword keep rule dispatched " +
        "on a per-row language column (StopwordProfiles; fallback 'en')"))

  /** The merge table is a structural parameter (it defines the tokenizer,
    * like a hash seed) — a string literal `from>to;from>to;…` where each
    * `from` is two space-separated symbols.
    */
  private def parseMerges(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.nonEmpty).map { rule =>
      val i = rule.indexOf('>')
      require(i > 0 && i < rule.length - 1,
        s"bpe_encode merge rule must be 'a b>merged', got '$rule'")
      (rule.substring(0, i), rule.substring(i + 1))
    }

  private def litStr(e: Expression): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType)
      if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"bpe_encode merge table must be a string literal, got $other")
  }

  /** k/w are structural parameters of the fingerprint (part of its
    * identity, like a hash seed), not data — they must be literals.
    */
  private def litInt(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"text_winnow k/w must be integer literals, got $other")
  }

  /** Registers each function the session does not hold yet (temp
    * functions), so a repeat call replaces nothing and logs nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder, _) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `SparkSessionExtensions` injector so the functions exist in every
  * session of a cluster configured with
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, builder, usage) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[FloatVecCosine].getName, name, usage),
        builder))
    }
}
