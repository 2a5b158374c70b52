package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Native codegen expression: value parity with the HOF SQL formulation,
  * codegen/interpreted agreement, clean type errors, extension injection.
  */
class VecFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-vecfn-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def vecs = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f, 2.5f), Array(1.0f, 0.0f, 2.5f)),
      (2L, Array(1.0f, 2.0f, 3.0f), Array(-1.0f, 0.5f, 0.25f)),
      (3L, Array(0.1f, -0.7f, 0.33f), Array(0.9f, 0.2f, -0.5f)))
      .toDF("id", "a", "b")
  }

  test("vec_cosine is bit-identical to the HOF SQL formulation") {
    GraftFunctions.register(spark)
    val hof = graft.operators.Similarity.cosineExpr("a", "b")
    val rows = vecs.select(col("id"),
      expr("vec_cosine(a, b)").as("native"), expr(hof).as("sql")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id ${r.getLong(0)}: native ${r.getDouble(1)} != sql ${r.getDouble(2)}")
    }
    assert(math.abs(rows.find(_.getLong(0) == 1L).get.getDouble(1) - 1.0) < 1e-12)
  }

  test("vec_dot/(vec_norm*vec_norm) is bit-identical to vec_cosine") {
    GraftFunctions.register(spark)
    val rows = vecs.select(col("id"),
      expr("vec_cosine(a, b)").as("fused"),
      expr("vec_dot(a, b) / (vec_norm(a) * vec_norm(b))").as("hoisted")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id ${r.getLong(0)}: fused ${r.getDouble(1)} != hoisted ${r.getDouble(2)}")
    }
  }

  test("vec_dot length mismatch throws loudly") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val bad = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val e = intercept[Exception] { bad.select(expr("vec_dot(a, b)")).collect() }
    def rootChain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(rootChain)
    assert(rootChain(e).exists(_.getMessage != null) &&
      rootChain(e).exists(t =>
        Option(t.getMessage).exists(_.contains("length mismatch"))))
  }

  test("length mismatch throws loudly in codegen AND interpreted paths") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val bad = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    for (wsc <- Seq("true", "false")) {
      val prev = spark.conf.get("spark.sql.codegen.wholeStage")
      spark.conf.set("spark.sql.codegen.wholeStage", wsc)
      try {
        val eF = intercept[Exception] {
          bad.select(expr("vec_cosine(a, b)")).collect()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
        assert(msgs(eF).exists(_.contains("length mismatch")),
          s"wholeStage=$wsc: expected named mismatch error, got $eF")
        val eI = intercept[Exception] {
          bad.select(expr("vec_cosine_i8(vec_quantize_q8(a), vec_quantize_q8(b))"))
            .collect()
        }
        assert(msgs(eI).exists(_.contains("length mismatch")),
          s"wholeStage=$wsc: expected named i8 mismatch error, got $eI")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    }
  }

  test("codegen and interpreted paths agree") {
    GraftFunctions.register(spark)
    val withCodegen = vecs.select(expr("vec_cosine(a, b)")).collect().map(_.getDouble(0))
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = vecs.select(expr("vec_cosine(a, b)")).collect().map(_.getDouble(0))
      assert(withCodegen.map(java.lang.Double.doubleToLongBits).toSeq ==
        interpreted.map(java.lang.Double.doubleToLongBits).toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("projection stays inside whole-stage codegen (no CodegenFallback)") {
    GraftFunctions.register(spark)
    // local Seq data constant-folds into LocalTableScan — use a real scan
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = emb.select(expr("vec_cosine(embedding, embedding)"))
      .queryExecution.executedPlan.toString
    // '*' prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("Project") &&
      l.contains("vec_cosine")), s"expected codegen'd projection:\n$plan")
    // for contrast: the HOF formulation falls OUT of codegen (the reason
    // this expression exists) — if Spark ever compiles HOFs, revisit
    val hofPlan = emb.select(
      expr(graft.operators.Similarity.cosineExpr("embedding", "embedding")))
      .queryExecution.executedPlan.toString
    val _ = hofPlan // informational; no assertion — Spark may improve
  }

  test("vec_quantize_q8: maxabs grid, half-away rounding, zero vector") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Array(2.0f, -2.0f, 1.0f, 0.0f)),   // ±maxabs → ±127; 1.0 → 64 (63.5 rounds away)
      (2L, Array(0.0f, 0.0f)),                // zero vector → all zeros
      (3L, Array(-1.0f)))                     // single negative → -127
      .toDF("id", "v")
    val out = df.select(col("id"), expr("vec_quantize_q8(v)").as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(out(1L) == Seq[Byte](127, -127, 64, 0),
      "63.5 must round half AWAY from zero (DuckDB/Spark SQL round parity)")
    assert(out(2L) == Seq[Byte](0, 0))
    assert(out(3L) == Seq[Byte](-127))
  }

  test("vec_cosine_i8: exact integer accumulation, scale-invariance vs float cosine") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(100.0f, 200.0f, 300.0f)), // parallel, scales differ
      (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)))                    // orthogonal
      .toDF("id", "a", "b")
    val rows = df.select(col("id"),
      expr("vec_cosine_i8(vec_quantize_q8(a), vec_quantize_q8(b))").as("ci8"),
      expr("vec_cosine(a, b)").as("cf")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toList
    val m = rows.map(t => t._1 -> (t._2, t._3)).toMap
    assert(math.abs(m(1L)._1 - 1.0) < 1e-12,
      "per-vector scale must drop out of the quantized cosine")
    assert(m(2L)._1 == 0.0)
    // quantization error vs full precision stays small on these grids
    rows.foreach { case (_, ci8, cf) => assert(math.abs(ci8 - cf) < 0.02) }
  }

  test("q8 expressions stay inside whole-stage codegen") {
    GraftFunctions.register(spark)
    // local Seq data constant-folds into LocalTableScan — use a real scan
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = emb.select(
      expr("vec_cosine_i8(vec_quantize_q8(embedding), vec_quantize_q8(embedding))"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("Project") &&
      l.contains("vec_cosine_i8")), s"expected codegen'd projection:\n$plan")
  }

  test("wrong argument types fail analysis with the function named") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val bad = Seq((1L, "x")).toDF("id", "s")
    val e = intercept[Exception](bad.select(expr("vec_cosine(s, s)")).collect())
    assert(e.getMessage.contains("vec_cosine"))
  }

  test("GraftExtensions injector wires the vec_cosine builder") {
    // a same-JVM fresh session can't be created once a session exists
    // (getOrCreate reuses it, and extensions only apply at creation), so
    // exercise the injector against a bare SparkSessionExtensions
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val built = GraftFunctions.functions.head._2(Seq(Literal(1f), Literal(2f)))
    assert(built.isInstanceOf[FloatVecCosine])
  }

  /** The WARN messages the session's function registry logs in `body`. */
  private def registryWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("registry-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LoggerContext.getContext(false)
      .getLogger(spark.sessionState.functionRegistry.getClass.getName)
    logger.addAppender(appender)
    try body finally logger.removeAppender(appender)
    seen.toArray(Array.empty[String]).toSeq
  }

  test("a second register on one session replaces nothing and logs no warning") {
    GraftFunctions.register(spark)
    val (name, builder, _) = GraftFunctions.functions.head
    // the capture sees the warning a replacing registration logs
    assert(registryWarnings(spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in"))
      .exists(_.contains("replaced a previously registered function")))
    val warnings = registryWarnings(GraftFunctions.register(spark))
    assert(warnings.isEmpty, warnings.mkString("\n"))
    val r = spark.sql("SELECT vec_dot(a, b), vec_cosine(a, a) FROM (SELECT " +
      "CAST(array(1, 2) AS ARRAY<FLOAT>) AS a, CAST(array(3, 4) AS ARRAY<FLOAT>) AS b)").head()
    assert(r.getDouble(0) === 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }
}
