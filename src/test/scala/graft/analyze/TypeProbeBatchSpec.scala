package graft.analyze

import graft.core._
import java.util.concurrent.{Callable, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** The fused probe (dependency waves, shared queries run at the same
  * time) must give exactly what the per-expression path gives: the same
  * types, the same warnings in the same order, the same first error.
  */
class TypeProbeBatchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-typeprobe-batch-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def batched(cp: CompiledProject, strict: Boolean = false) =
    new TypeProbe(spark, strict).checkWithTypes(cp)

  private def sequential(cp: CompiledProject, strict: Boolean = false) =
    new TypeProbe(spark, strict).checkSequentially(cp)

  private def probedExprs(cp: CompiledProject): Int =
    cp.sources.map(_.rules.size).sum + cp.relations.size +
      cp.outputs.map(_.channels.count(_.filter.isDefined)).sum

  /** Spark jobs started while `f` runs. */
  private def jobsDuring[T](f: => T): (Int, T) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      ListenerAccess.drain(spark.sparkContext)
      (jobs.get, out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Root SQL executions started while `f` runs: one per executed query,
    * whether or not it launches a Spark job (a probe over the local
    * `datatypes` relation runs on the driver and launches none).
    */
  private def queriesDuring[T](f: => T): (Int, T) = executionsDuring(_ => true)(f)

  /** Root SQL executions matching `p` started while `f` runs. */
  private def executionsDuring[T](p: SparkListenerSQLExecutionStart => Boolean)(f: => T): (Int, T) = {
    val queries = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) && p(s) =>
          queries.incrementAndGet()
        case _ =>
      }
    }
    ListenerAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      ListenerAccess.drain(spark.sparkContext)
      (queries.get, out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def compiled(p: Project): CompiledProject = new Compiler(p).compile()

  /** Every shape the batching must keep apart or leave alone: `v` is a
    * string on `a` and a double on `b` (`v_num` is NULL only for the
    * string, `dbl` fails on it); a struct-building rule feeds a key
    * walk; `to_json(struct(...))` keys name the struct's fields, so
    * `js_v` is NULL only if an alias were renamed; aggregate, window and
    * parameter-less rules; two NULL rules.
    */
  private val mixed = Project(
    sources = Seq(
      SourceDef("a", "a", Seq(RawAttr("id", LongType), RawAttr("v", StringType)),
        rules = Seq(
          RuleDef("up", "UPPER([This].v)"),
          RuleDef("v_num", "try_cast([This].v AS INT)"),
          RuleDef("st", "struct([This].id, [This].v)"),
          RuleDef("st_id", "[This].st.id + 1"),
          RuleDef("js_v", "get_json_object(to_json(struct([This].id, [This].v)), '$.v')"),
          RuleDef("js_missing",
            "get_json_object(to_json(struct([This].id, [This].v)), '$.missing')"),
          RuleDef("n_b", "count([b].id)"),
          RuleDef("b_total", "sum([b].v)"),
          RuleDef("labeled", "CONCAT([This].up, '=', count([b].id))"),
          RuleDef("rk", "rank() OVER (PARTITION BY [This].v ORDER BY [This].id)"),
          RuleDef("two", "1 + 1"),
          RuleDef("today", "current_date()"))),
      SourceDef("b", "b",
        Seq(RawAttr("id", LongType), RawAttr("a_id", LongType), RawAttr("v", DoubleType)),
        rules = Seq(RuleDef("dbl", "[This].v * 2")))),
    relations = Seq(RelationDef("[a]- ab -[b]",
      "[This].id = [Related].a_id", Cardinality.OneMany)),
    outputs = Seq(OutputDef("o",
      Seq(OutputCol("id", LongType)),
      Seq(Channel("a", Seq(Mapping.parse("id id")), filter = Some("[This].id > 0")),
        Channel("b", Seq(Mapping.parse("id id")), filter = Some("[This].v > 1.5"))))))

  /** A chain that needs five waves: rule on rule (`c_tag`), a relation on
    * a rule column (`oc` reads `o_key`), a cross-source lookup of a rule
    * (`o_ctag` reads `c.c_tag`), a rule on that lookup (`o_len`) and
    * output filters on rules of the second and fourth waves; `c_null` and
    * `o_null` are NULL in different waves.
    */
  private val deepChain = Project(
    sources = Seq(
      SourceDef("c", "c", Seq(RawAttr("id", LongType), RawAttr("name", StringType)),
        rules = Seq(
          RuleDef("c_up", "UPPER([This].name)"),
          RuleDef("c_tag", "CONCAT([This].c_up, '#', [This].id)"),
          RuleDef("c_null", "try_cast([This].c_up AS INT)"))),
      SourceDef("o", "o",
        Seq(RawAttr("id", LongType), RawAttr("c_id", LongType), RawAttr("amt", DoubleType)),
        rules = Seq(
          RuleDef("o_amt2", "[This].amt * 2"),
          RuleDef("o_key", "[This].c_id + 0"),
          RuleDef("o_ctag", "[c].c_tag"),
          RuleDef("o_len", "LENGTH([This].o_ctag) + [This].o_amt2"),
          RuleDef("o_null", "try_cast([This].o_ctag AS DOUBLE)")))),
    relations = Seq(RelationDef("[o]- oc -[c]",
      "[This].o_key = [Related].id", Cardinality.ManyOne)),
    outputs = Seq(OutputDef("out",
      Seq(OutputCol("id", LongType)),
      Seq(Channel("c", Seq(Mapping.parse("id id")), filter = Some("[This].c_tag IS NOT NULL")),
        Channel("o", Seq(Mapping.parse("id id")), filter = Some("[This].o_len > 0"))))))

  test("batched probe matches the per-expression path on the sample, YAML and mixed projects") {
    Seq(
      "sample" -> new Compiler(graft.SampleProject.project).compile(),
      "runtime YAML" -> graft.queries.Fixtures.yamlCompiled,
      "mixed" -> compiled(mixed),
      "deep chain" -> compiled(deepChain)).foreach { case (name, cp) =>
      val expected = sequential(cp)
      val (queries, got) = queriesDuring(batched(cp))
      assert(got._1 == expected._1, s"$name: rule types differ")
      assert(got._2 == expected._2, s"$name: warnings differ")
      // a silent fall back to the per-expression path runs one query per
      // probe (plus the view), so it cannot pass this
      assert(queries < probedExprs(cp), s"$name: $queries queries for ${probedExprs(cp)} probes")
    }
  }

  test("deep chain: NULL warnings from different waves come out in probe order") {
    val (types, warnings) = batched(compiled(deepChain))
    assert(warnings == Seq(
      s"rule 'c_null' of source 'c': ${TypeProbe.NullWarning}",
      s"rule 'o_null' of source 'o': ${TypeProbe.NullWarning}"))
    assert(types(("o", "o_ctag")) == StringType)
    assert(types(("o", "o_len")) == DoubleType)
  }

  test("mixed project: both planted NULL rules warn, in probe order") {
    val (types, warnings) = batched(compiled(mixed))
    assert(warnings == Seq(
      s"rule 'v_num' of source 'a': ${TypeProbe.NullWarning}",
      s"rule 'js_missing' of source 'a': ${TypeProbe.NullWarning}"))
    assert(types(("a", "st")).isInstanceOf[StructType])
    assert(types(("a", "st_id")) == LongType)
    assert(types(("b", "dbl")) == DoubleType)
  }

  test("sample project probes in far fewer jobs than expressions") {
    val cp = new Compiler(graft.SampleProject.project).compile()
    val exprs = probedExprs(cp)
    val (jobs, _) = jobsDuring(TypeProbe.checkWithTypes(spark, cp))
    assert(exprs >= 30, s"sample project has only $exprs probes")
    assert(jobs * 3 <= exprs, s"$jobs probe jobs for $exprs expressions")
  }

  test("sample project probes in under a third as many queries as expressions") {
    val cp = new Compiler(graft.SampleProject.project).compile()
    val exprs = probedExprs(cp)
    val (queries, _) = queriesDuring(TypeProbe.checkWithTypes(spark, cp))
    assert(exprs >= 30, s"sample project has only $exprs probes")
    assert(queries * 3 < exprs, s"$queries probe queries for $exprs expressions")
  }

  test("the datatypes view keeps its schema, nullability and two rows in order") {
    TypeProbe.ensureDatatypesView(spark)
    val df = spark.table("datatypes")
    assert(df.schema == StructType(Seq(
      StructField("decimal", DecimalType(10, 2), nullable = false),
      StructField("string", StringType, nullable = false),
      StructField("int", IntegerType, nullable = false),
      StructField("float", FloatType, nullable = false),
      StructField("double", DoubleType, nullable = false),
      StructField("date", DateType, nullable = true),
      StructField("timestamp", TimestampType, nullable = true),
      StructField("boolean", BooleanType, nullable = false),
      StructField("long", LongType, nullable = false))))
    assert(df.collect().toSeq == Seq(
      Row(new java.math.BigDecimal("-12.34"), "graft probe row one", 7, 4.25f, 8.5,
        java.sql.Date.valueOf("2021-06-15"), java.sql.Timestamp.valueOf("2021-06-15 12:30:00"),
        true, 1234567890123L),
      Row(new java.math.BigDecimal("-8150.99"), "row two", 131, 41.9f, 87.6,
        java.sql.Date.valueOf("2024-02-29"), java.sql.Timestamp.valueOf("2024-02-29 23:19:17"),
        true, 99999999991L)))
  }

  test("a second probe on the same session creates no datatypes view") {
    val cp = new Compiler(graft.SampleProject.project).compile()
    def viewsCreated(): Int = executionsDuring(
      _.physicalPlanDescription.contains("CreateViewCommand"))(batched(cp))._1
    spark.catalog.dropTempView("datatypes")
    assert(viewsCreated() == 1)
    assert(viewsCreated() == 0)
    // a view replaced under the same name is not this one
    spark.range(1).createOrReplaceTempView("datatypes")
    assert(viewsCreated() == 1)
    assert(batched(cp) == sequential(cp))
  }

  test("two threads probing different projects on one session get their sequential results") {
    val projects = Seq(compiled(deepChain), compiled(mixed))
    val expected = projects.map(sequential(_))
    val pool = Executors.newFixedThreadPool(projects.size)
    val start = new CountDownLatch(1)
    val got = try {
      val futures = projects.map { cp =>
        pool.submit(new Callable[Seq[(Map[(String, String), DataType], Seq[String])]] {
          def call() = { start.await(); (1 to 3).map(_ => batched(cp)) }
        })
      }
      start.countDown()
      futures.map(_.get())
    } finally pool.shutdown()
    projects.indices.foreach(i => got(i).foreach(r => assert(r == expected(i), s"project $i")))
    val left = Thread.getAllStackTraces.keySet.asScala.map(_.getName).filter(_.startsWith("graft-probe"))
    assert(left.isEmpty, s"probe pool threads still alive: $left")
  }

  test("a bare column name is an error even when another probe binds that alias") {
    val cp = compiled(oneSource(
      RuleDef("up", "UPPER([This].name)"),
      RuleDef("bare", "CONCAT(LOWER(name), [This].id)")))
    val expected = intercept[CompileError](sequential(cp)).message
    assert(intercept[CompileError](batched(cp)).message == expected)
    assert(expected.contains("\"rule_name\": \"bare\""))
  }

  private def oneSource(rules: RuleDef*): Project =
    Project(sources = Seq(SourceDef("s", "s",
      Seq(RawAttr("id", LongType), RawAttr("name", StringType)), rules = rules.toSeq)))

  test("an early runtime cast error is reported ahead of a later analysis error") {
    val cp = compiled(oneSource(
      RuleDef("ok", "UPPER([This].name)"),
      RuleDef("bad_cast", "CAST([This].name AS INT)"),
      RuleDef("bad_fn", "not_a_fn([This].name)")))
    val expected = intercept[CompileError](sequential(cp)).message
    val got = intercept[CompileError](batched(cp)).message
    assert(got == expected)
    assert(got.startsWith("Invalid rule expressions:"))
    assert(got.contains("\"rule_name\": \"bad_cast\""))
  }

  test("strict mode throws on the first NULL in probe order") {
    val cp = compiled(oneSource(
      RuleDef("up", "UPPER([This].name)"),
      RuleDef("n1", "try_cast([This].name AS INT)"),
      RuleDef("n2", "try_cast([This].name AS DOUBLE)")))
    val e = intercept[CompileError](batched(cp, strict = true))
    assert(e.message == intercept[CompileError](sequential(cp, strict = true)).message)
    assert(e.message.contains("rule 'n1' of source 's'"))
  }

  test("an alias collision inside one expression still throws") {
    val p = Project(
      sources = Seq(
        SourceDef("a", "a", Seq(RawAttr("id", LongType), RawAttr("v", StringType)),
          rules = Seq(RuleDef("both", "CONCAT([This].v, [b].v)"))),
        SourceDef("b", "b", Seq(RawAttr("id", LongType), RawAttr("v", DoubleType)))),
      relations = Seq(RelationDef("[a]- ab -[b]",
        "[This].id = [Related].id", Cardinality.ManyOne)))
    val e = intercept[CompileError](batched(compiled(p)))
    assert(e.message.contains("Probe alias collision"))
  }
}
