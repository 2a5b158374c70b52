package graft.analyze

import graft.core._
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The batched probe (analysis-only typing, shared NULL-check queries) must
  * give exactly what the per-expression path gives: the same types, the
  * same warnings in the same order, the same first error.
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

  test("batched probe matches the per-expression path on the sample, YAML and mixed projects") {
    Seq(
      "sample" -> new Compiler(graft.SampleProject.project).compile(),
      "runtime YAML" -> graft.SparkEntry.yamlCompiled,
      "mixed" -> compiled(mixed)).foreach { case (name, cp) =>
      val expected = sequential(cp)
      val (jobs, got) = jobsDuring(batched(cp))
      assert(got._1 == expected._1, s"$name: rule types differ")
      assert(got._2 == expected._2, s"$name: warnings differ")
      // a silent fall back to the per-expression path would also match
      assert(jobs < probedExprs(cp), s"$name: $jobs jobs for ${probedExprs(cp)} probes")
    }
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
