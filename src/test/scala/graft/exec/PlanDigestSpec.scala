package graft.exec

import graft.SampleProject
import graft.analyze.{CompiledProject, Compiler}
import graft.core.Materialize
import graft.queries.Fixtures
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The DataFrame planner's plans are pinned: a refactor of the planners
  * must leave the optimized logical plan of every full hub and every
  * output as it was. Each digest is the SHA-256 of those plans in project
  * order, with ids masked (expression ids, plan ids, `RDD[n]`) and the
  * planner's generated-name counters masked (`__j<n>_`, `__a<n>`,
  * `__gk<n>_<i>`, `__rid<n>`, `__m<n>_`), so the generated names may be
  * renumbered but nothing else may move. Both digests were taken before
  * the planner and the emitter came to share one walk ([[Lowering]]).
  *
  * Inputs are one-row in-memory relations (`LocalRelation`) of each
  * source's declared attributes, and `ConvertToLocalRelation` is excluded
  * so Catalyst does not fold the projections over them away.
  */
class PlanDigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-plan-digest")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def mask(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    .replaceAll("__(j|a|gk|rid|m)\\d+", "__$1N")

  /** The masked optimized plans of every hub, then every output. */
  private def plans(cp: CompiledProject): String = Materialize.scope {
    val runner = new Runner(cp, s => spark.createDataFrame(
      java.util.List.of(Row.fromSeq(s.rawAttributes.map(_ => null))),
      StructType(s.rawAttributes.map(a => StructField(a.name, a.dataType)))))
    val hubs = cp.sources.map(cs => s"hub ${cs.source.name}" -> runner.hub(cs.source.name))
    val outputs = cp.outputs.map(co => s"output ${co.output.name}" -> runner.output(co.output.name))
    (hubs ++ outputs).map { case (label, df) =>
      s"$label\n${mask(df.queryExecution.optimizedPlan.treeString)}"
    }.mkString("\n")
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  test("sample project plans match the pinned digest") {
    assert(sha256(plans(new Compiler(SampleProject.project).compile())) ===
      "124749a4721d46846c1ce405d1ae31bc62d2f5874f40eacf0a7d28cc3adca3b1")
  }

  test("runtime YAML project plans match the pinned digest") {
    assert(sha256(plans(Fixtures.yamlCompiled)) ===
      "db31438b457dd4f2736e8d8e01355bfd0ed9621119a4fb59001628cc3f34aa8d")
  }
}
