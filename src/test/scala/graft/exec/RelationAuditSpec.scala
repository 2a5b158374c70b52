package graft.exec

import graft.SampleProject
import graft.analyze.Compiler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** RelationAudit: the YAML-declared relation expressions drive
  * unmatched/fan-out measurement. The fixture warehouse is consistent, so
  * the clean-audit test pins the all-zero contract; the violation test
  * REBUILDS the same project over a reader that duplicates one orders row
  * — the declared M-1 lineitem→orders relation then observably fans out,
  * and the audit (not the join) is what reports it.
  */
class RelationAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-relaudit-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val cp = new Compiler(SampleProject.project).compile()

  test("clean warehouse: every relation matched, no *-1 fan-out") {
    val _ = spark // force session init before Runners.parquetDir
    val runner = new Runner(cp, Runners.parquetDir(sfDir))
    val rows = RelationAudit.audit(cp, runner.hub).collect()
    assert(rows.length == SampleProject.project.relations.length)
    val m1 = rows.filter(_.getAs[String]("cardinality") == "M-1")
    assert(m1.nonEmpty)
    // every fact fk resolves (M-1 lookups); the 1-M side may legitimately
    // have unmatched rows (a nation with no suppliers at this sf)
    assert(m1.forall(_.getAs[Long]("unmatched_source_rows") == 0L))
    assert(rows.forall(_.getAs[Long]("cardinality_violations") == 0L))
    // the 1-M relation legitimately reports unmatched rows (15 of 25
    // nations have no supplier at sf0.001) without any violation — the
    // audit distinguishes "no match" facts from broken declarations
    val oneM = rows.find(_.getAs[String]("cardinality") == "1-M").get
    assert(oneM.getAs[Long]("unmatched_source_rows") > 0L)
    assert(oneM.getAs[Long]("cardinality_violations") == 0L)
  }

  private def runtimeProject(): graft.analyze.CompiledProject = {
    val files = Seq("meta.yaml", "relations.yaml",
      "sources/customer2.yaml", "sources/events.yaml", "sources/orders2.yaml",
      "sources/orders_self.yaml", "sources/part2.yaml",
      "outputs/event_struct.yaml")
    val tmp = java.nio.file.Files.createTempDirectory("graft_audit_rt")
    files.foreach { f =>
      val in = getClass.getClassLoader.getResourceAsStream(s"runtime_project/$f")
      assert(in != null, s"missing resource runtime_project/$f")
      val target = tmp.resolve(f)
      java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.copy(in, target)
      in.close()
    }
    new Compiler(graft.parse.YamlLoader.load(tmp.toString)).compile()
  }

  test("unique-guarded relation audits the PLANNER's join, not the bare expression") {
    // the runtime project's solo relation joins on a unique_flag rule:
    // the planner ANDs the `_uv_flag` companion, so only customers with
    // exactly ONE order resolve — at sf0.01 that is exactly 2 of 1500.
    // Without guard parity the bare key expression fans out (~18 orders
    // per customer) and the M-1 declaration would misreport violations.
    val _ = spark
    val cp2 = runtimeProject()
    val runner = new Runner(cp2, Runners.parquetDir("/root/testdata/sf0.01"))
    val audit = RelationAudit.audit(cp2, runner.hub)
    val solo = audit.filter(col("relation").contains("solo")).collect().head
    assert(solo.getAs[Long]("multi_match_source_rows") == 0L)
    assert(solo.getAs[Long]("cardinality_violations") == 0L)
    assert(solo.getAs[Long]("source_rows") -
      solo.getAs[Long]("unmatched_source_rows") == 2L)
    assert(solo.getAs[Long]("max_matches") == 1L)
  }

  test("auditPruned resolves a unique-flagged rule-keyed relation (J6 shape)") {
    // ADVICE r16 (medium): neededRules seeded only the rule attribute, but
    // auditOne ANDs the `<rule>_uv_flag` guard into unique-keyed joins —
    // the pruned related hub then lacked the guard column and the join
    // failed to resolve (AnalysisException). The pruned audit must both
    // RUN and agree with the full audit on every count, relation by
    // relation (the fixture warehouse has no fan-out, so the pruned
    // un-inflated counts coincide with audit()'s).
    val _ = spark
    val cp2 = runtimeProject()
    val runner = new Runner(cp2, Runners.parquetDir("/root/testdata/sf0.01"))
    val full = RelationAudit.audit(cp2, runner.hub)
      .collect().map(r => r.getAs[String]("relation") -> r.toSeq).toMap
    val pruned = RelationAudit.auditPruned(cp2, runner).collect()
    assert(pruned.length == cp2.project.relations.length)
    pruned.foreach { r =>
      assert(full(r.getAs[String]("relation")) == r.toSeq,
        s"pruned audit row drifted for ${r.getAs[String]("relation")}")
    }
  }

  test("a project without relations audits to no rows") {
    val _ = spark
    val src = graft.core.SourceDef("s", "t", Seq(graft.core.RawAttr.parse("x int")))
    val ncp = new Compiler(graft.core.Project(Seq(src))).compile()
    val audit = RelationAudit.audit(ncp, _ => fail("no hub is read"))
    val runner = new Runner(cp, Runners.parquetDir(sfDir))
    assert(audit.schema === RelationAudit.audit(cp, runner.hub).schema)
    assert(audit.collect().isEmpty)
    assert(!RelationAudit.hasViolations(audit))
  }

  test("duplicated parent row: the M-1 declaration's fan-out is reported") {
    val base = Runners.parquetDir(sfDir)
    val reader: graft.core.SourceDef => DataFrame = s =>
      if (s.sourceTable == "orders") {
        val o = base(s)
        // duplicate exactly one order: its lineitems now match 2 rows
        o.unionAll(o.orderBy("o_orderkey").limit(1))
      } else base(s)
    val runner = new Runner(cp, reader)
    val audit = RelationAudit.audit(cp, runner.hub)
    val li = audit.filter(col("relation")
        .startsWith("[tpch_lineitem]- orderkey")).collect().head
    assert(li.getAs[Long]("multi_match_source_rows") > 0L)
    assert(li.getAs[Long]("max_matches") == 2L)
    assert(li.getAs[Long]("cardinality_violations") ==
      li.getAs[Long]("multi_match_source_rows"))
    assert(RelationAudit.hasViolations(audit))
  }
}
