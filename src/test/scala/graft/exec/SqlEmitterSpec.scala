package graft.exec

import graft.SampleProject
import graft.analyze.Compiler
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Two-formulation consistency: the emitted SQL text, executed by
  * spark.sql, must produce exactly what the DataFrame planner produces.
  */
class SqlEmitterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sqlemit-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val cp = new Compiler(SampleProject.project).compile()
  private lazy val emitter = new SqlEmitter(cp)
  private lazy val runner = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    new Runner(cp, Runners.parquetDir(sfDir))
  }

  private def tableFor: SqlEmitter#TableRef = s => s.sourceTable

  test("emitted source SQL matches the planner for every source") {
    runner // registers raw-table temp views
    cp.sources.foreach { cs =>
      val name = cs.source.name
      // hub views for related reads come from emitted SQL too, in topo order
      val sql = emitter.sourceSql(name, tableFor)
      val viaSql = spark.sql(sql)
      val rows = viaSql.collect()
      // register the hub for downstream sources from the MATERIALIZED rows:
      // deeply nested CTE+lateral view chains trip Spark's InlineCTE pass
      // ("resolved became unresolved") — the full nested form is proven by
      // the run.sql test below; this test isolates per-source SQL parity
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), viaSql.schema)
        .createOrReplaceTempView("hub_" + name)
      val viaPlanner = runner.hub(name)
      val a = rows.map(_.toString).sorted
      val b = viaPlanner.collect().map(_.toString).sorted
      assert(a.length == b.length && a.sameElements(b),
        s"source $name: emitted SQL diverges from planner " +
          s"(${a.diff(b).take(3).mkString("; ")})")
    }
  }

  test("emitted output SQL matches the planner for every output") {
    runner // hub views registered by previous test order isn't guaranteed — ensure:
    cp.sources.foreach { cs =>
      spark.sql(emitter.sourceSql(cs.source.name, tableFor))
        .createOrReplaceTempView("hub_" + cs.source.name)
    }
    cp.outputs.foreach { co =>
      val viaSql = spark.sql(emitter.outputSql(co.output.name))
      val viaPlanner = runner.output(co.output.name)
      val d1 = viaSql.exceptAll(viaPlanner).count()
      val d2 = viaPlanner.exceptAll(viaSql).count()
      assert(d1 == 0 && d2 == 0,
        s"output ${co.output.name}: emitted SQL diverges from planner ($d1/$d2 rows)")
    }
  }

  test("emitted SQL matches the planner on the runtime YAML project (self-join, theta, struct keys)") {
    // the shapes SampleProject doesn't reach: a 1-1 self-join over the
    // in-progress CTE, a non-equi lateral many-join, struct-key rules,
    // decimal casts, and the unique-guarded join
    val files = Seq("meta.yaml", "relations.yaml",
      "sources/customer2.yaml", "sources/events.yaml", "sources/orders2.yaml",
      "sources/orders_self.yaml", "sources/part2.yaml", "outputs/event_struct.yaml")
    val tmp = java.nio.file.Files.createTempDirectory("sqlemit_rp")
    files.foreach { f =>
      val in = getClass.getClassLoader.getResourceAsStream(s"runtime_project/$f")
      val t = tmp.resolve(f)
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.copy(in, t)
      in.close()
    }
    val rcp = new Compiler(graft.parse.YamlLoader.load(tmp.toString)).compile()
    // probed types feed the emitter's decimal-discipline casts
    val (ruleTypes, _) = graft.analyze.TypeProbe.checkWithTypes(spark, rcp)
    val rem = new SqlEmitter(rcp, ruleTypes)
    Seq("customer", "orders", "part").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.Events.readEvents(spark, s"$sfDir/events.parquet")
      .createOrReplaceTempView("events")
    val rrunner = new Runner(rcp, s =>
      if (s.sourceTable == "events")
        graft.streaming.Events.readEvents(spark, s"$sfDir/events.parquet")
      else spark.read.parquet(s"$sfDir/${s.sourceTable}.parquet"))
    rcp.sources.foreach { cs =>
      val name = cs.source.name
      val viaSql = spark.sql(rem.sourceSql(name, tableFor))
      val rows = viaSql.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), viaSql.schema)
        .createOrReplaceTempView("hub_" + name)
      val b = rrunner.hub(name).collect().map(_.toString).sorted
      val a = rows.map(_.toString).sorted
      assert(a.length == b.length && a.sameElements(b),
        s"runtime source $name: emitted SQL diverges from planner " +
          s"(${a.diff(b).take(3).mkString("; ")})")
    }
    val viaSql = spark.sql(rem.outputSql("event_struct"))
    val viaPlanner = rrunner.output("event_struct")
    assert(viaSql.exceptAll(viaPlanner).count() == 0 &&
      viaPlanner.exceptAll(viaSql).count() == 0,
      "runtime output event_struct: emitted SQL diverges from planner")
  }

  test("InlineCTE canary: sub-JVM probe of the nested hub SQL (SparkEntry localCheckpoint workaround)") {
    // The InlineCTE miscompile that forces HubQueries
    // q_lineitem_enriched_sql to localCheckpoint() each hub view only
    // reproduces in a PRISTINE JVM (the Verify/Bench path): after any
    // unrelated plan has executed in the same JVM — as in this shared
    // suite session — the identical composition compiles fine (verified
    // round 6, deterministic 3/3 either way). So the canary runs
    // InlineCteProbe in a sub-JVM, which is the exact fresh-JVM
    // composition, and asserts on its exit code:
    //   2 -> documented miscompile: workaround still needed, test passes
    //   0 -> Spark fixed it: FAIL with "drop the workaround" (a red
    //        canary on upgrade is the point — the fix is deleting code)
    //   3 -> runs but diverges from the planner: FAIL (worst case)
    //   1 -> unrecognized error: FAIL, investigate
    // The probe never touches this suite's session, so no view state
    // needs restoring on any path.
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq("-Xmx4g",
      "-cp", sys.props("java.class.path"),
      "graft.exec.InlineCteProbe", sfDir)).toArray
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val code = proc.waitFor()
    val probeLine = out.linesIterator.find(_.startsWith("PROBE_"))
      .getOrElse(out.takeRight(400))
    code match {
      case 2 => // documented miscompile still present: workaround justified
      case 0 => fail("Spark now compiles the nested CTE+lateral hub chain " +
        "correctly in a fresh JVM: DROP the localCheckpoint workaround in " +
        s"SparkEntry q_lineitem_enriched_sql ($probeLine)")
      case 3 => fail("nested hub SQL now RUNS in a fresh JVM but diverges " +
        "from the planner — Spark's CTE inlining changed behavior; keep " +
        s"localCheckpoint and investigate ($probeLine)")
      case c => fail(s"InlineCteProbe exited $c with an unrecognized " +
        s"outcome — not the documented InlineCTE miscompile ($probeLine)")
    }
  }

  test("run.sql is one executable script") {
    val script = emitter.runSql(tableFor)
    // execute statement by statement (split on ';' at line ends)
    script.split(";\\s*\n").filter(_.trim.nonEmpty).foreach { stmt =>
      spark.sql(stmt)
    }
    assert(spark.table("feature_customer").count() > 0)
    assert(spark.table("party_summary").count() > 0)
  }
}
