package graft.exec

import graft.SampleProject
import graft.analyze.Compiler
import graft.core.OutputType
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}

/** C13: versioned import reconciliation — upsert-by-recompile, cascade
  * delete of removed objects' materialized artifacts, append-only import
  * log (reference: impc_execute.sql:163-186, u_delete_cascade.sql).
  */
class ImportReconcilerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-import-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft_imp_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def exists(dir: String, name: String) =
    Files.exists(Paths.get(dir, name))

  test("import log versions, cascade delete of removed source and output") {
    val outDir = Files.createTempDirectory("graft_imp_ws").toString
    val full = SampleProject.project.copy(outputs = Seq(
      SampleProject.partySummary.copy(outputType = OutputType.File("parquet")),
      SampleProject.orderStats.copy(outputType = OutputType.Table)))

    // import v1: validate-compile, reconcile (nothing to delete), run
    val r1 = ImportReconciler.reconcileAndCommit(spark, full, outDir)
    assert(r1.version == 1 && r1.deletedSources.isEmpty && r1.deletedOutputs.isEmpty)
    new Runner(new Compiler(full).compile(), Runners.parquetDir(sfDir),
      materializeDir = Some(outDir)).run(outDir)
    assert(exists(outDir, "enriched_tpch_part"), "hub dir materialized")
    assert(exists(outDir, "party_summary"), "file output written")
    assert(spark.catalog.tableExists("order_stats"), "table output created")

    // import v2, same project: idempotent — nothing deleted, version bumps
    val r2 = ImportReconciler.reconcileAndCommit(spark, full, outDir)
    assert(r2.version == 2 && r2.deletedSources.isEmpty && r2.deletedOutputs.isEmpty)
    assert(exists(outDir, "enriched_tpch_part"))

    // import v3: project drops the part source (and lineitem, which
    // declares relations to it) and both outputs — their artifacts must
    // cascade-delete; every surviving source's hub must be untouched
    val shrunk = full.copy(
      sources = full.sources.filterNot(s =>
        s.name == "tpch_part" || s.name == "tpch_lineitem"),
      relations = full.relations.filterNot(r =>
        Seq(r.sourceName, r.relatedName)
          .exists(n => n == "tpch_part" || n == "tpch_lineitem")),
      outputs = Seq(SampleProject.orderStats.copy(outputType = OutputType.Table)))
    new Compiler(shrunk).compile() // must still be a valid project
    val r3 = ImportReconciler.reconcileAndCommit(spark, shrunk, outDir)
    assert(r3.version == 3)
    assert(r3.deletedSources == Seq("tpch_lineitem", "tpch_part"))
    assert(r3.deletedOutputs == Seq("party_summary"))
    assert(!exists(outDir, "enriched_tpch_part"), "stale hub dir removed")
    assert(!exists(outDir, "enriched_tpch_lineitem"), "stale hub dir removed")
    assert(!exists(outDir, "party_summary"), "stale file output removed")
    assert(exists(outDir, "enriched_tpch_orders"), "surviving hub intact")
    assert(spark.catalog.tableExists("order_stats"), "surviving table intact")

    // the log carries all three versions with the per-version manifests
    val log = ImportReconciler.loadLog(outDir)
    assert(log.map(_.version) == Seq(1, 2, 3))
    assert(log(0).sources.contains("tpch_part") && !log(2).sources.contains("tpch_part"))
    assert(log(0).outputs("party_summary")._2 == "file:parquet")
    assert(log(2).outputs.keySet == Set("order_stats"))
  }

  test("stale TABLE output and table-mode hub are dropped from the catalog") {
    val outDir = Files.createTempDirectory("graft_imp_tbl").toString
    val withTable = SampleProject.project.copy(outputs = Seq(
      SampleProject.orderStats.copy(outputType = OutputType.Table,
        targetTable = Some("order_stats_v2"))))
    ImportReconciler.reconcileAndCommit(spark, withTable, outDir)
    new Runner(new Compiler(withTable).compile(), Runners.parquetDir(sfDir))
      .run(outDir)
    assert(spark.catalog.tableExists("order_stats_v2"))

    val without = withTable.copy(outputs = Nil)
    val r = ImportReconciler.reconcileAndCommit(spark, without, outDir)
    assert(r.deletedOutputs == Seq("order_stats"))
    assert(!spark.catalog.tableExists("order_stats_v2"), "stale table dropped")
  }

  test("stale table artifacts are removed even with no catalog entry (fresh-JVM import)") {
    val outDir = Files.createTempDirectory("graft_imp_orphan").toString
    val withTable = SampleProject.project.copy(outputs = Seq(
      SampleProject.orderStats.copy(outputType = OutputType.Table,
        targetTable = Some("order_stats_orphan"))))
    ImportReconciler.reconcileAndCommit(spark, withTable, outDir)
    // simulate the fresh JVM of a later `graft.Main import`: a previous
    // import materialized the table, but THIS session's in-memory catalog
    // has no entry — only the physical warehouse directory exists
    val id = spark.sessionState.sqlParser.parseTableIdentifier("order_stats_orphan")
    val loc = Paths.get(spark.sessionState.catalog.defaultTablePath(id))
    Files.createDirectories(loc)
    Files.writeString(loc.resolve("part-00000.parquet"), "stale bytes")
    assert(!spark.catalog.tableExists("order_stats_orphan"))

    val r = ImportReconciler.reconcileAndCommit(spark, withTable.copy(outputs = Nil), outDir)
    assert(r.deletedOutputs == Seq("order_stats"))
    assert(!Files.exists(loc), "orphaned warehouse directory removed")
  }

  test("a removed source's pruned hub targets are deleted with it") {
    val full = SampleProject.project
    val cp = new Compiler(full).compile()
    val shrunk = full.copy(
      sources = full.sources.filterNot(_.name == "tpch_lineitem"),
      relations = full.relations.filterNot(r =>
        Seq(r.sourceName, r.relatedName).contains("tpch_lineitem")),
      outputs = Nil)
    val pruned = "enriched_tpch_lineitem__[0-9a-f]{16}"
    def tables = spark.catalog.listTables().collect().map(_.name).toSeq
    Seq("materializeDir", "materializeTables").foreach { mode =>
      val outDir = Files.createTempDirectory("graft_imp_pruned").toString
      ImportReconciler.reconcileAndCommit(spark, full, outDir)
      val runner =
        if (mode == "materializeDir")
          new Runner(cp, Runners.parquetDir(sfDir), materializeDir = Some(outDir))
        else new Runner(cp, Runners.parquetDir(sfDir), materializeTables = true)
      cp.outputs.foreach(co => runner.output(co.output.name))
      // a name that only starts like a pruned target is another object's
      Files.createDirectories(Paths.get(outDir, "enriched_tpch_lineitem__keep"))
      def written = (if (mode == "materializeDir") new java.io.File(outDir).list().toSeq
                     else tables).filter(_.matches(pruned))
      assert(written.nonEmpty, s"$mode: no pruned lineitem target was written")

      val r = ImportReconciler.reconcileAndCommit(spark, shrunk, outDir)
      assert(r.deletedSources == Seq("tpch_lineitem"))
      assert(written.isEmpty, s"$mode: pruned targets left behind: $written")
      assert(exists(outDir, "enriched_tpch_lineitem__keep"), s"$mode: unrelated dir removed")
    }
  }

  test("log commits only after the run: a failed run leaves no phantom version") {
    val outDir = Files.createTempDirectory("graft_imp_commit").toString
    val p1 = ImportReconciler.reconcile(spark, SampleProject.project, outDir)
    assert(p1.report.version == 1)
    // reconciled but not committed — the log must not know version 1 yet
    assert(ImportReconciler.loadLog(outDir).isEmpty)
    ImportReconciler.commit(outDir, p1)
    assert(ImportReconciler.loadLog(outDir).map(_.version) == Seq(1))
    // an aborted second import (run failed → commit never called) keeps
    // the log at version 1, and the NEXT reconcile re-issues version 2
    val aborted = ImportReconciler.reconcile(spark, SampleProject.project, outDir)
    assert(aborted.report.version == 2)
    assert(ImportReconciler.loadLog(outDir).map(_.version) == Seq(1))
    val retried = ImportReconciler.reconcile(spark, SampleProject.project, outDir)
    assert(retried.report.version == 2)
    ImportReconciler.commit(outDir, retried)
    assert(ImportReconciler.loadLog(outDir).map(_.version) == Seq(1, 2))
  }

  test("corrupt log heads raise the named error; commits leave no temp files") {
    val outDir = Files.createTempDirectory("graft_imp_corrupt").toString
    Files.createDirectories(Paths.get(outDir))
    // object line before any version line (torn/truncated head)
    Files.writeString(Paths.get(outDir, "import_log.tsv"),
      "source\tghost\tenriched_ghost\n")
    val e = intercept[RuntimeException] { ImportReconciler.loadLog(outDir) }
    assert(e.getMessage.contains("corrupt import log"))
    // unknown tag
    Files.writeString(Paths.get(outDir, "import_log.tsv"), "banana\t1\n")
    val e2 = intercept[RuntimeException] { ImportReconciler.loadLog(outDir) }
    assert(e2.getMessage.contains("corrupt import log"))

    // atomic rewrite hygiene: repeated commits parse clean, no .tmp residue
    Files.delete(Paths.get(outDir, "import_log.tsv"))
    ImportReconciler.reconcileAndCommit(spark, SampleProject.project, outDir)
    ImportReconciler.reconcileAndCommit(spark, SampleProject.project, outDir)
    assert(ImportReconciler.loadLog(outDir).map(_.version) == Seq(1, 2))
    val leftovers = new java.io.File(outDir).listFiles()
      .map(_.getName).filter(_.contains(".tmp"))
    assert(leftovers.isEmpty, s"temp files left behind: ${leftovers.mkString(",")}")
  }
}
