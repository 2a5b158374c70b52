package graft

import graft.analyze.Compiler
import graft.exec.{Runner, Runners}
import graft.parse.YamlLoader
import org.apache.spark.sql.SparkSession

/** CLI: compile and run a YAML project against parquet data
  * (the engine's analog of `dataforge --build` / `--run`).
  *
  * Usage:
  *   graft.Main validate <projectDir>
  *   graft.Main plan     <projectDir> <dataDir>            — print physical plans
  *   graft.Main run      <projectDir> <dataDir> <outDir>   — write hubs+outputs
  *
  * `<dataDir>` holds `<source_table>.parquet` files; `<outDir>` receives
  * `hub_*` and output parquet directories.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "validate" :: projectDir :: rest if rest.isEmpty || rest == List("--strict-types") =>
      // like the reference's import: compile, then empirically type-probe
      // every expression on a local Spark (C12) before declaring success
      val spark = session()
      val (cp, warnings) = new Compiler(YamlLoader.load(projectDir))
        .compileChecked(spark, failOnNullResult = rest.nonEmpty)
      warnings.foreach(w => println(s"WARNING: $w"))
      println(s"OK: ${cp.sources.size} sources, ${cp.relations.size} relations, " +
        s"${cp.outputs.size} outputs")
      println("source order: " + cp.sources.map(_.source.name).mkString(" -> "))
      spark.stop()

    case "import" :: projectDir :: dataDir :: outDir :: Nil =>
      // C13: versioned import into a materialized workspace — validate
      // (the reference's in-import checks), cascade-delete artifacts of
      // objects removed since the last import (impc_execute.sql:163-186 →
      // u_delete_cascade.sql), run, and append the import-log version.
      // The upsert half of the reference's import is subsumed by
      // recompiling the project from YAML (see ImportReconciler scaladoc).
      val spark = session(warehouseDir = Some(s"$outDir/_warehouse"))
      val project = YamlLoader.load(projectDir)
      val (cp, warnings) = new Compiler(project).compileChecked(spark)
      warnings.foreach(w => println(s"WARNING: $w"))
      val pending = graft.exec.ImportReconciler.reconcile(spark, project, outDir)
      val report = pending.report
      if (report.deletedSources.nonEmpty)
        println(s"Deleted ${report.deletedSources.size} sources not existing " +
          s"in import: ${report.deletedSources.mkString(", ")}")
      if (report.deletedOutputs.nonEmpty)
        println(s"Deleted ${report.deletedOutputs.size} outputs not existing " +
          s"in import: ${report.deletedOutputs.mkString(", ")}")
      val runner = new Runner(cp, Runners.parquetDir(dataDir),
        materializeDir = Some(outDir))
      // the log version commits only once the run materialized this
      // import's artifacts — a failed run must not record a phantom
      // version (the reference commits upserts, cascade delete, and its
      // meta.import row in ONE transaction; deletes here are idempotent,
      // so the retry simply re-reconciles)
      runner.run(outDir)
      graft.exec.ImportReconciler.commit(outDir, pending)
      println(s"Import v${report.version} completed successfully: $outDir")
      spark.stop()

    case "plan" :: projectDir :: dataDir :: Nil =>
      val spark = session()
      val cp = new Compiler(YamlLoader.load(projectDir)).compile()
      val runner = new Runner(cp, Runners.parquetDir(dataDir))
      cp.sources.foreach { cs =>
        println(s"=== hub: ${cs.source.name} ===")
        runner.hub(cs.source.name).explain("formatted")
      }
      cp.outputs.foreach { co =>
        println(s"=== output: ${co.output.name} ===")
        runner.output(co.output.name).explain("formatted")
      }
      spark.stop()

    case "emit" :: projectDir :: outDir :: Nil =>
      // reference-style SQL artifact: target/sources/*.sql, outputs/*.sql,
      // run.sql (importProject.py:119-150 writes the same layout). A local
      // session runs the type probe so inferred-decimal rules carry the
      // decimal(38,12) discipline cast in the emitted text, exactly like
      // the reference's probe-backfilled enrichment.datatype
      import java.nio.file.{Files, Paths}
      val spark = session()
      val cp = new Compiler(YamlLoader.load(projectDir)).compile()
      val (ruleTypes, _) = graft.analyze.TypeProbe.checkWithTypes(spark, cp)
      val em = new graft.exec.SqlEmitter(cp, ruleTypes)
      val tableFor: graft.core.SourceDef => String = s => s.sourceTable
      Files.createDirectories(Paths.get(s"$outDir/sources"))
      Files.createDirectories(Paths.get(s"$outDir/outputs"))
      cp.sources.foreach { cs =>
        Files.writeString(Paths.get(s"$outDir/sources/${cs.source.name}.sql"),
          em.sourceSql(cs.source.name, tableFor))
      }
      cp.outputs.foreach { co =>
        Files.writeString(Paths.get(s"$outDir/outputs/${co.output.name}.sql"),
          em.outputSql(co.output.name))
      }
      Files.writeString(Paths.get(s"$outDir/run.sql"), em.runSql(tableFor))
      println(s"Emitted SQL for ${cp.sources.size} sources, ${cp.outputs.size} outputs: $outDir")
      spark.stop()

    case "init" :: targetDir :: Nil =>
      // starter project (the reference's `--init` copies its packaged
      // sample; ours ships the runtime_project resources)
      RuntimeProject.copyTo(java.nio.file.Paths.get(targetDir))
      println(s"Initialized starter project: $targetDir")

    case "run" :: projectDir :: dataDir :: outDir :: Nil =>
      val spark = session(warehouseDir = Some(s"$outDir/_warehouse"))
      // probe before executing, like the reference's import (--build):
      // invalid expressions fail fast with named errors, NULL-probe
      // results surface as warnings
      val (cp, warnings) = new Compiler(YamlLoader.load(projectDir)).compileChecked(spark)
      warnings.foreach(w => println(s"WARNING: $w"))
      // materialize hubs: the reference's DROP/CREATE hub behavior (S3) and
      // the restartable, spill-safe mode for large pipelines
      val runner = new Runner(cp, Runners.parquetDir(dataDir),
        materializeDir = Some(outDir))
      runner.run(outDir)
      println(s"Execution completed successfully: $outDir")
      spark.stop()

    case "audit" :: projectDir :: dataDir :: Nil =>
      // data-vs-declaration audit: every relation's unmatched lookups and
      // *-1 fan-out violations, measured by the relation expressions
      // themselves (see RelationAudit). Exit 1 on violations — the CI
      // gate shape: a fanned-out *-1 silently inflates every downstream
      // join, so a pipeline should refuse to run on top of it.
      val spark = session()
      val cp = new Compiler(YamlLoader.load(projectDir)).compile()
      val runner = new Runner(cp, Runners.parquetDir(dataDir))
      // audit twice-consumed (print + gate): run once
      val result = graft.core.Materialize.pin(
        graft.exec.RelationAudit.audit(cp, runner.hub), eager = true)
      result.show(truncate = false)
      val bad = graft.exec.RelationAudit.hasViolations(result)
      spark.stop()
      if (bad) {
        System.err.println("cardinality violations found (see rows above)")
        sys.exit(1)
      }

    case "skew" :: projectDir :: dataDir :: Nil =>
      // join-key skew pre-flight over every declared relation: the
      // source-side join attributes' frequency distribution (Gini, p99,
      // top-key share — Integrity.skewAudit) per relation. Advisory
      // output, no exit gate: skew thresholds are workload decisions
      // (salting vs AQE vs broadcast caps), unlike the audit
      // subcommand's hard *-1 contract.
      val spark = session()
      val cp = new Compiler(YamlLoader.load(projectDir)).compile()
      val runner = new Runner(cp, Runners.parquetDir(dataDir))
      val rows = cp.project.relations.flatMap { r =>
        val rel = cp.relations(r.name)
        val thisKeys = rel.expr.params.indices.collect {
          case i if !rel.bindsFar(i, rel.forward) => rel.expr.params(i).path
        }.distinct
        if (thisKeys.isEmpty) None
        else Some(graft.operators.Integrity.skewAudit(
          runner.hub(rel.relation.sourceName), thisKeys,
          s"${r.name}(${thisKeys.mkString(",")})"))
      }
      rows.reduceOption(_.unionAll(_)) match {
        case Some(all) => all.show(truncate = false)
        case None =>
          println("no relations with source-side join keys to audit")
      }
      spark.stop()

    case _ =>
      System.err.println(
        """usage: graft.Main validate <projectDir> [--strict-types]
          |       graft.Main init     <targetDir>
          |       graft.Main plan     <projectDir> <dataDir>
          |       graft.Main emit     <projectDir> <outDir>
          |       graft.Main run      <projectDir> <dataDir> <outDir>
          |       graft.Main import   <projectDir> <dataDir> <outDir>   — versioned re-import (C13)
          |       graft.Main audit    <projectDir> <dataDir>            — relation/data integrity audit
          |       graft.Main skew     <projectDir> <dataDir>            — join-key skew pre-flight (advisory)""".stripMargin)
      sys.exit(2)
  }

  private def session(warehouseDir: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // never default the warehouse into the working directory — catalog
    // (table-type) writes land here
    val wh = warehouseDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    val s = Sessions.local(cpus, Some(wh))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
