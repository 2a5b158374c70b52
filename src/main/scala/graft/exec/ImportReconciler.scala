package graft.exec

import graft.core.{Dirs, OutputType, Project}
import org.apache.spark.sql.SparkSession

/** C13 — versioned import reconciliation over a materialized workspace.
  *
  * The reference's import (`impc_execute.sql:10-219`) upserts every
  * project object BY NAME into its Postgres metadata store, validates the
  * imported expressions mid-import, and finally CASCADE-DELETES every
  * object the new import no longer contains
  * (`impc_execute.sql:163-186` → `u_delete_cascade.sql`: source → its
  * enrichments/relations/output-sources/raw attributes; output → its
  * columns and channels).
  *
  * graft's mapping of that surface:
  *  - the UPSERT half is subsumed by recompilation — there is no mutable
  *    metadata store; every import recompiles the full project from YAML
  *    (definitions cannot drift, and object identity is by name exactly
  *    like the reference's `source_name`/`output_name` matching);
  *  - the reference's in-import validations are `Compiler.compileChecked`
  *    (expression/type errors abort the import BEFORE anything is
  *    deleted, mirroring `impc_execute`'s early RETURNs);
  *  - what endures between imports — and therefore what reconciliation
  *    must cascade-delete — is the PHYSICAL workspace: materialized hub
  *    parquet dirs and hub catalog tables (the full `hubName` and every
  *    pruned `<hubName>__<16 hex>` target), and output targets written by
  *    `Runner.run`. A source or output removed (or renamed) in the new
  *    project leaves orphaned artifacts that a re-run would never
  *    overwrite; this pass removes exactly those.
  *  - the reference's `meta.import` rows (one per import, with a log) are
  *    the versioned import log: an append-only TSV in the workspace, one
  *    version block per import, recording every object name and its
  *    physical target at that version.
  */
object ImportReconciler {

  final case class ImportRecord(
      version: Int, timestamp: String,
      sources: Map[String, String],          // source name -> hub name
      outputs: Map[String, (String, String)] // output name -> (target, type tag)
  )

  final case class ImportReport(
      version: Int,
      deletedSources: Seq[String], deletedOutputs: Seq[String])

  /** A reconciled-but-uncommitted import: stale artifacts are already
    * deleted, the log version is NOT yet appended. [[commit]] it after the
    * import's run succeeds — the closest filesystem analog of the
    * reference's single import transaction (upserts + cascade delete +
    * `meta.import` row commit together): a failed run leaves the log at the
    * previous version instead of recording an import whose artifacts were
    * never materialized. The already-performed deletes are idempotent, so
    * the retrying import simply re-reconciles.
    */
  final case class PendingImport(record: ImportRecord, report: ImportReport)

  private def logPath(outDir: String) =
    java.nio.file.Paths.get(outDir, "import_log.tsv")

  private def typeTag(t: OutputType): String = t match {
    case OutputType.Table        => "table"
    case OutputType.File(format) => s"file:$format"
    case OutputType.Virtual      => "virtual"
  }

  /** Parse the append-only TSV import log (empty if none exists). Any
    * malformed line — unknown tag, wrong arity, or an object line with no
    * preceding `version` line (a truncated/corrupt head) — raises the same
    * named "corrupt import log" error rather than a bare
    * NoSuchElementException.
    */
  def loadLog(outDir: String): Seq[ImportRecord] = {
    val p = logPath(outDir)
    if (!java.nio.file.Files.exists(p)) return Nil
    val lines = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(p)).asScala
    val records = scala.collection.mutable.ListBuffer.empty[ImportRecord]
    lines.foreach { line =>
      line.split("\t", -1).toList match {
        case "version" :: v :: ts :: Nil =>
          records += ImportRecord(v.toInt, ts, Map.empty, Map.empty)
        case ("source" | "output") :: _ if records.isEmpty =>
          sys.error(s"corrupt import log line (object before any version): $line")
        case "source" :: name :: hub :: Nil =>
          val last = records.last
          records(records.length - 1) =
            last.copy(sources = last.sources + (name -> hub))
        case "output" :: name :: target :: tag :: Nil =>
          val last = records.last
          records(records.length - 1) =
            last.copy(outputs = last.outputs + (name -> (target, tag)))
        case Nil | List("") => ()
        case other => sys.error(s"corrupt import log line: $line")
      }
    }
    records.toList
  }

  /** Atomic log write: the full log (existing versions + the new block) is
    * written to a temp file in the same directory and moved over the old
    * one — a crash mid-write can never leave a torn trailing block for the
    * next [[loadLog]] to trip on (plain O_APPEND gives no such guarantee).
    */
  private def append(outDir: String, rec: ImportRecord): Unit = {
    val sb = new StringBuilder
    sb.append(s"version\t${rec.version}\t${rec.timestamp}\n")
    rec.sources.toSeq.sortBy(_._1).foreach { case (n, h) =>
      sb.append(s"source\t$n\t$h\n")
    }
    rec.outputs.toSeq.sortBy(_._1).foreach { case (n, (t, tag)) =>
      sb.append(s"output\t$n\t$t\t$tag\n")
    }
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    val target = logPath(outDir)
    val existing =
      if (java.nio.file.Files.exists(target))
        java.nio.file.Files.readString(target)
      else ""
    val tmp = java.nio.file.Files.createTempFile(dir, ".import_log", ".tmp")
    java.nio.file.Files.writeString(tmp, existing + sb.toString())
    try
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        // non-POSIX fs: plain move is still rename-based on one volume
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Tables of the current database: those in the catalog and, for a
    * fresh JVM whose in-memory catalog does not know them, the directories
    * under the database's location.
    */
  private def tableNames(spark: SparkSession): Seq[String] = {
    val catalog = spark.sessionState.catalog
    val db = catalog.getCurrentDatabase
    val location = new org.apache.hadoop.fs.Path(catalog.getDatabaseMetadata(db).locationUri)
    val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk =
      if (fs.exists(location)) fs.listStatus(location).filter(_.isDirectory).map(_.getPath.getName)
      else Array.empty[String]
    (catalog.listTables(db).filter(_.database.isDefined).map(_.table) ++ onDisk).distinct
  }

  /** Reconcile the workspace at `outDir` against `project`: cascade-delete
    * the physical artifacts of every source/output present in the LAST
    * import but absent (by name) from this one, and return the next log
    * version as an uncommitted [[PendingImport]]. Run AFTER validation (the
    * reference deletes inside the same import transaction, after its
    * upserts validate); [[commit]] AFTER the import's run succeeds.
    *
    * Table drops go through [[Runner.dropTableAndOrphanLocation]]: each
    * `graft.Main import` runs in a fresh JVM whose in-memory catalog has no
    * entry for tables a PREVIOUS import created, so DROP TABLE alone would
    * be a no-op and the warehouse directory (`$outDir/_warehouse/<target>`)
    * would be orphaned forever — exactly the cross-import scenario C13
    * covers.
    */
  def reconcile(
      spark: SparkSession, project: Project, outDir: String,
      timestamp: String = java.time.Instant.now().toString): PendingImport = {
    val log = loadLog(outDir)
    val prev = log.lastOption
    val curSources = project.sources.map(s => s.name -> s.hubName).toMap
    val curOutputs = project.outputs
      .map(o => o.name -> (o.target, typeTag(o.outputType))).toMap

    val staleSources = prev.map(_.sources).getOrElse(Map.empty)
      .filterNot { case (name, _) => curSources.contains(name) }
    val staleOutputs = prev.map(_.outputs).getOrElse(Map.empty)
      .filterNot { case (name, _) => curOutputs.contains(name) }

    staleSources.foreach { case (_, hubName) =>
      // hub parquet dir (materializeDir mode) and/or hub catalog table
      // (materializeTables mode) — u_delete_cascade's 'source' branch —
      // plus the pruned targets materialized output()/hubSelect calls wrote
      Dirs.deleteTree(java.nio.file.Paths.get(outDir, hubName))
      Runner.dropTableAndOrphanLocation(spark, hubName)
      val pruned = java.util.regex.Pattern.quote(hubName) + "__[0-9a-f]{16}"
      Option(new java.io.File(outDir).list()).toSeq.flatten.filter(_.matches(pruned))
        .foreach(n => Dirs.deleteTree(java.nio.file.Paths.get(outDir, n)))
      tableNames(spark).filter(_.matches("(?i)" + pruned))
        .foreach(Runner.dropTableAndOrphanLocation(spark, _))
    }
    staleOutputs.foreach { case (_, (target, tag)) =>
      // u_delete_cascade's 'output' branch, per sink type
      tag match {
        case "table"   => Runner.dropTableAndOrphanLocation(spark, target)
        case "virtual" => spark.catalog.dropTempView(target)
        case _         => Dirs.deleteTree(java.nio.file.Paths.get(outDir, target))
      }
    }

    val version = prev.map(_.version + 1).getOrElse(1)
    PendingImport(
      ImportRecord(version, timestamp, curSources, curOutputs),
      ImportReport(version,
        staleSources.keys.toSeq.sorted, staleOutputs.keys.toSeq.sorted))
  }

  /** Commit a reconciled import: atomically appends its log version. Call
    * only after the import's run succeeded (see [[PendingImport]]).
    */
  def commit(outDir: String, pending: PendingImport): ImportReport = {
    append(outDir, pending.record)
    pending.report
  }

  /** reconcile + immediate commit, for callers with no run step between
    * (e.g. a metadata-only import of a project with no outputs to write).
    */
  def reconcileAndCommit(
      spark: SparkSession, project: Project, outDir: String,
      timestamp: String = java.time.Instant.now().toString): ImportReport =
    commit(outDir, reconcile(spark, project, outDir, timestamp))
}
