package graft.exec

import graft.analyze._
import graft.core._
import graft.core.Sql.q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds an output table's DataFrame from the channels of
  * [[Lowering.output]] (reference: u_output_generate_query.sql:53-155).
  *
  * Per channel: filter → optional groupBy-aggregate → the declared output
  * columns in order with casts, NULL-filling unmapped columns → UNION ALL
  * by position (u_output_generate_query.sql:88,148).
  */
final class OutputPlanner(hubs: String => DataFrame) {

  def plan(co: CompiledOutput): DataFrame =
    Lowering.output(co).map(channel(co, _)).reduce(_ union _)

  private def channel(co: CompiledOutput, ch: Lowering.OutputChannel): DataFrame = {
    var df = hubs(ch.source)
    ch.filter.foreach { sql =>
      val cond = expr(sql)
      // boolean gate, reference parity (impc_update_test_results.sql:66-77)
      val dt = df.select(cond).schema.head.dataType
      if (dt != org.apache.spark.sql.types.BooleanType)
        throw CompileError(
          s"Output '${co.output.name}': filter must be a boolean expression " +
            s"(got ${dt.simpleString}): ${ch.ch.filter.get.expr.raw}")
      df = df.filter(cond)
    }
    if (ch.grouped) {
      val dims = ch.dims.map { case (target, sql) => expr(sql).as(target) }
      val aggs = ch.aggs.map { case (target, sql) => expr(sql).as(target) }
      df = df.groupBy(dims: _*).agg(aggs.head, aggs.tail: _*)
      // after aggregation, every mapped target column exists under its name
      df.select(ch.columns.map { case (c, value) =>
        (if (value.isDefined) df.col(q(c.name)) else lit(null)).cast(c.dataType).as(c.name)
      }: _*)
    } else
      df.select(ch.columns.map { case (c, value) =>
        value.fold(lit(null))(expr).cast(c.dataType).as(c.name)
      }: _*)
  }
}

/** Compiles and runs a whole project: sources in topological order, then
  * outputs (reference: svc_generate_queries.sql:85-127 run.sql ordering,
  * databricks_sql.py sequential execution).
  *
  * Every hub comes from one provider, [[hubs]]: a source planned with only
  * the rules a consumer needs (see graft.analyze.Pruner for why Catalyst
  * cannot prune lookup joins itself). One memo keyed by (source, sorted
  * rule set) means the same key always yields the same DataFrame, and one
  * lock map — a lock per key — means a key is built (and written) once
  * even under concurrent callers. A build holds its key's lock while it
  * resolves dependencies, which the compiler guarantees are acyclic, so
  * locks are always taken upstream and cannot deadlock.
  *
  * `materializeDir = Some(dir)` writes every hub as parquet and re-reads it
  * — the reference's DROP/CREATE hub behavior (S3), and the spill-safe /
  * restartable mode for very large pipelines (file-backed stats also feed
  * Catalyst's broadcast decisions). `None` keeps hubs as lazy plans in one
  * DAG — Catalyst sees through the whole pipeline (column pruning reaches
  * the scans across source boundaries), the right default for tests and
  * moderate scale. The write target is a function of the key: the full
  * rule set writes the reference's `hubName`, any pruned set writes
  * `<hubName>__<fingerprint of its rule names>`, so a pruned write never
  * replaces a hub another DataFrame reads.
  */
final class Runner(
    cp: CompiledProject,
    reader: SourceDef => DataFrame,
    materializeDir: Option[String] = None,
    /** Materialize hubs as catalog tables (overwrite saveAsTable) instead
      * of parquet paths — the reference's exact DROP/CREATE hub contract
      * (S3), and the only mode where `SourceDef.hubBucketBy` applies:
      * bucketed hub tables make downstream joins on the bucket key arrive
      * pre-hash-partitioned (zero-shuffle sort-merge joins between
      * co-bucketed hubs).
      */
    materializeTables: Boolean = false) {

  private type Key = (String, Seq[String])
  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, DataFrame]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[Key, Object]()

  /** The hub provider: each source planned (and, in materialized mode,
    * written) with only its rules in `needed` — in materialized mode also
    * every source's [[layoutRules]], closed over again; dependencies
    * resolve through the same provider.
    */
  def hubs(needed: Map[String, Set[String]]): String => DataFrame = {
    val planned =
      if (!materialized) needed
      else Pruner.closure(cp, (needed.keySet ++ layoutRules.keySet).map { s =>
        s -> (needed.getOrElse(s, Set.empty) ++ layoutRules.getOrElse(s, Set.empty))
      }.toMap)
    lazy val get: String => DataFrame = name => {
      val cs = cp.compiledSource(name)
      val keep = planned.getOrElse(name, Set.empty)
      val rules = cs.rules.filter(r => keep.contains(r.name))
      val key: Key = (name, rules.map(_.name).sorted)
      Option(memo.get(key)).getOrElse {
        locks.computeIfAbsent(key, _ => new Object).synchronized {
          Option(memo.get(key)).getOrElse {
            val pruned = cs.copy(rules = rules)
            val built = materialize(pruned, target(cs, key._2),
              new SourcePlanner(cp, pruned, reader, get).plan())
            memo.put(key, built)
            built
          }
        }
      }
    }
    get
  }

  private def materialized: Boolean = materializeDir.isDefined || materializeTables

  /** Columns a materialized hub is written by — its source's partition
    * columns, and in table mode its bucket columns. Those that are rules
    * join every pruned rule set, or the write would miss them.
    */
  private lazy val layoutRules: Map[String, Set[String]] = cp.sources.map { cs =>
    val s = cs.source
    s.name -> (s.hubPartitionBy ++ (if (materializeTables) s.hubBucketBy else Nil)).toSet
  }.toMap

  // SHA-1, not hashCode: a rule set names the same target in every JVM
  private def target(cs: CompiledSource, rules: Seq[String]): String =
    if (rules.size == cs.rules.size) cs.source.hubName
    else {
      val sha = java.security.MessageDigest.getInstance("SHA-1")
        .digest(rules.mkString("\n").getBytes("UTF-8"))
      cs.source.hubName + "__" + sha.take(8).map(b => f"$b%02x").mkString
    }

  private lazy val fullHubs =
    hubs(cp.sources.map(cs => cs.source.name -> cs.rules.map(_.name).toSet).toMap)

  /** A source's full enriched hub (every rule). */
  def hub(name: String): DataFrame = fullHubs(name)

  /** The DROP/CREATE materialization itself (write + read-back) of one
    * hub to `target`. Jobs are labeled per target (guide §1.5) —
    * descriptions are thread-local, so the level-parallel prebuild labels
    * each concurrent write correctly.
    */
  private def materialize(
      cs: CompiledSource, target: String, planned: DataFrame): DataFrame = {
    var built = planned
    val sc = built.sparkSession.sparkContext
    // A write-parallelism floor (repartition(cores) before the write when
    // the source scan is single-split) was MEASURED and REJECTED here
    // (r17): parallelizing the parquet encode was outweighed by the added
    // exchange per hub write plus 32 tiny files per hub whose read-back
    // taxes every downstream consumer — q_feature_customer_mat 5.2→8.3 s.
    sc.setJobDescription(s"hub materialize: $target")
    try {
      if (materializeTables) {
        val s = cs.source
        Runner.overwriteTable(built, target) { w0 =>
          var w = w0
          if (s.hubPartitionBy.nonEmpty) w = w.partitionBy(s.hubPartitionBy: _*)
          if (s.hubBucketBy.nonEmpty) {
            val n = if (s.hubBuckets > 0) s.hubBuckets else 32
            w = w.bucketBy(n, s.hubBucketBy.head, s.hubBucketBy.tail: _*)
              .sortBy(s.hubBucketBy.head, s.hubBucketBy.tail: _*)
          }
          w
        }
        built = built.sparkSession.table(target)
      } else materializeDir.foreach { dir =>
        val path = s"$dir/$target"
        val writer = built.write.mode("overwrite")
        val partitioned =
          if (cs.source.hubPartitionBy.nonEmpty)
            writer.partitionBy(cs.source.hubPartitionBy: _*)
          else writer
        partitioned.parquet(path)
        built = built.sparkSession.read.parquet(path)
      }
    } finally sc.setJobDescription(null)
    built
  }

  /** Materialize-mode job overlap: hub writes are blocking Spark actions,
    * and a straggling write tail leaves the cluster idle while the next
    * independent hub waits (guide §2.6). Group the requested hubs'
    * transitive closure into dependency levels and submit each level's
    * writes through [[graft.core.Pool]] — Spark schedules concurrent jobs
    * FIFO, so the next hub's tasks back-fill executors freed by the
    * current hub's tail. Results are identical: levels run in topological
    * order, so every dependency is memoized before any dependent plans,
    * and names within a level are distinct (no double-build).
    * Lazy mode (no materialization) skips this — hub "builds" there are
    * driver-side plan construction with nothing to overlap.
    */
  private def prebuildHubs(
      names: Seq[String], build: String => DataFrame): Unit =
    if (materialized) cp.levels(names).foreach { lvl =>
      // build(n) is idempotent and per-key locked, so an already-built
      // name is a cheap no-op; names within a level are distinct
      Pool.all("graft-hub-build", lvl.map(n => () => { build(n); () }))
    }

  def buildAllHubs(): Unit = {
    prebuildHubs(cp.sources.map(_.source.name), hub)
    cp.sources.foreach(cs => hub(cs.source.name))
  }

  /** Project `cols` out of a source's hub, planning only the rules the
    * selection transitively needs — the API callers should use when they
    * want a column subset of an enriched source.
    */
  def hubSelect(name: String, cols: String*): DataFrame =
    hubs(Pruner.closure(cp, Map(name -> cols.toSet)))(name)
      .select(cols.map(c => col(q(c))): _*)

  /** One output's DataFrame over hubs carrying only the rules its
    * mappings and filter transitively reach (VERDICT r1 scale defect #3);
    * in materialized mode every hub in the closure is written first,
    * level-parallel.
    */
  def output(name: String): DataFrame = {
    val co = cp.output(name)
    val get = hubs(Pruner.neededForOutput(cp, co))
    prebuildHubs(co.channels.map(_.channel.sourceName).distinct, get)
    new OutputPlanner(get).plan(co)
  }

  /** Execute the full pipeline: all hubs, then write all outputs.
    *
    * Sink per output type (reference: u_validate_output.sql:20-60 +
    * u_output_generate_query.sql:43-48 DROP/CREATE):
    *  - `table`   → overwrite `saveAsTable` against the session catalog
    *                (the reference's CTAS contract; works on the in-memory
    *                catalog too — point `spark.sql.warehouse.dir` where the
    *                data should live)
    *  - `file`    → parquet / avro / text under `outDir` (text requires the
    *                single column to be string-castable; avro requires the
    *                spark-avro module on the classpath)
    *  - `virtual` → temp view
    *
    * Everything the run pins or caches is freed when it returns.
    */
  def run(outDir: String): Unit = Materialize.scope {
    buildAllHubs()
    cp.outputs.foreach { co =>
      val df = new OutputPlanner(hub).plan(co)
      val target = co.output.target
      co.output.outputType match {
        case OutputType.Virtual => df.createOrReplaceTempView(target)
        case OutputType.Table =>
          Runner.overwriteTable(df, target)(identity)
        case OutputType.File("text") =>
          df.select(df.columns.map(c =>
            df.col(q(c)).cast("string")): _*)
            .write.mode("overwrite").text(s"$outDir/$target")
        case OutputType.File("avro") =>
          try df.write.mode("overwrite").format("avro").save(s"$outDir/$target")
          catch {
            case e: Exception if Option(e.getMessage).exists(_.contains("avro")) =>
              throw CompileError(
                s"Output '${co.output.name}': avro output requires the " +
                  "spark-avro module on the classpath (external since Spark 2.4)")
          }
        case _ =>
          df.write.mode("overwrite").parquet(s"$outDir/$target")
      }
    }
  }
}

object Runner {
  import org.apache.spark.sql.{DataFrameWriter, Row}

  /** Idempotent CTAS (the reference's DROP TABLE IF EXISTS + CREATE TABLE
    * AS): drops any registered table first, and also removes an ORPHANED
    * managed location — with the default in-memory catalog, a crashed
    * previous session leaves the directory behind with no catalog entry,
    * and a bare saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    */
  def overwriteTable(df: DataFrame, name: String)(
      configure: DataFrameWriter[Row] => DataFrameWriter[Row]): Unit = {
    dropTableAndOrphanLocation(df.sparkSession, name)
    configure(df.write.mode("overwrite").format("parquet")).saveAsTable(name)
  }

  /** DROP TABLE IF EXISTS + removal of the default managed LOCATION even
    * when no catalog entry exists — with the default in-memory catalog a
    * table created by a PREVIOUS session (or JVM) is not registered in this
    * one, so the DROP alone is a no-op and the warehouse directory would be
    * orphaned (and a later saveAsTable would fail with
    * LOCATION_ALREADY_EXISTS). Shared by the CTAS path above and
    * [[ImportReconciler]]'s cascade delete.
    */
  def dropTableAndOrphanLocation(
      spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
    spark.sql(s"DROP TABLE IF EXISTS ${id.quotedString}")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(id))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }
}

object Runners {
  /** Reader for a directory of `<table>.parquet` files (the test fixtures),
    * through [[graft.core.Parquet.read]]: each table's schema is inferred
    * once, so a source read costs no schema-merge job after the first.
    * Nanosecond-precision parquet timestamps (events.parquet) are readable
    * only as LONG via the legacy conf; declared timestamp attrs still cast
    * correctly because the fixture's TIMESTAMP(NANOS) column is simply not
    * declared by any source that uses this reader. Reads on the active
    * session, and leaves `spark.sql.legacy.parquet.nanosAsLong` set on it.
    */
  def parquetDir(dir: String): SourceDef => DataFrame = s => {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Parquet.read(spark, s"$dir/${s.sourceTable}.parquet")
  }
}
