package graft.queries

import graft.analyze.Compiler
import graft.exec.{Runner, Runners}
import graft.operators.Similarity
import graft.{RuntimeProject, SampleProject}
import graft.core.Dirs
import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The fixtures every query family builds on: the compiled sample and
  * runtime projects and their runners over a dataset dir, the parquet
  * fixture readers, the scan-parallelism floor, the memoized IVF index
  * and the staged bounded-stream sources.
  */
object Fixtures {
  lazy val compiled = new Compiler(SampleProject.project).compile()

  def runner(sfDir: String): Runner =
    new Runner(compiled, Runners.parquetDir(sfDir))

  /** The runtime YAML project (src/main/resources/runtime_project) routed
    * through YamlLoader — the C1 driver path. Resources are extracted to a
    * temp dir because YamlLoader reads a directory tree.
    */
  lazy val yamlCompiled = {
    val tmp = tempDir("graft_runtime_project")
    RuntimeProject.copyTo(Paths.get(tmp))
    new Compiler(graft.parse.YamlLoader.load(tmp)).compile()
  }

  def yamlRunner(sfDir: String): Runner =
    new Runner(yamlCompiled, Runners.parquetDir(sfDir))

  def docs(s: SparkSession, dir: String): DataFrame =
    graft.core.Parquet.read(s, s"$dir/documents.parquet")
  def embeds(s: SparkSession, dir: String): DataFrame =
    graft.core.Parquet.read(s, s"$dir/embeddings.parquet")
  def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.readEvents(s, s"$dir/events.parquet")

  /** Adaptive scan-parallelism floor (r16, guide §2/§6): repartitions to
    * the session's core count ONLY when the input's physical partitioning
    * is below it. Every real multi-file corpus already carries more
    * partitions than cores — there the condition is false and the plan is
    * untouched (an unconditional repartition would shuffle the whole
    * corpus for nothing). The driver fixtures are SINGLE ROW-GROUP parquet
    * files, and parquet cannot split inside a row group, so no
    * `maxPartitionBytes` / `minPartitionNum` setting can raise their scan
    * parallelism: every scan-rooted stage ran as ONE task (measured: the
    * entire q_bpe_tokens_large BPE encode on 1 of 32 cores, 0.81 s of a
    * 1.1 s query). The floor buys the cores back for one bounded shuffle.
    *
    * OPT-IN per query via [[docsPar]], not the default reader: the full
    * before/after bench showed the floor wins ~2-4× on CPU-BOUND per-row
    * operators (BPE encode, image synth+dHash, audio/pixel byte walks,
    * profile scoring) but COSTS 0.3-0.5 s on light or aggregation-bound
    * queries (the 1-partition map side pre-collapses groups maximally
    * before the exchange; a repartition forfeits that and adds a stage).
    * The width is memoized per dataset dir and core count — `df.rdd`
    * materializes a physical plan, too heavy to re-run per pass.
    */
  private val floorWidths =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Integer]()
  /** The floor as a width: the session core count when the documents
    * fixture has fewer physical partitions than that, else 0. Operators
    * that take a parallelism knob instead of a repartitioned input (the
    * jaccardPrefixPairs verify spread) read it directly.
    */
  def floorPar(s: SparkSession, dir: String): Int = {
    val cores = s.sparkContext.defaultParallelism
    floorWidths.computeIfAbsent((dir, cores),
      _ => if (docs(s, dir).rdd.getNumPartitions >= cores) 0 else cores)
  }
  /** The documents fixture spread to [[floorPar]]. `pinned` also pins the
    * spread rows (lazily) — for the gate-FILTER chains only
    * (curate/clean): the optimizer pushes Filters (and with them the
    * whole projection feeding the filter columns) through a bare
    * Repartition, which sank q_curate_corpus's entire
    * page-synthesis+gate wave back into the 1-task scan stage — measured
    * as two 1.2 s single-task jobs (the subtree has two consumers).
    * Nothing pushes into an RDD scan, so the heavy per-row work runs
    * ABOVE the floor, parallel, computed once. Not for the
    * pure-projection floor queries: the pin's checkpoint job costs
    * ~0.1-0.25 s and they have no filter to sink.
    */
  def docsPar(s: SparkSession, dir: String, pinned: Boolean = false): DataFrame = {
    val par = floorPar(s, dir)
    if (par == 0) docs(s, dir)
    else if (pinned) graft.core.Materialize.pin(docs(s, dir).repartition(par))
    else docs(s, dir).repartition(par)
  }

  /** Fitted IVF indexes per dataset dir — train once, probe many (the
    * FAISS IVF usage contract; see [[graft.operators.Similarity.ivfFit]]).
    * The cell-assigned corpus is persisted so repeated probes touch the
    * cached assignment, not a re-clustering job. Per the IvfIndex
    * lifecycle contract, this map owns the persist and would own the
    * matching [[graft.operators.Similarity.IvfIndex.close]]; it is
    * process-lifetime BY DESIGN — the driver harness (Verify/Bench) runs
    * a bounded query set and exits, and one cached assignment per dataset
    * dir is the point of the memoization. A long-lived service embedding
    * this pattern should evict with `remove(dir).close()`. A bare persist,
    * not `Materialize.cache`, so no query's scope frees it.
    */
  private val ivfIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Similarity.IvfIndex]()
  def ivfIndex(s: SparkSession, dir: String): graft.operators.Similarity.IvfIndex =
    ivfIndexes.computeIfAbsent(dir, d => {
      // nLists = 0: corpus-size-derived (autoNLists) — 16 at the driver
      // SFs (< 2048 vectors), scaling with occupancy bounded beyond.
      // targetOccupancy 128, not the 256 default: every consumer's
      // candidate volume is occupancy-linear (SemDeDup pairs ∝
      // occupancy × probes × n; ANN probe ∝ occupancy × nProbe per
      // query), so halving occupancy halves the suite's pair work while
      // probes/nProbe cover a LARGER cell fraction — recall can only
      // improve. Measured at sf1 (BENCH_local_sf1.json): q_semantic_dedup
      // 5.27 (r10) → 3.14 s, still oracle-exact at every tested SF.
      val idx = Similarity.ivfFit(embeds(s, d),
        nLists = 0, seed = 42L, fitSampleFraction = 0.5,
        targetOccupancy = 128)
      idx.copy(assigned = idx.assigned.persist())
    })

  /** Bounded-stream source dirs, staged once per (dataset dir, shape):
    * the staged files are immutable, and only a run's checkpoint and
    * sink must be fresh, which runAvailableNow makes per invocation.
    */
  private val stagedStreams =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  def staged(dir: String, shape: String)(stage: => String): String =
    stagedStreams.computeIfAbsent((dir, shape), _ => deleteAtExit(stage))

  /** The temp dirs the fixtures keep for the life of the JVM (a query's
    * result may read its dir until then), deleted by one shutdown hook.
    */
  private val keptDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    keptDirs.forEach(d => scala.util.Try(Dirs.deleteTree(Paths.get(d)))), "graft-fixture-dirs"))
  private def deleteAtExit(dir: String): String = { exitHook; keptDirs.add(dir); dir }

  /** A fresh temp dir named `prefix…`, deleted at JVM exit. */
  private[queries] def tempDir(prefix: String): String =
    deleteAtExit(java.nio.file.Files.createTempDirectory(prefix).toString)
}
