package graftbench

import graft.SparkEntry
import graft.analyze.{Compiler, TypeProbe}
import graft.core.CoreTypes
import graft.parse.YamlLoader
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up a single local session, warm the
  * workload's ops until their time settles, run them closed-loop with one
  * client for the requested seconds, then check outputs and write the raw
  * samples as JSON for `run.py` to summarize.
  *
  * The ops call the public functions `graft.Main` calls (never `Main.main`,
  * which builds a `local[32]` session and stops it). With `--trace 1` the
  * same ops run with spans around each layer call and a Spark listener
  * registered; without it, neither exists.
  *
  * Usage (normally driven by run.py):
  *   Harness --workload W --seconds S --trace 0|1 --slots K --work DIR
  *           --data DIR --project DIR --ops FILE --out FILE --warmup_rounds N
  */
object Harness {

  final case class Op(name: String, run: () => Unit, after: () => Unit = () => ())

  /** What a workload gives the loop: the ops of one round (repeated until
    * the time is up), a per-op output check run outside the timed region,
    * and the final checks whose files run.py compares with DuckDB.
    */
  trait Workload {
    def round: Seq[Op]
    def checkOp(name: String): Option[String] = None
    def finalChecks(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val slots = opt("slots").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace, slots)
    val result = new Json
    result.num("slots", slots).num("shuffle_partitions", slots)
      .num("jvm_start_epoch_ms", ManagementFactory.getRuntimeMXBean.getStartTime)
      .num("session_epoch_ms", System.currentTimeMillis())
    try {
      val w = opt("workload") match {
        case "validate_wide" => new ValidateWide(spark, tracer, opt("project"), work)
        case "operators_mix" => new OperatorsMix(spark, tracer, opt("data"), work, lines(opt("ops")))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      new Loop(w, tracer, seconds, opt("warmup_rounds").toInt)
        .run(result, trace)
      w.finalChecks()
    } finally {
      tracer.close()
      spark.stop()
    }
    Files.writeString(Paths.get(opt("out")), result.render)
  }

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  def nanos[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  /** Spark SQL's `noop` sink evaluates every column and discards rows; a
    * count would let Catalyst prune the per-row work away.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dumpParquet(df: DataFrame, dir: String): Unit =
    df.repartition(1).write.mode("overwrite").parquet(dir)

  /** Drop locally checkpointed blocks a finished query left behind, as
    * graft.Bench does between queries, so one op's blocks do not tax the
    * next. Run outside the timed region.
    */
  def dropCheckpointBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(_.isCheckpointed)
      .foreach(_.unpersist(blocking = true))

  /** `{"name": "sql"}` for the oracle queries run.py needs. */
  def writeOracle(names: Seq[String], path: String): Unit = {
    val j = new Json
    names.foreach(n => j.str(n, SparkEntry.oracleSql(n)))
    Files.writeString(Paths.get(path), j.render)
  }

  // --------------------------------------------------------------- loop

  final class Loop(w: Workload, tracer: Tracer, seconds: Double, warmupRounds: Int) {

    private def runOp(op: Op, record: Boolean, out: Samples): Unit = {
      tracer.beginOp()
      val (err, ns) = nanos {
        try { op.run(); None }
        catch { case e: Throwable => Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      tracer.endOp(ns)
      val failure = err.orElse(try w.checkOp(op.name)
        catch { case e: Throwable => Some(s"${op.name} check: ${e.getMessage}") })
      op.after()
      tracer.afterOp()
      if (record) out.add(op.name, ns, failure)
      else failure.foreach(f => throw new IllegalStateException(s"warm-up op failed: $f"))
    }

    /** A fixed number of whole warm-up rounds, so every run starts its
      * timed region at the same point of the JIT/codegen warm-up curve;
      * the count is chosen where round times have levelled off (NOTES.md).
      */
    private def warmUp(): Seq[Double] = {
      val scratch = new Samples
      (1 to warmupRounds).map { _ =>
        nanos(w.round.foreach(runOp(_, record = false, scratch)))._2 / 1e9
      }
    }

    private def region(secs: Double): (Samples, Int) = {
      val samples = new Samples
      val t0 = System.nanoTime()
      var rounds = 0
      while ((System.nanoTime() - t0) / 1e9 < secs) {
        w.round.foreach(runOp(_, record = true, samples))
        rounds += 1
      }
      (samples, rounds)
    }

    /** Untraced: one timed region of `seconds`. Traced: an untraced half
      * as the overhead baseline, then a traced half for the layers.
      */
    def run(result: Json, traced: Boolean): Unit = {
      result.nums("warmup_s", warmUp())
      result.num("warm_end_epoch_ms", System.currentTimeMillis())
      val secs = if (traced) seconds / 2 else seconds
      val base = if (traced) region(secs)._1 else new Samples
      if (traced) {
        result.nums("untraced_latency_s", base.ns.map(_ / 1e9).toSeq)
        tracer.enable()
      }
      val gc0 = Gc.snapshot()
      val (samples, rounds) = region(secs)
      val gc1 = Gc.snapshot()
      result.num("rounds", rounds)
      // ops_per_s divides by op time only: per-op checks and block
      // cleanup run between ops, outside the measurement
      result.num("op_wall_s", samples.totalNs / 1e9)
      samples.write(result, base)
      result.num("heap_mb", Gc.settledHeapMb())
      tracer.report(result, gc1.minus(gc0))
    }
  }

  final class Samples {
    val names = mutable.ArrayBuffer.empty[String]
    val ns = mutable.ArrayBuffer.empty[Long]
    val failures = mutable.ArrayBuffer.empty[String]
    def add(name: String, t: Long, failure: Option[String]): Unit = {
      names += name; ns += t; failure.foreach(failures += _)
    }
    def totalNs: Long = ns.sum
    /** Latencies of these samples; attempts and failures also count the
      * untraced half of a traced run (`other`).
      */
    def write(j: Json, other: Samples): Unit = {
      j.nums("latency_s", ns.map(_ / 1e9).toSeq)
      j.strs("op_names", names.toSeq)
      j.num("ops_attempted", ns.size + other.ns.size)
      j.num("ops_failed", failures.size + other.failures.size)
      j.strs("failures", (other.failures ++ failures).take(20).toSeq)
    }
  }

  object Gc {
    final case class Snap(count: Long, ms: Long) {
      def minus(o: Snap): Snap = Snap(count - o.count, ms - o.ms)
    }
    def snapshot(): Snap = {
      val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      Snap(beans.map(_.getCollectionCount.max(0L)).sum, beans.map(_.getCollectionTime.max(0L)).sum)
    }

    /** Used heap once full collections stop freeing memory: collect until
      * two successive readings agree within 1% (at most 8 collections).
      */
    def settledHeapMb(): Double = {
      val mem = ManagementFactory.getMemoryMXBean
      def used(): Double = { System.gc(); Thread.sleep(150); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
      var prev = used()
      var cur = used()
      var i = 2
      while (math.abs(cur - prev) > 0.01 * prev && i < 8) {
        prev = cur; cur = used(); i += 1
      }
      cur
    }
  }

  // ------------------------------------------------------------ workloads

  /** What `Main validate` does: load the YAML, compile, type-probe. */
  final class ValidateWide(spark: SparkSession, t: Tracer, projectDir: String, work: String)
      extends Workload {
    private val expect = lines(s"$work/expect.tsv").map(_.split("\t", 3).toSeq)
    private val expectTypes = expect.collect { case Seq("T", k, v) => k -> v }.toMap
    private val expectWarn = expect.collect { case Seq("W", w) => w }.toSet
    @volatile private var last: Option[(Map[String, String], Set[String])] = None

    val round: Seq[Op] = Seq(Op("validate", () => {
      val project = t.span("parse.load")(YamlLoader.load(projectDir))
      val cp = t.span("analyze.compile")(new Compiler(project).compile())
      val (types, warnings) = t.span("analyze.probe") {
        t.probeWindow(TypeProbe.checkWithTypes(spark, cp))
      }
      t.count("analyze.probe_exprs", cp.sources.map(_.rules.size).sum + cp.relations.size +
        cp.outputs.map(_.channels.count(_.filter.isDefined)).sum)
      last = Some((types.map { case ((s, r), dt) => s"$s.$r" -> CoreTypes.typeName(dt) },
        warnings.map(_.takeWhile(_ != ':')).toSet))
    }))

    override def checkOp(name: String): Option[String] = last.flatMap { case (types, warns) =>
      last = None
      val badTypes = (expectTypes.keySet ++ types.keySet)
        .filter(k => expectTypes.get(k) != types.get(k)).toSeq.sorted
      if (badTypes.nonEmpty)
        Some(s"rule types differ: " + badTypes.take(5)
          .map(k => s"$k expected ${expectTypes.get(k)} got ${types.get(k)}").mkString("; "))
      else if (warns != expectWarn)
        Some(s"NULL-probe warnings differ: expected $expectWarn got $warns")
      else None
    }
  }

  /** The query suite: one op is one drawn `SparkEntry.queries` entry run
    * into the noop sink. `draw` lines are `query<TAB>stratum`; queries of
    * the `exec` stratum are `Runner` calls, so their DataFrame build is
    * timed as the exec layer's plan build.
    */
  final class OperatorsMix(spark: SparkSession, t: Tracer, data: String, work: String,
                           draw: Seq[String]) extends Workload {
    private val queries = SparkEntry.queries
    private val picked = draw.map(_.split("\t") match { case Array(q, s) => (q, s) })

    val round: Seq[Op] = picked.map { case (q, stratum) =>
      val layer = if (stratum == "exec") "exec.plan_build" else "operators.build"
      val run = if (stratum == "exec") "exec.execute" else "operators.execute"
      Op(q, () => {
        val df = t.span(layer)(queries(q)(spark, data))
        t.span(run)(noop(df))
      }, after = () => dropCheckpointBlocks(spark))
    }

    override def finalChecks(): Unit = {
      val names = picked.map(_._1).distinct.sorted
      names.foreach { n =>
        dumpParquet(queries(n)(spark, data), s"$work/check/$n")
        dropCheckpointBlocks(spark)
      }
      Files.writeString(Paths.get(s"$work/check_dirs.txt"),
        names.map(n => s"$n\t$work/check/$n").mkString("\n"))
      writeOracle(names, s"$work/oracle.json")
    }
  }
}
