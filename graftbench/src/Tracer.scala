package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Spans and counters recorded from the benchmark's side of each layer
  * boundary. Off until `enable()`: an untraced run registers no listener
  * and `span` is a plain call.
  *
  * Per op it keeps: time inside each named span (seconds), counts set by
  * the workload, and the Spark listener totals of the op's jobs, stages
  * and tasks. Listener events arrive asynchronously, so they are read in
  * `afterOp`, after the listener bus has drained and outside the timed op.
  */
final class Tracer(spark: SparkSession, traced: Boolean, slots: Int) {
  @volatile private var on = false
  private val spanNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val counts = mutable.Map.empty[String, Double]
  private val probeWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val listener = new Counters

  def enable(): Unit = if (traced && !on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener.catalyst)
    on = true
  }

  def close(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener.catalyst)
    on = false
  }

  def span[T](layer: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally spanNs(layer) += System.nanoTime() - t0
    }

  /** Marks the wall window of a TypeProbe call so the jobs it started can
    * be counted from their submission times.
    */
  def probeWindow[T](f: => T): T =
    if (!on) f
    else {
      val t0 = System.currentTimeMillis()
      try f finally probeWindows += ((t0, System.currentTimeMillis()))
    }

  def count(name: String, v: Double): Unit = if (on) counts(name) = v

  def beginOp(): Unit = if (on) {
    spanNs.clear(); counts.clear(); probeWindows.clear()
  }

  private var lastOpNs = 0L
  def endOp(ns: Long): Unit = lastOpNs = ns

  private def add(name: String, v: Double): Unit =
    perOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def afterOp(): Unit = if (on) {
    org.apache.spark.BenchAccess.drain(spark.sparkContext)
    val l = listener
    add("op_s", lastOpNs / 1e9)
    spanNs.foreach { case (k, v) => add(k + "_s", v / 1e9) }
    // spans never nest, so their sum is the op time they account for
    add("trace.span_coverage", spanNs.values.sum.toDouble / lastOpNs)
    counts.foreach { case (k, v) => add(k, v) }
    val jobTimes = drainQueue(l.jobTimes)
    if (probeWindows.nonEmpty)
      add("analyze.probe_jobs", jobTimes.count(t => probeWindows.exists(w => t >= w._1 && t <= w._2)).toDouble)
    add("spark.jobs", l.jobs.getAndSet(0).toDouble)
    add("spark.stages", l.stages.getAndSet(0).toDouble)
    add("spark.tasks", l.tasks.getAndSet(0).toDouble)
    add("spark.failed_tasks", l.failedTasks.getAndSet(0).toDouble)
    val taskS = l.runMs.getAndSet(0) / 1e3
    add("spark.task_s", taskS)
    add("spark.core_util", taskS / (lastOpNs / 1e9 * slots))
    add("spark.input_bytes", l.inputBytes.getAndSet(0).toDouble)
    add("spark.shuffle_read_bytes", l.shuffleRead.getAndSet(0).toDouble)
    add("spark.shuffle_write_bytes", l.shuffleWrite.getAndSet(0).toDouble)
    add("spark.spill_bytes", l.spill.getAndSet(0).toDouble)
    add("catalyst.analysis_s", l.analysisMs.getAndSet(0) / 1e3)
    add("catalyst.optimization_s", l.optimizationMs.getAndSet(0) / 1e3)
    add("catalyst.planning_s", l.planningMs.getAndSet(0) / 1e3)
    val sc = spark.sparkContext
    add("storage.persistent_rdds", sc.getPersistentRDDs.size.toDouble)
    add("storage.pinned_mb", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  private def drainQueue[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = mutable.ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.toSeq
  }

  /** Per-op series of every span and counter, plus GC over the region. */
  def report(j: Json, gc: Harness.Gc.Snap): Unit = if (on) {
    val t = new Json
    perOp.foreach { case (k, v) => t.nums(k, v.toSeq) }
    t.num("jvm.gc_s", gc.ms / 1e3).num("jvm.gc_count", gc.count.toDouble)
    j.obj("trace", t)
  }

  /** Listener totals since the last `afterOp`. */
  private final class Counters extends SparkListener {
    val jobs, stages, tasks, failedTasks, runMs, inputBytes, shuffleRead,
      shuffleWrite, spill, analysisMs, optimizationMs, planningMs = new AtomicLong
    val jobTimes = new ConcurrentLinkedQueue[Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobTimes.add(e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (!e.taskInfo.successful) failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    /** Catalyst phase times of every query the session executes. */
    val catalyst: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = qe.tracker.phases
        p.get("analysis").foreach(s => analysisMs.addAndGet(s.durationMs))
        p.get("optimization").foreach(s => optimizationMs.addAndGet(s.durationMs))
        p.get("planning").foreach(s => planningMs.addAndGet(s.durationMs))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
  }
}
