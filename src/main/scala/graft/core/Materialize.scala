package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place that pins, caches and frees blocks.
  *
  * A pin cuts lineage: the frame is checkpointed (local executor blocks,
  * or a reliable checkpoint under a directory) and later readers scan the
  * stored rows. A cache keeps the plan: a freed cache only recomputes, so
  * it suits frames whose readers may outlive the function that built them
  * (Runner's memoized hub frames), while reading a freed pin fails.
  *
  * [[scope]] bounds both: every pin and cache made inside it — on the
  * calling thread and on the [[Pool]] threads it starts — is freed when
  * it exits, whether the body returned or threw. Outside any scope `pin`
  * and `cache` are the bare Spark calls, and their blocks live until
  * ContextCleaner or the caller frees them. Scopes are per thread, so two
  * threads with overlapping scopes on one session never free each other's
  * blocks.
  */
object Materialize {

  /** The pins and caches one scope frees. Pool threads add to it too. */
  private[core] type Held = ConcurrentLinkedQueue[DataFrame]

  private val current = new ThreadLocal[Held]

  /** The calling thread's scope, for [[Pool]] to hand to its threads. */
  private[core] def held: Option[Held] = Option(current.get)

  /** Runs `body` on this thread as part of `scope` (or of none). */
  private[core] def within[T](scope: Option[Held])(body: => T): T = {
    val outer = current.get
    current.set(scope.orNull)
    try body
    finally current.set(outer)
  }

  private def register(df: DataFrame): DataFrame = {
    held.foreach(_.add(df))
    df
  }

  /** Cuts `df`'s lineage: a local checkpoint, or with `reliableDir` a
    * reliable checkpoint written under that directory (set on the
    * SparkContext once, see [[ensureCheckpointDir]]). Lazy pins store
    * their blocks during the first action that reads them. The pin's RDDs
    * are labelled with the line that called `pin` (see [[asCaller]]).
    */
  def pin(df: DataFrame, eager: Boolean = false,
      reliableDir: Option[String] = None): DataFrame = {
    val sc = df.sparkSession.sparkContext
    register(reliableDir match {
      case Some(dir) =>
        ensureCheckpointDir(sc, dir)
        asCaller(sc, "checkpoint")(df.checkpoint(eager))
      case None => asCaller(sc, "localCheckpoint")(df.localCheckpoint(eager))
    })
  }

  private val CallSiteShort = "callSite.short"
  private val CallSiteLong = "callSite.long"

  /** Runs `body` with Spark's call site set to `what at <file>:<line>` of
    * the first stack frame outside this object, then restores the
    * previous call site. Spark would name this file instead (the first
    * frame outside its own packages), so every pin in a plan dump, the UI
    * or a job listener would read `localCheckpoint at Materialize.scala`.
    */
  private def asCaller[T](sc: SparkContext, what: String)(body: => T): T = {
    val self = getClass.getName.stripSuffix("$")
    val frames = new Throwable().getStackTrace.toSeq.dropWhile { f =>
      f.getClassName == self || f.getClassName.startsWith(self + "$")
    }
    frames.headOption match {
      case None => body
      case Some(f) =>
        val saved = Seq(CallSiteShort, CallSiteLong).map(k => k -> sc.getLocalProperty(k))
        sc.setLocalProperty(CallSiteShort, s"$what at ${f.getFileName}:${f.getLineNumber}")
        sc.setLocalProperty(CallSiteLong, frames.take(20).mkString("\n"))
        try body
        finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  /** Persists `df` (memory and disk) for several readers, keeping its plan
    * so a reader after the release recomputes instead of failing.
    */
  def cache(df: DataFrame): DataFrame = register(df.persist())

  /** Frees one pin or cache now, without waiting for its blocks to go.
    * A pin's blocks sit on the checkpointed RDD behind its `LogicalRDD`,
    * not in the CacheManager, so `Dataset.unpersist` cannot reach them.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** Runs `body`, then frees every pin and cache made inside it. */
  def scope[T](body: => T): T = {
    val mine = new Held
    try within(Some(mine))(body)
    finally mine.forEach(release(_))
  }

  /** Sets `sc`'s checkpoint dir to `dir` unless the current one already
    * lives directly under it (`setCheckpointDir` appends a UUID subdir).
    * Both sides are compared as filesystem-qualified Hadoop paths:
    * `getCheckpointDir` returns a qualified URI (`file:/tmp/ckpt/uuid`)
    * while callers pass plain paths, and a sibling such as `/data/ckpt2`
    * must not count as `/data/ckpt`. Re-setting would re-point the
    * context-global dir for every concurrent job sharing it.
    */
  private[graft] def ensureCheckpointDir(sc: SparkContext, dir: String): Unit = {
    def qualified(p: String): Path = {
      val path = new Path(p)
      path.getFileSystem(sc.hadoopConfiguration).makeQualified(path)
    }
    val want = qualified(dir)
    val alreadySet = sc.getCheckpointDir.exists { cur =>
      Option(qualified(cur).getParent).contains(want)
    }
    if (!alreadySet) sc.setCheckpointDir(dir)
  }
}
