package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit}
import scala.collection.mutable

/** Runs a handful of blocking Spark actions at once: Spark schedules
  * concurrent jobs FIFO, so one action's tasks back-fill the slots another
  * action's tail leaves idle.
  *
  * The pool lives for one call. Its threads are created inside the call,
  * so they inherit the caller's Spark local properties (job description,
  * job group) the way any child thread does, and every one of them has
  * exited when the call returns, whether it succeeded or threw. Each
  * task runs inside the caller's [[Materialize.scope]], if any.
  */
object Pool {

  /** Most threads one call starts. */
  private val MaxThreads = 4

  /** Every task's result, in task order, from `min(tasks, MaxThreads)`
    * threads named `<name>-<n>`; a single task runs on the caller. The
    * first failed task's exception (in task order) is rethrown once every
    * task has finished.
    */
  def all[T](name: String, tasks: Seq[() => T]): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val threads = mutable.ArrayBuffer.empty[Thread]
      val pool = Executors.newFixedThreadPool(math.min(tasks.size, MaxThreads),
        new ThreadFactory {
          def newThread(r: Runnable): Thread = threads.synchronized {
            val t = new Thread(r, s"$name-${threads.size + 1}")
            t.setDaemon(true)
            threads += t
            t
          }
        })
      try {
        val scope = Materialize.held
        val futures = tasks.map(t =>
          pool.submit(new Callable[T] { def call(): T = Materialize.within(scope)(t()) }))
        futures.map { f =>
          try f.get()
          catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        threads.synchronized(threads.toList).foreach(_.join())
      }
    }
}
