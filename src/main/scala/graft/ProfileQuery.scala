package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job breakdown of ONE query's execution — the measurement tool the
  * optimization rounds use in place of the (disabled) Spark UI. Runs the
  * query once to warm codegen/file-index caches, then once measured with
  * a listener recording every job's wall time, stage count, task count
  * and shuffle bytes. Usage: graft.ProfileQuery <sfDir> <query>
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val fn = graft.queries.Queries.select(Some(name)).head.build
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def exec(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    exec() // warmup

    case class Job(start: Long, var end: Long = 0L, var stages: Int = 0,
        var tasks: Int = 0, var shuffleRead: Long = 0L,
        var shuffleWrite: Long = 0L, var input: Long = 0L,
        var desc: String = "", var names: List[String] = Nil)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.time)
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = j
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        jobs.synchronized {
          // exact attribution: JobStart carries its stage ids
          stageToJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += info.numTasks
            j.shuffleRead += info.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += info.taskMetrics.shuffleWriteMetrics.bytesWritten
            j.input += info.taskMetrics.inputMetrics.bytesRead
            j.names ::= s"[${info.numTasks}t ${(info.completionTime.getOrElse(0L) - info.submissionTime.getOrElse(0L))}ms ${info.name.takeWhile(_ != '(').trim}]"
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    exec()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain (private API in 4.x)
    println(f"QUERY $name wall=$wall%.3f s jobs=${jobs.size}")
    jobs.foreach { case (id, j) =>
      val dur = (j.end - j.start) / 1e3
      println(f"  job $id%3d ${dur}%8.3f s stages=${j.stages}%2d " +
        f"tasks=${j.tasks}%4d input=${j.input / 1024 / 1024}%4d MB " +
        f"sRead=${j.shuffleRead / 1024}%6d KB sWrite=${j.shuffleWrite / 1024}%6d KB " +
        j.desc.take(40) + " " + j.names.reverse.mkString(" "))
    }
    spark.stop()
  }
}
