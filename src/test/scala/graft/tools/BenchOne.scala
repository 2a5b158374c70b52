package graft.tools

/** Single-query bench probe: re-measures ONE registered query in the
  * exact Bench session config (local[32], AQE on, noop sink), printing
  * every pass instead of the min — the tool for adjudicating whether a
  * suspicious BENCH cell is a plan regression or a cold-pass/GC artifact
  * (round 4's phantom >2× regressions; round 6's bimodal
  * q_dup_components cold pass).
  *
  * Usage: sbt "Test/runMain graft.tools.BenchOne <query> <sfDir> [passes]"
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    val query = graft.queries.Queries.select(Some(name)).head
    val spark = graft.Sessions.local("32")
    spark.sparkContext.setLogLevel("ERROR")
    def once(): Double = {
      val t0 = System.nanoTime()
      query.build(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val times = (1 to passes).map(_ => once())
    println(s"BENCHONE $name $dir passes=" +
      times.map(t => f"$t%.2f").mkString(" ") +
      f" min=${times.min}%.2f")
    spark.stop()
  }
}
