package graft.exec

import graft.analyze.Compiler
import org.apache.spark.sql.SparkSession

/** Sub-JVM probe for the Spark InlineCTE miscompile that forces the
  * localCheckpoint workaround in q_lineitem_enriched_sql (graft.queries.HubQueries).
  *
  * The miscompile (PLAN_VALIDATION_FAILED_RULE_IN_BATCH: InlineCTE
  * "resolved became unresolved" on deeply nested CTE+lateral view trees)
  * reproduces deterministically only in a pristine JVM — once unrelated
  * plans have executed in the same JVM it no longer triggers, so an
  * in-suite test sharing the suite's SparkSession can never observe it
  * (verified round 6: the identical composition fails 3/3 in a fresh JVM
  * and passes after any prior hub materialization, even from a
  * `newSession()`). This main therefore runs the exact Verify-path
  * composition — fresh session, plan-backed hub views from emitted SQL,
  * in topo order — and reports via exit code:
  *
  *   2 = documented miscompile (workaround still needed)
  *   0 = nested form compiles AND matches the planner (Spark fixed it —
  *       drop the workaround in HubQueries q_lineitem_enriched_sql)
  *   3 = nested form runs but DIVERGES from the planner (worst case)
  *   1 = unrecognized error (investigate)
  *
  * SqlEmitterSpec's canary spawns this in a sub-JVM and asserts on the
  * exit code.
  */
object InlineCteProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cp = new Compiler(graft.SampleProject.project).compile()
    val em = new SqlEmitter(cp)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
      }
    cp.sources.foreach { cs =>
      spark.sql(em.sourceSql(cs.source.name, s => s.sourceTable))
        .createOrReplaceTempView("hub_" + cs.source.name)
    }
    val code =
      try {
        val a = spark.table("hub_tpch_lineitem").collect().map(_.toString).sorted
        val b = new Runner(cp, Runners.parquetDir(dir))
          .hub("tpch_lineitem").collect().map(_.toString).sorted
        if (a.length == b.length && a.sameElements(b)) {
          println("PROBE_OK_MATCH: nested CTE+lateral hub chain compiles and matches the planner")
          0
        } else {
          println(s"PROBE_OK_DIVERGE: nested form runs but diverges " +
            s"(${a.diff(b).take(3).mkString("; ")})")
          3
        }
      } catch {
        case e: Throwable =>
          val msg = String.valueOf(e.getMessage) + " " + e.getClass.getName
          if (msg.contains("unresolved") || msg.contains("Unresolved") ||
              msg.contains("PLAN_VALIDATION_FAILED") ||
              msg.contains("IllegalStateException") ||
              msg.contains("INTERNAL_ERROR")) {
            println(s"PROBE_MISCOMPILE: ${msg.take(200)}")
            2
          } else {
            println(s"PROBE_OTHER_ERROR: ${msg.take(200)}")
            1
          }
      }
    spark.stop()
    sys.exit(code)
  }
}
