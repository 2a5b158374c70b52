package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional subset (comma-separated query names) for local iteration
    // and targeted scale spot-checks; unset → the full driver gate. An
    // unknown name fails the run before any query executes.
    val selected = graft.queries.Queries.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      // repartition(1), NOT coalesce(1): coalesce removes the stage
      // boundary, so the ENTIRE upstream pipeline of every query runs
      // in one task — harmless on the 60k-row driver fixture, a 32×
      // slowdown at the sf10 scale gate. The shuffle keeps compute
      // parallel; one task then writes the single compare-friendly
      // file (the hash compare sorts rows, so the shuffle's order
      // nondeterminism is immaterial).
      try graft.core.Materialize.scope {
        q.build(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    val json = selected.flatMap(s => s.oracle.map(sql => s"${jsonString(s.name)}: ${jsonString(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Fixture provenance: record each input table's mtime so a mid-round
    // driver-side fixture regen (the round-8 NTZ incident) is visible in
    // the artifact itself, not only via filesystem forensics.
    Files.writeString(Paths.get(s"$outDir/fixture_mtimes.json"),
      Provenance.fixtureMtimesJson(sfDir))
    spark.stop()
  }

  /** `s` as a quoted JSON string, for every driver artifact (this dump,
    * Bench's lines, the fixture provenance). Backslash, quote and ALL
    * control chars (< 0x20) are escaped: a tab or CR in an oracle, an
    * exception message or a file name would otherwise make the driver's
    * json.load fail.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
