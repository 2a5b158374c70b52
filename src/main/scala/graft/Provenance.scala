package graft

/** Fixture provenance: which parquet inputs a run actually read, with
  * their last-modified times. Round 8's driver regenerated
  * `/root/testdata` AFTER the round's last commit, silently flipping the
  * events `ts` dtype and breaking 8 queries — an incident diagnosable
  * only by filesystem forensics. Stamping mtimes into every bench/verify
  * artifact makes the next mid-round regen visible in the JSON itself.
  */
object Provenance {
  /** `{"table.parquet":"2026-08-13T18:07:12Z",...}` for every parquet
    * file/directory directly under `sfDir`, ISO-8601 UTC.
    */
  def fixtureMtimesJson(sfDir: String): String = {
    val files = Option(new java.io.File(sfDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    files.map { f =>
      val iso = fmt.format(java.time.Instant.ofEpochMilli(f.lastModified()))
      Verify.jsonString(f.getName) + ":\"" + iso + "\""
    }.mkString("{", ",", "}")
  }
}
