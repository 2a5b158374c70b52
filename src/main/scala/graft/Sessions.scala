package graft

import org.apache.spark.sql.SparkSession

/** The one local-session configuration the mains share (Bench, Verify,
  * ProfileQuery, Plans, Main): `local[cpus]` with one shuffle partition per
  * slot, UTC session time, AQE with partition coalescing, no UI. Callers
  * keep their own `SPARK_GRAFT_CPUS` default and log level.
  */
object Sessions {
  def local(cpus: String, warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    b.getOrCreate()
  }
}
