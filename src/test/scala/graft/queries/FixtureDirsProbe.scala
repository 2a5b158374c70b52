package graft.queries

/** Sub-JVM main of [[FixtureDirsSpec]]: runs the queries whose fixtures
  * keep a temp dir for the life of the JVM over the dataset dir
  * `args(0)`, prints the `graft_*` entries of `java.io.tmpdir` as one
  * `PROBE_DIRS` line, and exits.
  */
object FixtureDirsProbe {
  /** One query per kept dir: the hub materialization and file-sink dirs,
    * the events, sentinel, doubled and change-wave stream sources, and
    * the extracted runtime project.
    */
  val queries = Seq("q_feature_customer_mat", "q_party_summary_file",
    "q_funnel_stream", "q_session_window_stream", "q_stream_dedup",
    "q_cdc_merge_stream", "q_struct_output")

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("2")
    spark.sparkContext.setLogLevel("ERROR")
    Queries.select(Some(queries.mkString(","))).foreach(_.build(spark, args(0)).collect())
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    println("PROBE_DIRS " + tmp.list().filter(_.startsWith("graft_")).sorted.mkString(" "))
    spark.stop()
  }
}
