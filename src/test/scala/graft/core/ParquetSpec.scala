package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The memoized reader gives the schema Spark would infer, infers it once
  * per file stamp and parquet conf set, and leaves a missing path's error
  * to Spark.
  */
class ParquetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.01"
  private val fixtures = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")
  private val nanos = "spark.sql.legacy.parquet.nanosAsLong"
  private val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-parquet-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  private def copy(from: String, to: java.nio.file.Path): String = {
    Files.copy(Paths.get(from), to, StandardCopyOption.REPLACE_EXISTING)
    to.toString
  }

  test("every fixture's schema equals Spark's inference, with nanosAsLong unset and set") {
    val confs = Seq(nanos, ntz)
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    def setOrUnset(k: String, v: Option[String]): Unit = v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    try {
      // a memo that ignored the confs would hand each pass the previous
      // pass's schemas: the fixtures' events.ts (TIMESTAMP without a UTC
      // flag) reads as TIMESTAMP_NTZ, or as TIMESTAMP with NTZ inference off
      for ((n, t) <- Seq(None -> None, Some("true") -> None, None -> Some("false"), None -> None)) {
        setOrUnset(nanos, n)
        setOrUnset(ntz, t)
        fixtures.foreach { f =>
          val p = s"$sf/$f.parquet"
          val want = spark.read.parquet(p).schema
          assert(Parquet.schema(spark, p) == want, s"$f with nanosAsLong=$n, inferTimestampNTZ=$t")
          assert(Parquet.read(spark, p).schema == want, s"$f read with nanosAsLong=$n, inferTimestampNTZ=$t")
        }
      }
      val ts = s"$sf/events.parquet"
      val plain = Parquet.schema(spark, ts)("ts").dataType
      spark.conf.set(ntz, "false")
      assert(Parquet.schema(spark, ts)("ts").dataType != plain,
        "events.ts should change type with TIMESTAMP_NTZ inference off")
    } finally saved.foreach { case (k, v) => setOrUnset(k, v) }
  }

  test("a second read of the same file starts no Spark job") {
    val p = copy(s"$sf/orders.parquet", Files.createTempDirectory("graft_pq").resolve("orders.parquet"))
    val first = jobs(Parquet.read(spark, p))
    val second = jobs(Parquet.read(spark, p))
    assert(first >= 1, "the first read should infer the schema")
    assert(second == 0, s"the second read started $second jobs")
    assert(Parquet.read(spark, p).count() == spark.read.parquet(p).count())
  }

  test("a file rewritten at the same path gets a new schema") {
    val p = Files.createTempDirectory("graft_pq").resolve("t.parquet")
    copy(s"$sf/nation.parquet", p)
    assert(Parquet.schema(spark, p.toString) == spark.read.parquet(s"$sf/nation.parquet").schema)
    copy(s"$sf/region.parquet", p)
    assert(Parquet.schema(spark, p.toString) == spark.read.parquet(s"$sf/region.parquet").schema)
    assert(Parquet.read(spark, p.toString).count() == 5)
  }

  test("a Spark-written directory rewritten with other columns gets a new schema") {
    val d = Files.createTempDirectory("graft_pq").resolve("out").toString
    spark.range(3).toDF("a").write.parquet(d)
    assert(Parquet.read(spark, d).columns.toSeq == Seq("a"))
    spark.range(4).selectExpr("id AS b", "CAST(id AS STRING) AS c").write.mode("overwrite").parquet(d)
    val again = Parquet.read(spark, d)
    assert(again.columns.toSeq == Seq("b", "c"))
    assert(again.count() == 4)
  }

  test("a missing path raises Spark's own error") {
    val p = Files.createTempDirectory("graft_pq").resolve("absent.parquet").toString
    val want = intercept[Exception](spark.read.parquet(p))
    val got = intercept[Exception](Parquet.read(spark, p))
    assert(got.getClass == want.getClass)
    assert(got.getMessage == want.getMessage)
    assert(intercept[Exception](Parquet.schema(spark, p)).getMessage == want.getMessage)
  }
}
