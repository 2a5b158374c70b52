package graft.core

import graft.SparkEntry
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** A scope frees every pin and cache made inside it, on its own thread
  * and on the Pool threads it starts, and nothing else: not the memoized
  * IVF assignment, not another thread's pins, not a pin made outside.
  */
class MaterializeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-materialize-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Ids of the RDDs the context holds blocks for. */
  private def held: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `body` in a scope: the RDDs held just before the scope exits
    * that were not held before it, and those of them still held after.
    */
  private def scoped(body: => Unit): (Set[Int], Set[Int]) = {
    val before = held
    var inside = Set.empty[Int]
    Materialize.scope { body; inside = held -- before }
    (inside, held -- before)
  }

  Seq(
    "q_ngram_jaccard" -> "lazy pins",
    "q_shard_plan" -> "an eager pin",
    "q_stream_dedup" -> "a pinned streaming result",
    "q_lineitem_enriched_sql" -> "eager hub pins made on Pool threads",
    "q_dup_components" -> "the last round's pin",
    "q_substring_dedup" -> "a cache",
    "q_self_theta" -> "a Runner hub's cache").foreach { case (q, what) =>
    test(s"$q: a scope frees $what") {
      val (inside, left) = scoped(noop(query(q)))
      assert(inside.nonEmpty, s"$q held nothing inside its scope")
      assert(left.isEmpty, s"$q left RDDs $left of $inside after its scope")
    }
  }

  test("the memoized IVF assignment survives every scope") {
    val (inside, left) = scoped { noop(query("q_semantic_dedup")); noop(query("q_ngram_jaccard")) }
    assert(inside.size > 1)
    assert(left.size == 1, s"only the IVF assignment may outlive the scope: $left")
    val memo = spark.sparkContext.getPersistentRDDs(left.head)
    assert(!memo.isCheckpointed)
    val (again, leftAgain) = scoped(noop(query("q_semantic_dedup")))
    assert(leftAgain.isEmpty && !again.contains(left.head))
    assert(held.contains(left.head), "a second scope freed the IVF assignment")
  }

  test("a body that throws still frees its pins") {
    val before = held
    var inside = Set.empty[Int]
    val e = intercept[IllegalStateException](Materialize.scope {
      noop(query("q_shard_plan"))
      inside = held -- before
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(inside.nonEmpty)
    assert((held -- before).isEmpty, "the failed body's pins were not freed")
  }

  test("overlapping scopes on two threads each free only their own pins") {
    def rows(q: String): Set[Row] = Materialize.scope(query(q).collect().toSet)
    val expectA = rows("q_shard_plan")
    val expectB = rows("q_ngram_jaccard")
    val before = held
    val aPinned = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      // A pins eagerly, then reads its pin only after B's scope has exited
      val a = pool.submit(new Callable[(Set[Row], Boolean)] {
        def call(): (Set[Row], Boolean) = Materialize.scope {
          val df = query("q_shard_plan")
          val mine = held -- before
          aPinned.countDown()
          assert(bDone.await(5, TimeUnit.MINUTES))
          (df.collect().toSet, mine.nonEmpty && mine.subsetOf(held))
        }
      })
      val b = pool.submit(new Callable[Set[Row]] {
        def call(): Set[Row] =
          try {
            assert(aPinned.await(5, TimeUnit.MINUTES))
            rows("q_ngram_jaccard")
          } finally bDone.countDown()
      })
      val gotB = b.get()
      val (gotA, aKept) = a.get()
      assert(aKept, "B's scope freed A's pins")
      assert(gotA == expectA)
      assert(gotB == expectB)
    } finally pool.shutdown()
    assert((held -- before).isEmpty)
  }

  test("a pin names its caller as the call site, then restores the previous one") {
    val sc = spark.sparkContext
    sc.setCallSite("outer call site")
    try {
      val p = Materialize.pin(spark.range(10).toDF("id"))
      val rdd = p.queryExecution.logical match { case r: LogicalRDD => r.rdd }
      assert(rdd.toString.contains("localCheckpoint at MaterializeSpec.scala:"), rdd.toString)
      assert(sc.getLocalProperty("callSite.short") == "outer call site")
      assert(sc.getLocalProperty("callSite.long") == null)
      Materialize.release(p)
    } finally sc.clearCallSite()
  }

  test("a pin made outside any scope is left in place") {
    val before = held
    val outside = Materialize.pin(spark.range(100).toDF("id"), eager = true)
    val kept = held -- before
    assert(kept.nonEmpty)
    val (inside, left) = scoped(noop(Materialize.pin(spark.range(50).toDF("id"), eager = true)))
    assert(inside.size == 1)
    assert(left.isEmpty, "the scope kept its own pin")
    assert(kept.subsetOf(held), "a scope freed a pin made outside it")
    assert(outside.count() == 100)
    Materialize.release(outside)
    assert((held -- before).isEmpty)
  }
}
