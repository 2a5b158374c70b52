package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The registry keeps the driver contract: the same query names, the same
  * oracle-less set, and oracle SQL byte-identical to the two hand-kept
  * maps it replaced.
  */
class QueriesSpec extends AnyFunSuite {

  /** SHA-256 over the name-sorted `name\0sql\0` pairs of
    * `SparkEntry.oracleSql`, computed from the two-map `SparkEntry` the
    * registry replaced.
    */
  private val pinnedOracleDigest =
    "f0cc61672a91aeb57e51aedeaffb9569fb297e33d88239ddc8185ac20de17eba"

  private val noOracle = Set("q_customer_approx", "q_quantile_sketch",
    "q_similarity_topk_ivf", "q_similarity_topk_lsh")

  test("157 queries, 153 of them with an oracle") {
    assert(SparkEntry.queries.size === 157)
    assert(SparkEntry.oracleSql.size === 153)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the oracle-less queries are exactly the sketch and ANN rows") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet === noOracle)
    assert(Queries.all.filter(_.oracle.isEmpty).map(_.name).toSet === noOracle)
  }

  test("oracle SQL matches the pinned digest byte for byte") {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(name.getBytes("UTF-8")); md.update(0.toByte)
      md.update(sql.getBytes("UTF-8")); md.update(0.toByte)
    }
    assert(md.digest().map(b => f"${b & 0xff}%02x").mkString === pinnedOracleDigest)
  }

  test("a registry that declares a name twice is rejected") {
    val q = Queries.all.head
    val e = intercept[IllegalArgumentException](Queries.of(Seq(q), Seq(q.copy(oracle = None))))
    assert(e.getMessage.contains(q.name))
  }

  test("select fails on an unknown name and names it") {
    val e = intercept[IllegalArgumentException](Queries.select(Some("q_token_counts,q_nope")))
    assert(e.getMessage.contains("q_nope"))
    assert(!e.getMessage.contains("q_token_counts"))
  }

  test("select picks the listed names in name order, or all of them") {
    assert(Queries.select(Some(" q_token_counts, q_bm25,q_token_counts")).map(_.name) ===
      Seq("q_bm25", "q_token_counts"))
    assert(Queries.select(None).map(_.name) === SparkEntry.queries.keys.toSeq.sorted)
  }
}
