package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property test: the array-speed `bpe_encode` expression must be
  * value-identical to the ORIGINAL generated replace chain
  * (TextAnalysis.bpeChainApplied — the form the DuckDB oracles are
  * generated from) on random words under random merge tables. The
  * generator leans into the semantic corners: repeated-letter runs (the
  * alternate-pair replace artifact), rules whose LHS references symbols
  * only PRODUCED by earlier rules (multi-char symbol matching), rules
  * that can never fire, duplicate rules, and single-char words. Both
  * sides run in one Spark job per case; equality is on the exact piece
  * arrays, not counts.
  */
object BpeEncodePropSpec extends Properties("functions.BpeEncode") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-bpe-prop")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // tiny alphabet ⇒ dense rule hits and repeated-pair runs
  private val letter: Gen[String] = Gen.oneOf("t", "h", "e", "a")
  private val word: Gen[String] = for {
    n <- Gen.chooseNum(1, 12)
    cs <- Gen.listOfN(n, letter)
  } yield cs.mkString

  /** A rank-ordered merge table: each rule pairs two symbols drawn from
    * the alphabet PLUS the outputs of earlier rules, so later rules can
    * only fire after earlier merges — the chain-order dependence that a
    * wrong skip-optimization would break.
    */
  private val mergeTable: Gen[Seq[(String, String)]] =
    Gen.chooseNum(0, 8).flatMap { n =>
      (0 until n).foldLeft(Gen.const(Seq.empty[(String, String)])) {
        case (acc, _) => acc.flatMap { rules =>
          val symbols = Seq("t", "h", "e", "a") ++ rules.map(_._2)
          for {
            a <- Gen.oneOf(symbols)
            b <- Gen.oneOf(symbols)
          } yield rules :+ (s"$a $b" -> (a + b))
        }
      }
    }

  property("equals the generated replace chain on exact piece arrays") =
    forAll(mergeTable, Gen.chooseNum(1, 10).flatMap(Gen.listOfN(_, word))) {
      (merges, words) =>
        import spark.implicits._
        graft.functions.GraftFunctions.register(spark)
        val table = merges.map { case (f, t) => s"$f>$t" }.mkString(";")
        val chain = TextAnalysis.bpeChainApplied(merges)
        val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
          .toDF("id", "w")
          .selectExpr("id",
            s"bpe_encode(w, '$table') AS fast",
            s"split(trim($chain), ' ') AS slow")
        df.collect().forall { r =>
          r.getSeq[String](1) == r.getSeq[String](2)
        }
    }

  /** Real-tokenizer scale: a 10,000-rule table (two orders of magnitude
    * past the hash-gated q_bpe_tokens_large) runs through bpe_encode and
    * matches a plain-Scala replace-chain reference word for word. The
    * DuckDB oracle is excluded at this size BY COST, not parseability —
    * graft.queries.TokenQueries.bpeOracleSqlStaged parses any table, but
    * 200 staged CTE layers over the corpus is an oracle-runtime budget the
    * driver gate doesn't buy; the semantics are pinned here instead.
    */
  property("10k-rule table: bpe_encode matches the plain-Scala chain") = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // deterministic compound table in the BpeProfile shape
    val letters = "etaoinshrdlucmfwypvbgkjqxz".map(_.toString)
    val rules = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val symbols = scala.collection.mutable.ArrayBuffer[String](letters: _*)
    val seen = scala.collection.mutable.HashSet[String]()
    var i = 0
    while (rules.length < 10000) {
      // Long arithmetic: the Int product overflows past ~20k steps
      val a = symbols(((i.toLong * 7919L) % symbols.length).toInt)
      val b = symbols(((i.toLong * 104729L + 13L) % symbols.length).toInt)
      val key = s"$a $b"
      if (!seen(key) && (a + b).length <= 12) {
        seen += key
        rules += (key -> (a + b))
        symbols += (a + b)
      }
      i += 1
    }
    val merges = rules.toSeq
    val table = merges.map { case (f, t) => s"$f>$t" }.mkString(";")
    def refEncode(w: String): Seq[String] = {
      var s = " " + w.toCharArray.mkString(" ") + " "
      merges.foreach { case (f, t) => s = s.replace(s" $f ", s" $t ") }
      s.trim.split(" ").toSeq
    }
    val rnd = new scala.util.Random(7)
    val words = (0 until 300).map(_ =>
      (0 until (1 + rnd.nextInt(14))).map(_ => letters(rnd.nextInt(8))).mkString)
    val t0 = System.nanoTime()
    val got = words.zipWithIndex.map { case (w, j) => (j.toLong, w) }
      .toDF("id", "w")
      .selectExpr("id", s"bpe_encode(w, '$table') AS pieces")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"10k-rule bpe_encode over ${words.size} words: $secs%.2f s")
    words.zipWithIndex.forall { case (w, j) => got(j.toLong) == refEncode(w) }
  }
}
