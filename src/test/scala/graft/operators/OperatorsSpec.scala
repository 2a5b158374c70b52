package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.util.Random

class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-operators-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF("doc_id", "text")
  }

  // ------------------------------------------------------------- text ops

  test("textStats counts chars and tokens") {
    val df = TextAnalysis.textStats(docsDf(Seq((1L, "Hello world, test!"), (2L, "one  two"))))
    val r = df.orderBy("doc_id").collect()
    assert(r(0).getAs[Int]("n_chars") == 18)
    assert(r(0).getAs[Int]("n_tokens") == 3)
    assert(r(1).getAs[Int]("n_tokens") == 2)
  }

  test("gopherRules: each rule fires on its own violation; clean doc keeps") {
    // a clean doc satisfying all 7 rules (minWords lowered so small
    // fixtures exercise the pass path too)
    val clean = "the cat sat with all of them and that was fine to see " +
      "because they have come around the old house again today"
    val rows = Seq(
      1L -> clean,
      2L -> "the of and", // too few words
      3L -> ("a " * 30 + "the of and with be that"), // mean word len < 3
      4L -> (clean + " " + "# " * 8), // hash symbol ratio > 0.1
      5L -> (clean.split(' ').map(_ + "...").mkString("\n")), // ellipsis lines
      6L -> (clean.split(' ').map("• " + _).mkString("\n")), // ALL bullet lines
      // one markdown list inside prose (20% bullet lines) is fine — the
      // paper removes only near-all-list pages (> 90%)
      11L -> (Seq(clean, "• first point", clean, clean, clean).mkString("\n")),
      7L -> (clean + " " + "123 456 789 101 112 131 415 161 718 192 021 222" * 2), // alpha < 0.8
      8L -> "zz qq xx vv ww yy rr tt pp ss dd ff gg hh jj kk ll mm nn bb cc", // no stop words
      9L -> "", // empty: everything null/zero, keep = false
      10L -> null.asInstanceOf[String])
    val got = TextAnalysis.gopherRules(docsDf(rows), minWords = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("gopher_keep"))
    assert(!got(2L).getAs[Boolean]("r_word_count"))
    assert(!got(3L).getAs[Boolean]("r_word_len"))
    assert(!got(4L).getAs[Boolean]("r_symbol"))
    assert(!got(5L).getAs[Boolean]("r_ellipsis"))
    assert(!got(6L).getAs[Boolean]("r_bullet"))
    // threshold is 0.9 (remove near-all-list pages), NOT 0.1: 20% bullet
    // lines keep the rule
    assert(got(11L).getAs[Boolean]("r_bullet"))
    assert(got(11L).getAs[Boolean]("gopher_keep"))
    assert(!got(7L).getAs[Boolean]("r_alpha"))
    assert(!got(8L).getAs[Boolean]("r_stop"))
    assert(got(8L).getAs[Long]("n_stop_hits") == 0L)
    for (id <- Seq(9L, 10L)) {
      assert(got(id).getAs[Long]("n_words") == 0L)
      assert(got(id).isNullAt(got(id).fieldIndex("mean_word_len")))
      assert(!got(id).getAs[Boolean]("gopher_keep"))
    }
    // violations only disable their own rule — doc 4 still passes r_stop
    assert(got(4L).getAs[Boolean]("r_stop"))
    assert(Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L).forall(id =>
      !got(id).getAs[Boolean]("gopher_keep")))
  }

  test("langId detects stopword profiles and CJK") {
    val df = TextAnalysis.langId(docsDf(Seq(
      (1L, "the cat and the dog of it was here"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "le chat et la maison des gens est un"),
      (4L, "你好世界"),
      (5L, "zzz qqq xxx"))))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en" && m(2L) == "de" && m(3L) == "fr")
    assert(m(4L) == "zh" && m(5L) == "unknown")
  }

  test("tokenCounts: BPE-ish regex splits punctuation and digits") {
    val df = TextAnalysis.tokenCounts(docsDf(Seq((1L, "ab12 cd, ef!"))))
    val r = df.collect()(0)
    assert(r.getAs[Int]("ws_tokens") == 3)
    // ab | 12 | cd | , | ef | !
    assert(r.getAs[Int]("bpe_tokens") == 6)
  }

  test("piiScrub redacts emails, IPs, and phone runs in contract order") {
    val df = TextAnalysis.piiScrub(docsDf(Seq(
      (1L, "mail bob.smith+x@example.co.uk now"),
      (2L, "host 192.168.001.1 up"),
      (3L, "call +1 (555) 123-4567 today"),
      (4L, "clean text with the number 42"),
      (5L, "a@b.io at 10.0.0.1 ring 5551234567890"))))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text_scrubbed"), r.getAs[Boolean]("has_pii"))).toMap
    assert(df(1L) == (("mail <EMAIL> now", true)))
    assert(df(2L) == (("host <IP> up", true)))
    assert(df(3L) == (("call <PHONE> today", true)))
    assert(df(4L) == (("clean text with the number 42", false)))
    // order contract: email before IP before phone — all three in one doc
    assert(df(5L) == (("<EMAIL> at <IP> ring <PHONE>", true)))
  }

  test("domainStats extracts hosts, lower-cases, counts urls and distinct docs") {
    val df = TextAnalysis.domainStats(docsDf(Seq(
      (1L, "read https://A.org/x and https://a.org/y plus http://b.io/z"),
      (2L, "also https://a.org:8080/path?q=1 here"),
      (3L, "no links at all"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(df("a.org") == ((3L, 2L)), "A.org/a.org merge; 3 urls across 2 docs")
    assert(df("b.io") == ((1L, 1L)))
    assert(df.size == 2, "url-less docs contribute no domains")
  }

  test("urlCanonicalize: case/port/fragment/tracking/sort/empty-path/NULL routes") {
    import spark.implicits._
    val urls = Seq(
      (1L, "HTTPS://ExAmple.COM:443/Path/Sub?utm_source=x&b=2&a=1#frag"),
      (2L, "http://ex.org:8080/?z=1&utm_campaign=c&fbclid=f"),
      (3L, "http://ex.org:80"),                  // default port + empty path
      (4L, "https://ex.org/p?gclid=1"),          // all params stripped: no '?'
      (5L, "https://ex.org/p?b=1&a=2&a=1"),      // duplicate keys kept, sorted
      (6L, "ftp://x.org/y"),                     // non-http: NULL
      (7L, null.asInstanceOf[String]),           // null in, null out
    ).toDF("doc_id", "url")
    val got = TextAnalysis.urlCanonicalize(urls).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(got(1L).contains("https://example.com/Path/Sub?a=1&b=2"),
      "host lower-cased, path case kept, :443 dropped, fragment+utm gone, params sorted")
    assert(got(2L).contains("http://ex.org:8080/?z=1"), "non-default port kept")
    assert(got(3L).contains("http://ex.org/"), ":80 dropped, empty path becomes /")
    assert(got(4L).contains("https://ex.org/p"), "empty query drops its ?")
    assert(got(5L).contains("https://ex.org/p?a=1&a=2&b=1"))
    assert(got(6L).isEmpty && got(7L).isEmpty)
    // url_key = md5(url_canon), NULL-propagating
    val keys = TextAnalysis.urlCanonicalize(urls).collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(keys(1L).contains(
      java.security.MessageDigest.getInstance("MD5")
        .digest("https://example.com/Path/Sub?a=1&b=2".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString))
    assert(keys(6L).isEmpty)
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = TextAnalysis.fingerprint(docsDf(Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "different"))))
    val r = df.orderBy("doc_id").collect()
    assert(r(0).getString(1) == r(1).getString(1))
    assert(r(0).getString(1) != r(2).getString(1))
    assert(r(0).getAs[Long]("fp_xx64") == r(1).getAs[Long]("fp_xx64"))
  }

  // ---------------------------------------------------------------- dedup

  private val dupDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely unrelated text about database engines and query plans"),
    (5L, "another unrelated document mentioning spark catalyst optimizer rules"))

  test("vocabulary counts total and document frequencies") {
    val v = TextAnalysis.vocabulary(docsDf(Seq(
      (1L, "a b a"), (2L, "a c"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v("a") == ((3L, 2L))) // 3 occurrences in 2 docs
    assert(v("b") == ((1L, 1L)))
    assert(v("c") == ((1L, 1L)))
  }

  test("topTerms ranks rare-but-frequent tokens first") {
    // 'x' appears 3× in doc 1 only (df=1) → score 3*2/1=6;
    // 'a' appears everywhere (df=2) → score ≤ 2*2/2=2;
    // 'y' 2× in doc 2 only → 2*2/1=4 beats ubiquitous 'a'
    val t = TextAnalysis.topTerms(docsDf(Seq(
      (1L, "x x x a"), (2L, "a a y y"))), k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getString(1)).toMap
    assert(t((1L, 1)) == "x")
    assert(t((2L, 1)) == "y")
  }

  test("frequency routing is answer-invariant with a planted Zipf head") {
    // "zz" is planted in EVERY document (the Zipf-head stopword whose
    // token-window partition would be corpus-sized); the remaining tokens
    // are rare. Any headMin must give identical answers — the knob only
    // moves tokens between the broadcast-head and shuffled-tail paths.
    val corpus = docsDf((1L to 40L).map(i => (i, s"zz tok$i tok${i % 7} zz")))
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val ttAll = canon(TextAnalysis.topTerms(corpus, k = 3, headMinDf = 1L))
    val ttMix = canon(TextAnalysis.topTerms(corpus, k = 3, headMinDf = 10L))
    val ttTail = canon(TextAnalysis.topTerms(corpus, k = 3, headMinDf = Long.MaxValue))
    assert(ttAll == ttMix && ttMix == ttTail)
    val usAll = canon(TextAnalysis.unigramSurprise(corpus, headMinTf = 1L))
    val usMix = canon(TextAnalysis.unigramSurprise(corpus, headMinTf = 10L))
    val usTail = canon(TextAnalysis.unigramSurprise(corpus, headMinTf = Long.MaxValue))
    assert(usAll == usMix && usMix == usTail)
    // at the mixed threshold the head really is routed via broadcast:
    // zz (df=40, tf=80) sits in the head split, every tail key is < 10
    val totals = TextAnalysis.joinTokenTotals(
      TextAnalysis.docTokenFreq(corpus), expr("count(nullif(tf_doc, 0))"),
      "df", headMin = 10L)
    val zz = totals.filter(col("token") === "zz").select("df").distinct().collect()
    assert(zz.map(_.getLong(0)).toSeq == Seq(40L))
  }

  test("exact dedup frequency routing is answer-invariant with a hot hash") {
    // 30 copies of one boilerplate text (the hot exact-dup group that
    // must not become a single window task) + singleton docs; any
    // headMinDupes gives identical answers, the knob only moves groups
    // between the broadcast-head and tail-join paths
    val corpus = docsDf(
      (1L to 30L).map(i => (i, "boilerplate page body")) ++
        (31L to 40L).map(i => (i, s"unique doc $i")))
    def canon(headMin: Long): Seq[String] =
      Dedup.exact(corpus, headMinDupes = headMin)
        .collect().map(_.toString).sorted.toSeq
    val all = canon(1L); val mix = canon(10L); val tail = canon(Long.MaxValue)
    assert(all == mix && mix == tail)
    val hot = Dedup.exact(corpus, headMinDupes = 10L)
      .filter(col("doc_id") === 17L).head()
    assert(hot.getAs[Long]("canonical_id") == 1L &&
      hot.getAs[Long]("dup_count") == 30L && !hot.getAs[Boolean]("is_canonical"))
  }

  test("repetitionStats flags repetitive documents") {
    val r = TextAnalysis.repetitionStats(docsDf(Seq(
      (1L, "spam spam spam spam"), (2L, "all tokens here differ"))))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r(1L) == ((4L, 1L, 0.75, 1.0)))
    assert(r(2L) == ((4L, 4L, 0.0, 0.25)))
  }

  test("unigramSurprise: rare tokens raise the score; exact rational values") {
    // corpus: a:2 b:2 c:1, N=5 ⇒ inverse probs a,b = 2.5; c = 5.0
    val df = TextAnalysis.unigramSurprise(docsDf(Seq(
      (1L, "a a b"),   // (2*2.5 + 1*2.5)/3 = 2.5
      (2L, "b c"))))   // (2.5 + 5.0)/2 = 3.75
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("surprise"))).toMap
    assert(df(1L) == ((3L, 2.5)))
    assert(df(2L) == ((2L, 3.75)), "the rare token must raise doc 2's score")
  }

  test("assignSplit is deterministic with roughly proportional splits") {
    import spark.implicits._
    val docs = (1L to 2000L).map(i => (i, "t")).toDF("doc_id", "text")
    val s1 = TextAnalysis.assignSplit(docs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val s2 = TextAnalysis.assignSplit(docs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val m1 = s1.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m2 = s2.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1 == m2, "split assignment must be deterministic")
    val counts = m1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1600) < 100, s"train ${counts("train")}")
    assert(math.abs(counts("val") - 200) < 60 && math.abs(counts("test") - 200) < 60)
    // stability under corpus growth: the first 1000 docs keep their split
    val small = TextAnalysis.assignSplit(
      (1L to 1000L).map(i => (i, "t")).toDF("doc_id", "text"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small.forall { case (k, v) => m1(k) == v }, "splits must not move as data grows")
  }

  test("mixReport shares sum to 100 and stratifiedSample rebalances") {
    import spark.implicits._
    val docs = spark.createDataset(
      (1L to 80L).map(i => (i, "t " * 5, if (i <= 60) "en" else "de", s"src${i % 2}")))
      .toDF("doc_id", "text", "lang", "source")
    val mix = TextAnalysis.mixReport(docs)
    assert(math.abs(mix.agg(sum("pct_docs")).head().getDouble(0) - 100.0) < 1e-6)
    assert(mix.filter(col("lang") === "en").agg(sum("n_docs")).head().getLong(0) == 60)
    // rebalance: downsample the dominant stratum; seeded → deterministic
    val s1 = TextAnalysis.stratifiedSample(docs, "lang", Map("en" -> 0.3, "de" -> 1.0))
    val s2 = TextAnalysis.stratifiedSample(docs, "lang", Map("en" -> 0.3, "de" -> 1.0))
    assert(s1.collect().map(_.getLong(0)).toSet == s2.collect().map(_.getLong(0)).toSet)
    assert(s1.filter(col("lang") === "de").count() == 20) // fraction 1.0 keeps all
    val en = s1.filter(col("lang") === "en").count()
    assert(en > 5 && en < 40, s"en stratum ~18 expected, got $en")
  }

  test("tokenLengthHistogram buckets and volumes add up") {
    val h = TextAnalysis.tokenLengthHistogram(docsDf(Seq(
      (1L, "a b c"), (2L, ("t " * 20).trim), (3L, ("u " * 21).trim))), bucketSize = 16)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(h(0) == ((1L, 3L, 0)))   // the 3-token doc
    assert(h(1) == ((2L, 41L, 16))) // the 20- and 21-token docs
  }

  test("packSequences: every doc packed once, bins respect capacity") {
    import spark.implicits._
    val docs = spark.createDataset(
      (1L to 100L).map(i => (i, ("w " * (i % 37 + 1).toInt).trim)))
      .toDF("doc_id", "text").repartition(3, col("doc_id"))
    val packed = Packing.packSequences(docs, capacity = 64)
    val rows = packed.collect()
    assert(rows.map(_.getLong(0)).toSet == (1L to 100L).toSet, "every doc exactly once")
    val byBin = rows.groupBy(_.getLong(2))
    byBin.foreach { case (bin, rs) =>
      val sum = rs.map(_.getInt(1)).sum
      assert(rs.forall(_.getInt(3) == sum), s"bin $bin fill mismatch")
      assert(sum <= 64 || rs.length == 1, s"bin $bin over capacity with multiple docs")
    }
    // seeded/deterministic given the same partitioning
    val again = Packing.packSequences(docs, capacity = 64).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(2))).toSet ==
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet)
    // efficiency summary is consistent
    val stats = Packing.packingStats(packed, capacity = 64).head()
    assert(stats.getAs[Long]("n_bins") == byBin.size)
  }

  test("packingInvariants: conservation + FFD booleans, incl. oversize contract") {
    import spark.implicits._
    // one oversized doc (100 tokens > capacity 64) must land alone in its
    // bin without tripping max_fill_ok
    val docs = spark.createDataset(
      (1L to 50L).map(i => (i, ("w " * (i % 37 + 1).toInt).trim)) :+
        (51L, ("w " * 100).trim))
      .toDF("doc_id", "text").repartition(3, col("doc_id"))
    val inv = Packing.packingInvariants(docs, capacity = 64).head()
    assert(inv.getAs[Long]("n_docs") == 51)
    val expectedTokens = (1L to 50L).map(i => i % 37 + 1).sum + 100
    assert(inv.getAs[Long]("n_tokens") == expectedTokens)
    assert(inv.getAs[Boolean]("fill_consistent"))
    assert(inv.getAs[Boolean]("max_fill_ok"))
    assert(inv.getAs[Boolean]("bins_lower_ok"))
    assert(inv.getAs[Boolean]("underfull_ok"))
  }

  test("stratifiedSampleHash: deterministic, partition-invariant, growth-stable") {
    import spark.implicits._
    val docs = spark.createDataset(
      (1L to 400L).map(i => (i, "txt", if (i % 4 == 0) "de" else "en")))
      .toDF("doc_id", "text", "lang")
    val fr = Map("en" -> 0.5, "de" -> 0.25)
    val s1 = TextAnalysis.stratifiedSampleHash(docs, "lang", fr)
      .select("doc_id").as[Long].collect().toSet
    // identical set under a different partitioning (content-derived fate)
    val s2 = TextAnalysis.stratifiedSampleHash(
      docs.repartition(7, col("text")), "lang", fr)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2, "sample must not depend on partitioning")
    // growth-stable: sampling a superset never changes an existing doc's fate
    val grown = spark.createDataset(
      (1L to 600L).map(i => (i, "txt", if (i % 4 == 0) "de" else "en")))
      .toDF("doc_id", "text", "lang")
    val s3 = TextAnalysis.stratifiedSampleHash(grown, "lang", fr)
      .select("doc_id").as[Long].collect().toSet
    assert(s3.filter(_ <= 400L) == s1, "existing docs' fate must not move as data grows")
    // realized fractions near targets (±15pp at n=300/100) and strata
    // missing from the map are dropped
    val en = s1.count(i => i % 4 != 0).toDouble / 300.0
    val de = s1.count(i => i % 4 == 0).toDouble / 100.0
    assert(math.abs(en - 0.5) < 0.15 && math.abs(de - 0.25) < 0.15)
    assert(TextAnalysis.stratifiedSampleHash(docs, "lang", Map("de" -> 1.0))
      .filter(col("lang") === "en").count() == 0)
  }

  test("bpeMergeCandidates: weighted pair counts, learned merges change the frontier") {
    import spark.implicits._
    val docs = spark.createDataset(Seq((1L, "aaab aaab ab")))
      .toDF("doc_id", "text")
    // step 0: wf = {aaab:2, ab:1}; pairs: 'a a' x2 per aaab (weighted 2
    // => 4), 'a b' from aaab (2) and ab (1) => 3
    val s0 = TextAnalysis.bpeMergeCandidates(docs, Nil, topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(s0 == Seq(("a a", 4L), ("a b", 3L)))
    // after learning 'a a' -> 'aa': aaab spells aa|a|b (alternate-merge
    // replace-chain artifact) => pairs 'aa a' (2), 'a b' (2+1)
    val s1 = TextAnalysis.bpeMergeCandidates(docs,
      Seq("a a" -> "aa"), topN = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(s1 == Seq(("a b", 3L), ("aa a", 2L)))
    // the argmax is the next rule — iterating IS the training loop
    assert(s0.head._1 == "a a" && s1.head._1 == "a b")
  }

  test("bpePieceCounts: corpus piece vocabulary weighted by word frequency") {
    import spark.implicits._
    // "the other and xyz" + "the": pieces per bpeTokenCounts' chain:
    // the -> [the]; other -> [o, the, r]; and -> [and]; xyz -> [x, y, z]
    // word freq: the x2 (doc 2 repeats it), others x1
    val docs = spark.createDataset(Seq(
        (1L, "the other and xyz"), (2L, "the")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpePieceCounts(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("the" -> 3L, "o" -> 1L, "r" -> 1L, "and" -> 1L,
      "x" -> 1L, "y" -> 1L, "z" -> 1L))
  }

  test("pmiCooccurrence: window bounds distance, closed-form micro ratios, min-count filter") {
    import spark.implicits._
    val docs = spark.createDataset((1L to 10L).map(i => (i, "a b c")))
      .toDF("doc_id", "text")
    // window 2: pairs (a b), (a c), (b c) x10; N=30, c1={a:20,b:10},
    // c2={b:10,c:20} => pmi(a b)=(10/20)*(30/10)=1.5, (a c)=0.75, (b c)=1.5
    val w2 = TextAnalysis.pmiCooccurrence(docs, window = 2, minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(w2 == Seq(("a b", 10L, "1500000"), ("a c", 10L, "750000"),
      ("b c", 10L, "1500000")))
    // window 1: only adjacent pairs; N=20 => both pmi = 2.0
    val w1 = TextAnalysis.pmiCooccurrence(docs, window = 1, minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(2))).sortBy(_._1).toSeq
    assert(w1 == Seq(("a b", "2000000"), ("b c", "2000000")))
    // min-count filter: everything is below 11
    assert(TextAnalysis.pmiCooccurrence(docs, window = 2,
      minPairCount = 11L).count() == 0)
    // single-token and empty docs contribute nothing (and don't error)
    val edge = spark.createDataset(Seq((1L, "solo"), (2L, ""), (3L, "x y")))
      .toDF("doc_id", "text")
    assert(TextAnalysis.pmiCooccurrence(edge, window = 3, minPairCount = 1L)
      .collect().map(_.getString(0)).toSeq == Seq("x y"))
  }

  test("weightedSampleHash: deterministic, partition-invariant, weight-proportional") {
    import spark.implicits._
    // weights 1 vs 10: the heavy stratum must be kept ~10x as often
    val docs = spark.createDataset(
      (1L to 2000L).map(i => (i, if (i % 2 == 0) 10L else 1L)))
      .toDF("doc_id", "w")
    val s1 = TextAnalysis.weightedSampleHash(docs, "w", 400L)
      .select("doc_id").as[Long].collect().toSet
    val s2 = TextAnalysis.weightedSampleHash(
      docs.repartition(7, col("w")), "w", 400L)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2, "sample must not depend on partitioning")
    // E[size] = 400; binomial sd ~ 19 — allow 5 sigma
    assert(math.abs(s1.size - 400) < 100, s"size ${s1.size} far from 400")
    val heavy = s1.count(_ % 2 == 0).toDouble
    val light = s1.count(_ % 2 != 0).toDouble.max(1.0)
    assert(heavy / light > 5.0,
      s"10x-weighted rows kept only ${heavy / light}x as often")
    // zero/null weights carry no mass
    val withZero = spark.createDataset(
      (1L to 100L).map(i => (i, if (i <= 50) 0L else 5L)))
      .toDF("doc_id", "w")
    assert(TextAnalysis.weightedSampleHash(withZero, "w", 30L)
      .filter(col("doc_id") <= 50).count() == 0)
  }

  test("ngramContamination flags docs sharing n-gram runs with probes") {
    val corpus = docsDf(Seq(
      (100L, "alpha beta gamma delta epsilon zeta unique tail here"),
      (101L, "totally different words with no shared runs at all")))
    val probes = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta")))  // 4 shared trigrams
    val hits = Dedup.ngramContamination(corpus, probes, minOverlap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.toSeq == Seq((100L, 1L, 4L)), s"got ${hits.toSeq}")
  }

  test("ngramContaminationPrefiltered equals the exact form, any hashBits") {
    val rnd = new Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "shared", "run", "of", "words")
    val corpus = docsDf((0L until 120L).map { i =>
      val base = Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      // every 10th doc embeds a probe n-gram run
      val t = if (i % 10 == 0) s"$base shared run of words here" else base
      (i + 100L, t)
    })
    val probes = docsDf(Seq((1L, "the shared run of words here marker")))
    val exact = Dedup.ngramContamination(corpus, probes, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "fixture must produce contamination hits")
    // hashBits=4 floods the prefilter with false positives; 62 is all-long
    // precision — the exact-confirm pass must erase the difference
    for (bits <- Seq(4, 22, 62)) {
      val got = Dedup.ngramContaminationPrefiltered(
        corpus, probes, minOverlap = 2, hashBits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == exact, s"hashBits=$bits")
    }
  }

  test("splitByComponent keeps every near-dup component in one split") {
    import spark.implicits._
    val docs = docsDf((1L to 40L).map(i => (i, s"text $i")))
    // components {1,2,3}, {10,11}; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val split = Dedup.splitByComponent(docs, pairs,
      Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(split.keySet == (1L to 40L).toSet, "every doc assigned exactly once")
    assert(Set(split(1L), split(2L), split(3L)).size == 1, "component {1,2,3} splits together")
    assert(split(10L) == split(11L), "component {10,11} splits together")
    // singletons: component id is the doc id, so assignment must equal
    // the plain content-hash split
    val plain = TextAnalysis.assignSplit(docs,
      Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    (12L to 40L).foreach(i => assert(split(i) == plain(i), s"singleton $i"))
  }

  test("canonicalByQuality keeps the best-quality member per component") {
    import spark.implicits._
    // quality = score column; component {1,2,3}: best is 2 (q=9);
    // {10,11}: tie at q=5 → min id 10; singleton 20 keeps itself
    val docs = Seq((1L, 4L), (2L, 9L), (3L, 7L), (10L, 5L), (11L, 5L), (20L, 1L))
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.canonicalByQuality(docs, pairs, "q", salts = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component_id"), r.getAs[Boolean]("keep"))).toMap
    assert(got == Map(
      1L -> (1L, false), 2L -> (1L, true), 3L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false), 20L -> (20L, true)))
  }

  test("randomProject computes the exact signed micro sums") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f)),
      (2L, Array(-1.0f, 0.0f, 1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.randomProject(df, inDim = 3, outDim = 2)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("dim")) -> r.getAs[Long]("p_micro"))
      .toMap
    // reference computed in plain Scala with the same signs
    for ((id, v) <- vecs; j <- 0 until 2) {
      val expected = (0 until 3).map { i =>
        Similarity.projSign(i, j) * math.round(v(i).toDouble * 1000000)
      }.sum
      assert(got((id, j)) == expected, s"vec $id dim $j")
    }
    // signs are deterministic and mixed (not all equal over a big block)
    val block = for (i <- 0 until 16; j <- 0 until 16) yield Similarity.projSign(i, j)
    assert(block.toSet == Set(-1, 1))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged, null-text safe") {
    import spark.implicits._
    val old = Seq((1L, Some("same")), (2L, Some("before")), (3L, Some("gone")),
      (5L, Option.empty[String])).toDF("doc_id", "text")
    val cur = Seq((1L, Some("same")), (2L, Some("after")), (4L, Some("fresh")),
      (5L, Option.empty[String])).toDF("doc_id", "text")
    val got = CorpusPipeline.snapshotDiff(old, cur)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"))
  }

  test("components resolves transitive duplicate chains to min-id labels") {
    import spark.implicits._
    // chain 1-2-3-4 plus pair 10-11; 20 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val got = Dedup.components(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("components: reliable-checkpoint knob yields identical labels") {
    import spark.implicits._
    // knob-on vs knob-off parity — the checkpointDir option only changes
    // WHERE truncated lineage blocks live (reliable files vs executor
    // memory), never the labels
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val reliable = Dedup.components(vertices, pairs, checkpointDir = Some(ckDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.components(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    assert(new java.io.File(ckDir).listFiles().nonEmpty,
      "reliable checkpoint files must actually be written under the dir")
    // cadence parity (pageRank's checkpointEvery knob): stretching the
    // reliable-write interval only deepens the between-checkpoint plan,
    // never the labels
    val every3 = Dedup.components(vertices, pairs,
        checkpointDir = Some(ckDir), checkpointEvery = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(every3 == local,
      s"labels must be cadence-independent: $every3 vs $local")
  }

  test("ensureCheckpointDir: set-once for the same dir, re-set for a sibling") {
    val sc = spark.sparkContext
    val base = java.nio.file.Files.createTempDirectory("graft_ckbase").toString
    // a space in the path: java.net.URI rejects it, hadoop Path must not
    val dirA = s"$base/ck a"
    val sibling = s"$base/ck a2" // shares the prefix — the contains() trap
    graft.core.Materialize.ensureCheckpointDir(sc, dirA)
    val first = sc.getCheckpointDir
    assert(first.nonEmpty)
    // same plain path again: getCheckpointDir is QUALIFIED (file:/...),
    // so a string/URI compare would re-set here and mint a new UUID dir
    graft.core.Materialize.ensureCheckpointDir(sc, dirA)
    assert(sc.getCheckpointDir == first,
      "second ensure with the same dir must be a no-op (set-once contract)")
    // a sibling sharing the prefix MUST re-set (the old substring trap)
    graft.core.Materialize.ensureCheckpointDir(sc, sibling)
    assert(sc.getCheckpointDir != first,
      "a different (sibling) dir must re-point the checkpoint dir")
  }

  test("semanticDedupProbed: full probe equals exact; partial probe is one-sided") {
    val vecs = clusteredVecs(40, 64, 8, noise = 0.01, seed = 7)
    val df = vecDf(vecs)
    val idx = Similarity.ivfFit(df, nLists = 8, seed = 42L)
    // probes = nLists: every pair shares a probed cell -> candidates =
    // all pairs -> the result IS the exact global dedup (the
    // q_similarity_topk_lsh_full losslessness trick applied to dedup)
    val full = Dedup.semanticDedupProbed(idx, probes = 8, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val exactPairs = Dedup.embeddingDupPairs(df, threshold = 0.95, nBits = 0, tables = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactDropped = exactPairs.map(_._2)
    assert(full.filter(!_._2).keySet == exactDropped,
      "full-probe dedup must drop exactly the ids with a smaller-id exact near-dup")
    // fewer probes: one-sided — never drops anything the exact run keeps
    for (p <- Seq(1, 2)) {
      val kept = Dedup.semanticDedupProbed(idx, probes = p, threshold = 0.95)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(kept.filter(!_._2).keySet.subsetOf(exactDropped),
        s"probes=$p dropped a vector the exact run keeps")
    }
  }

  test("semanticDedup keeps one representative per planted cluster") {
    val vecs = clusteredVecs(40, 64, 8, noise = 0.01, seed = 7)
    val kept = Dedup.semanticDedup(vecDf(vecs), nClusters = 8, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(kept.size == 40)
    assert(kept(0L) && kept(1L) && kept(7L), "global minima of clusters must survive")
    val nKept = kept.count(_._2)
    // 8 planted clusters: ideally 8 survivors; KMeans may split a planted
    // cluster across cells (missed cross-cell pair → extra survivor)
    assert(nKept >= 8 && nKept <= 16, s"expected ~8 survivors, got $nKept")
    // cross-validation: every dropped id has a smaller-id near-duplicate
    // in the exact all-pairs relation
    val exactPairs = Dedup.embeddingDupPairs(vecDf(vecs), threshold = 0.95, nBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    kept.filter(!_._2).keys.foreach { dropped =>
      assert(exactPairs.exists { case (a, b) => b == dropped && a < dropped },
        s"dropped $dropped has no smaller exact near-duplicate")
    }
  }

  test("autoNLists pins occupancy at/under target between floor and cap") {
    import graft.operators.Similarity.autoNLists
    for (n <- Seq(0L, 1L, 500L, 2000L, 4096L, 20000L, 1000000L, 100000000L)) {
      val k = autoNLists(n)
      assert(k >= 16 && k <= 65536, s"n=$n: k=$k outside [16, 65536]")
      // occupancy bound holds whenever the cap is not binding
      if (k < 65536)
        assert(n.toDouble / k <= 256.0, s"n=$n: occupancy ${n.toDouble / k} > 256")
      // never over-shard: k is the SMALLEST such k (above the floor)
      if (k > 16) assert(n.toDouble / (k - 1) > 256.0,
        s"n=$n: k=$k is not minimal")
    }
    // driver fixtures stay at the floor => the oracle-gated driver row's
    // clustering is unchanged by the adaptive default
    assert(autoNLists(500L) == 16 && autoNLists(2000L) == 16)
    assert(autoNLists(20000L) == 79)
    assert(autoNLists(100000000L) == 65536, "cap binds at 1e8 vectors")
  }

  test("semanticDedup clustered drop set is a SUBSET of the exact all-pairs drop set") {
    // coarse-quantizer recall loss must be one-sided: clustering can only
    // MISS dups (within-cell candidates ⊆ all pairs), never mint new ones
    val vecs = clusteredVecs(60, 64, 6, noise = 0.05, seed = 11)
    def droppedOf(out: org.apache.spark.sql.DataFrame): Set[Long] =
      out.collect().filter(!_.getBoolean(1)).map(_.getLong(0)).toSet
    def droppedAt(k: Int): Set[Long] =
      droppedOf(Dedup.semanticDedup(vecDf(vecs), nClusters = k, threshold = 0.9))
    // exact = all pairs in ONE cell
    val exact = droppedOf(Dedup.semanticDedupFromCells(
      vecDf(vecs).withColumn("__cell", org.apache.spark.sql.functions.lit(0)),
      threshold = 0.9))
    assert(exact.nonEmpty, "fixture must plant at least one semantic dup")
    for (k <- Seq(4, 8, 16))
      assert(droppedAt(k).subsetOf(exact),
        s"k=$k dropped ids outside the exact drop set")
    // the adaptive default (nClusters <= 0) routes through autoNLists
    val auto = Dedup.semanticDedup(vecDf(vecs), threshold = 0.9)
      .collect().filter(!_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(auto.subsetOf(exact))
  }

  test("lineDedup strips corpus-frequent lines, preserves order, keeps empty docs") {
    val corpus = docsDf(Seq(
      (1L, "unique alpha\nSHARED FOOTER\nunique beta"),
      (2L, "other body\nSHARED FOOTER"),
      (3L, "SHARED FOOTER"),             // all lines boilerplate -> ''
      (4L, "solo body only")))
    val out = Dedup.lineDedup(corpus, minDocFreq = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_lines_kept"),
          r.getAs[String]("text_deduped"))).toMap
    assert(out(1L) == ((3L, 2L, "unique alpha\nunique beta")),
      "order must be preserved around the stripped line")
    assert(out(2L) == ((2L, 1L, "other body")))
    assert(out(3L) == ((1L, 0L, "")), "fully-boilerplate doc stays, empty")
    assert(out(4L) == ((1L, 1L, "solo body only")))
    // frequency routing is answer-invariant (head vs mid-range vs all-tail)
    def canon(h: Long) = Dedup.lineDedup(corpus, minDocFreq = 2, headMinDf = h)
      .collect().map(_.toString).sorted.toSeq
    assert(canon(1L) == canon(2L) && canon(2L) == canon(Long.MaxValue))
  }

  test("exact dedup groups identical normalized docs") {
    val r = Dedup.exact(docsDf(dupDocs)).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("canonical_id") == 1L && r(0).getAs[Boolean]("is_canonical"))
    assert(r(1).getAs[Long]("canonical_id") == 1L && !r(1).getAs[Boolean]("is_canonical"))
    assert(r(1).getAs[Long]("dup_count") == 2L)
    assert(r(2).getAs[Long]("canonical_id") == 3L) // near-dup is NOT an exact dup
  }

  test("ngram jaccard finds near-dup pair, skips unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docsDf(dupDocs), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L))) // near dups
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
  }

  test("minhash LSH finds the same near-dup pairs as exact jaccard") {
    val exact = Dedup.ngramJaccardPairs(docsDf(dupDocs), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(docsDf(dupDocs), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == exact)
  }

  test("minhash hot-bucket cap (maxBandFreq) bounds candidate generation") {
    // 30 clones of one template: identical signatures put all 30 into ONE
    // (band, bucket) group per band — the m² candidate blowup scenario
    val template = (1L to 30L).map(i =>
      (i, "the same boilerplate template text repeated across many documents word for word"))
    val nearDup = Seq(
      (101L, "an unrelated pair of documents that resemble each other rather closely indeed"),
      (102L, "an unrelated pair of documents that resemble each other rather closely today"))
    val df = docsDf(template ++ nearDup)
    // default cap (1000): all template pairs + the near-dup pair
    val open = Dedup.minhashPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open.size == 30 * 29 / 2 + 1 && open.contains((101L, 102L)))
    // cap below the clone multiplicity: every hot bucket is dropped before
    // the join (bounded candidates), cool buckets are untouched
    val capped = Dedup.minhashPairs(df, threshold = 0.5, maxBandFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((101L, 102L)))
    // bipartite form: same knob, same behavior
    val cappedBi = Dedup.minhashPairsAgainst(
      docsDf(template.take(15) ++ nearDup.take(1)),
      docsDf(template.drop(15) ++ nearDup.drop(1)),
      threshold = 0.5, maxBandFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedBi == Set((102L, 101L)))
  }

  test("NULL text documents drop out of signature paths without NPE") {
    val df = docsDf(Seq(
      (1L, "a shared near duplicate text body with enough words to shingle properly"),
      (2L, "a shared near duplicate text body with enough words to shingle nicely"),
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String])))
    val exact = Dedup.ngramJaccardPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashPairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // null docs never pair (not even with each other); real pairs intact
    assert(exact == Set((1L, 2L)) && mh == Set((1L, 2L)) && sh == Set((1L, 2L)))
  }

  test("jaccardOf audits explicit pairs, NULL jaccard for shingle-less docs") {
    import spark.implicits._
    val df = docsDf(Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"),
      (3L, "")))  // empty text -> empty shingle set (short docs get a
                  // whole-text shingle; only no-token docs have none)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 99L)).toDF("doc_a", "doc_b")
    val got = Dedup.jaccardOf(df, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.get(2))).toMap
    // {ab g, b g d} vs {ab g, b g e}: inter 1 ("alpha beta gamma"), union 3
    assert(got((1L, 2L)) == Some(0.333333))
    assert(got((1L, 3L)) == Some(0.0)) // vs empty shingle set: 0/|A| = 0
    assert(got((1L, 99L)).isEmpty)     // unknown doc -> NULL, caller decides
  }

  test("incremental (batch-vs-corpus) minhash dedup matches exact bipartite jaccard") {
    val corpus = docsDf(dupDocs.filter(_._1 != 2L))
    val batch = docsDf(Seq(dupDocs.find(_._1 == 2L).get, (9L, "nothing in common here at all")))
    val got = Dedup.minhashPairsAgainst(corpus, batch, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch doc 2 is an exact dup of corpus doc 1 and a near dup of 3;
    // batch doc 9 matches nothing; corpus-internal near-dups (1,3) are NOT
    // emitted — only batch×corpus pairs are
    val keys = got.map(p => (p._1, p._2)).toSet
    assert(keys == Set((2L, 1L), (2L, 3L)))
    assert(got.find(p => (p._1, p._2) == (2L, 1L)).get._3 == 1.0)
    // cross-validation: identical to the exact pair relation restricted to
    // the bipartite split (same sibling contract as minhashPairs)
    val exactAll = Dedup.ngramJaccardPairs(docsDf(dupDocs), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactCross = exactAll.collect {
      case (a, b, j) if a == 2L => (a, b, j)
      case (a, b, j) if b == 2L => (b, a, j)
    }.toSet
    assert(got.toSet == exactCross)
  }

  test("cleanNearDup keeps only near-dup-component canonicals") {
    val kept = CorpusPipeline.cleanNearDup(docsDf(dupDocs), minQuality = 0.0,
      minTokens = 1).collect().map(_.getLong(0)).toSet
    // 1,2,3 form one near-dup component (2 exact dup, 3 near dup) → only
    // canonical 1 survives; 4 survives; 5 has no recognized language
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L))
    assert(kept.contains(4L))
  }

  test("curate: gates, exact dedup, components, and selection compose") {
    import spark.implicits._
    // three punctuated >=5-word lines with stopwords: passes BOTH gates
    def page(body: String): String = Seq(
      s"the cat sat of the mat and $body was fine here.",
      s"all of them came to see $body that day again.",
      s"that was it and they have gone from $body now.").mkString("\n")
    val rows = Seq(
      (1L, page("alpha"), "en"),
      (2L, page("alpha"), "en"),          // exact dup of 1 → dropped
      (3L, page("alpha") + "\nthe same page with one more trailing line here.", "en"), // near-dup of 1 → dropped
      // a DIFFERENT template (sharing the page() frame keeps Jaccard
      // >= 0.5 and folds it into doc 1's near-dup component)
      (4L, Seq(
        "a dog ran with the ball and it was of great joy here.",
        "nobody came to that show because they have left of late.",
        "the rain fell and all of it has gone to ground now.").mkString("\n"), "en"),
      (5L, page("gamma") + " {", "en"),   // curly brace → c4 gate drops
      (6L, "too few words.", "en"))       // gopher word floor drops
    val docs = spark.createDataset(rows).toDF("doc_id", "text", "lang")
    val sel = CorpusPipeline.curate(docs, col("lang") === "en", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(sel == Set(1L, 4L),
      s"expected gate/dedup survivors {1, 4}, got $sel")
    // a smaller k truncates the Gumbel top-k but stays inside survivors
    val one = CorpusPipeline.curate(docs, col("lang") === "en", k = 1)
      .collect().map(_.getLong(0)).toSet
    assert(one.size == 1 && one.subsetOf(Set(1L, 4L)))
  }

  test("simhash pairs near-dups at low hamming distance") {
    val pairs = Dedup.simhashPairs(docsDf(dupDocs), maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 0) // identical text
    assert(keys.contains((1L, 3L)))
  }

  test("simhash identical-signature class emits the canonical star, linearly") {
    // 60 copies of one text + 2 distinct docs: the class is 59
    // (canonical = 10, member, 0) rows — never C(60,2) clique pairs —
    // and non-canonical members stay out of every cross-signature pair
    val copies = (10L until 70L).map(i => (i, "the same boilerplate footer text " +
      "repeated across every mirrored page of the crawl"))
    val df = docsDf(copies ++ Seq(
      (500L, "a completely different document about gardens and weather"),
      (501L, "yet another unrelated page discussing ships and harbors")))
    val pairs = Dedup.simhashPairs(df, maxHamming = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val classRows = pairs.filter(p => p._1 == 10L && p._3 == 0)
    assert(classRows.map(_._2).toSet == (11L until 70L).toSet)
    val members = (11L until 70L).toSet
    assert(!pairs.exists(p => p._3 > 0 && (members(p._1) || members(p._2))))
    assert(pairs.length <= 59 + 3, s"got ${pairs.length} pairs")
  }

  // ----------------------------------------------- embeddings / similarity

  /** Clustered synthetic vectors: `nClusters` random centers; members are
    * center + small noise → high intra-cluster cosine.
    */
  private def clusteredVecs(
      n: Int, dim: Int, nClusters: Int, noise: Double, seed: Long): Seq[(Long, Seq[Float])] = {
    val r = new Random(seed)
    val centers = Seq.fill(nClusters)(Seq.fill(dim)(r.nextGaussian()))
    (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(v => (v + noise * r.nextGaussian()).toFloat))
    }
  }

  private def vecDf(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF("vec_id", "embedding")
  }

  test("embeddingDupPairs finds planted near-duplicates") {
    // 40 vectors in 8 tight clusters of 5 → 8*C(5,2)=80 true near-dup pairs
    val vecs = clusteredVecs(40, 64, 8, noise = 0.01, seed = 7)
    val pairs = Dedup.embeddingDupPairs(vecDf(vecs), threshold = 0.95, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sameCluster = pairs.count { case (a, b) => a % 8 == b % 8 }
    assert(pairs.nonEmpty)
    assert(sameCluster == pairs.length, "all found pairs must be intra-cluster")
    assert(pairs.length >= 60, s"recall too low: ${pairs.length}/80 planted pairs")
  }

  test("brute-force cosine topk ranks cluster members first") {
    val vecs = clusteredVecs(40, 64, 8, noise = 0.01, seed = 7)
    val df = vecDf(vecs)
    val top = Similarity.cosineTopK(df, df.filter(col("vec_id") < 8), k = 4)
    val rows = top.collect()
    assert(rows.length == 8 * 4)
    // every top-4 match of query q belongs to q's cluster
    assert(rows.forall(r => r.getAs[Long]("match_id") % 8 == r.getAs[Long]("query_id") % 8))
  }

  test("IVF topk recovers brute-force neighbors on clustered data") {
    val vecs = clusteredVecs(80, 64, 8, noise = 0.01, seed = 7)
    val df = vecDf(vecs)
    val queries = df.filter(col("vec_id") < 8)
    val bf = Similarity.cosineTopK(df, queries, k = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"))).toSet
    // fit the coarse quantizer on a sample — the 100 TB posture (centroids
    // converge long before the full corpus is seen); assignment covers all
    val ivf = Similarity.cosineTopKIvf(df, queries, k = 4, nLists = 8, nProbe = 2,
        fitSampleFraction = 0.6)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"IVF recall $recall too low on tight clusters")
  }

  test("bm25Rank matches the hand-computed Okapi scores and ranking") {
    // corpus crafted so tf, df, AND length normalization all
    // discriminate: doc 1 repeats 'alpha' in a short doc, doc 2 has one
    // 'alpha' in a longer doc, doc 3 holds the rare term, doc 4 matches
    // nothing and must be absent
    val corpus = docsDf(Seq(
      (1L, "alpha beta alpha"),
      (2L, "alpha beta beta gamma"),
      (3L, "delta delta"),
      (4L, "beta")))
    val (k1, b) = (1.2, 0.75)
    val n = 4L; val avgdl = (3 + 4 + 2 + 1).toDouble / 4L.toDouble
    def contrib(tf: Long, df: Long, dl: Long): BigInt =
      if (tf == 0) BigInt(0)
      else BigInt(math.round(
        1e6 * ((n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)) *
          (tf.toDouble * (k1 + 1.0)) /
          (tf.toDouble + k1 * (1.0 - b + b * dl.toDouble / avgdl))))
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // terms = (alpha: df 2, delta: df 1); per-doc (tf_alpha, tf_delta, dl)
    val expected = Map(
      1L -> (contrib(2, 2, 3) + contrib(0, 1, 3)),
      2L -> (contrib(1, 2, 4) + contrib(0, 1, 4)),
      3L -> (contrib(0, 2, 2) + contrib(2, 1, 2)))
      .map { case (id, micro) => id -> round6(micro.toDouble / 1e6) }
    val got = TextAnalysis.bm25Rank(corpus, Seq("alpha", "delta"), k = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score"))
    assert(got.toMap == expected)
    // returned in rank order: score desc, doc_id asc tiebreak
    assert(got.map(_._1).toSeq ==
      expected.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1))
    // k truncates
    assert(TextAnalysis.bm25Rank(corpus, Seq("alpha", "delta"), k = 2).count() == 2)
  }

  test("bigramSurprise scores inverse conditional probability, routing-invariant") {
    // bigram counts: 'the cat'×2, 'the dog'×1, 'x the'×1; prefix counts:
    // 'the'→3, 'x'→1. ip_micro: the cat → 1.5e6, the dog → 3e6,
    // x the → 1e6. Single-token doc 5 emits no bigrams.
    val corpus = docsDf(Seq(
      (1L, "the cat"), (2L, "the dog"), (3L, "the cat"),
      (4L, "x the"), (5L, "lonely")))
    val expected = Map(
      1L -> (1L, 1.5), 2L -> (1L, 3.0), 3L -> (1L, 1.5), 4L -> (1L, 1.0))
    def run(headMin: Long): Map[Long, (Long, Double)] =
      TextAnalysis.bigramSurprise(corpus, headMin = headMin)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_bigrams"), r.getAs[Double]("surprise2"))).toMap
    assert(run(10L) == expected)
    // the routing knob moves bigrams between broadcast-head and tail
    // paths, never changes answers (2 splits this corpus's range)
    assert(run(1L) == expected && run(2L) == expected &&
      run(Long.MaxValue) == expected)
    // whitespace-edge parity with tokensExpr: leading/trailing/multiple
    // spaces produce the same bigrams as the filtered token list
    val messy = docsDf(Seq((9L, "  the   cat "), (10L, "the cat")))
    val m = TextAnalysis.bigramSurprise(messy, headMin = 10L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bigrams")).toMap
    assert(m == Map(9L -> 1L, 10L -> 1L))
  }

  test("winnowPairs finds planted substring-level near-dups, cap drops boilerplate") {
    // docs 1/2 share a long verbatim span (re-wrapped mid-token relative
    // to whitespace so token-shingle approaches see different shingles);
    // doc 3 is unrelated; docs 4..20 all carry the SAME ubiquitous
    // footer, whose fingerprints the maxFpFreq cap must drop
    val span = "shared verbatim boilerplate span carried across documents unchanged"
    val footer = "every document of this crawl carries this exact footer text"
    val corpus = docsDf(Seq(
      (1L, s"alpha begins here $span and then ends"),
      (2L, s"totally other intro$span trailing bits")) ++
      (3L to 3L).map(i => (i, "nothing in common with anyone at all zzz qq")) ++
      (4L to 20L).map(i => (i, s"doc $i body $footer")))
    val pairs = Dedup.winnowPairs(corpus, k = 20, w = 16, minShared = 1,
        maxFpFreq = 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), "planted substring pair must surface")
    assert(!pairs.exists { case (a, b) => a >= 4L || b >= 4L },
      "capped boilerplate fingerprints must not generate pairs")
    // without the cap the footer family explodes into all-pairs — the
    // cap is the difference between 1 pair and 17-choose-2
    val uncapped = Dedup.winnowPairs(corpus, k = 20, w = 16, minShared = 1,
        maxFpFreq = 1000).count()
    assert(uncapped > 100L)
  }

  test("repeatedSubstringSpans: cross-doc, within-doc, and merged spans; short docs skip") {
    // minLen = 10. Doc 1 and 2 share the 26-char block at different
    // offsets; doc 3 repeats a 12-char block INTERNALLY twice; doc 4 is
    // unique; doc 5 is shorter than minLen entirely.
    val block = "ABCDEFGHIJKLMNOPQRSTUVWXYZ" // 26 chars
    val innr = "0123456789xy"                // 12 chars
    val spans = Dedup.repeatedSubstringSpans(docsDf(Seq(
        (1L, s"$block--unique-tail-one-111"),          // block at 1..26
        (2L, s"prefix2:$block==unique-tail-two"),      // block at 9..34
        (3L, s"aa${innr}zzqq${innr}ww"),               // innr at 3..14 and 19..30
        (4L, "entirely singular content with no repeats anywhere"),
        (5L, "tiny"))), minLen = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len"))).toSet
    // shared block: all 17 of its 10-gram windows repeat → full 26-char
    // coverage at each occurrence's offset
    assert(spans.contains((1L, 1L, 26L, 26L)), s"doc 1 block span: $spans")
    assert(spans.contains((2L, 9L, 34L, 26L)), s"doc 2 block span: $spans")
    // within-doc repeat: two separate 12-char spans (gap 'zzqq' breaks)
    assert(spans.contains((3L, 3L, 14L, 12L)) && spans.contains((3L, 19L, 30L, 12L)),
      s"doc 3 internal repeats: $spans")
    assert(!spans.exists(s => s._1 == 4L || s._1 == 5L),
      s"unique and sub-minLen docs must emit nothing: $spans")
  }

  test("repeatedSubstringSpans merges overlapping coverage into one maximal span") {
    // 'FOO...BAR' 30-char block shared; within one doc two overlapping
    // occurrences of a repeated region produce a single merged island
    val b = "FOO-123456789-123456789-12-BAR" // 30 chars
    val spans = Dedup.repeatedSubstringSpans(docsDf(Seq(
        (1L, s"$b$b tail here"),  // b twice back-to-back: coverage 1..60 contiguous
        (2L, s"lead $b done"))), minLen = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"))).toSet
    assert(spans.exists(s => s._1 == 1L && s._2 == 1L && s._3 >= 60L),
      s"back-to-back occurrences must merge into one span: $spans")
    assert(spans.count(_._1 == 1L) == 1, s"exactly one merged island for doc 1: $spans")
  }

  test("chunkDocuments tiles tokens into overlapping windows exactly once") {
    // 10 tokens, maxTokens=4, overlap=1 (stride 3): [t1-t4][t4-t7][t7-t10]
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val rows = Packing.chunkDocuments(
      docsDf(Seq((1L, ten), (2L, "a b"), (3L, "   "))), maxTokens = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
        r.getAs[String]("chunk_text"), r.getAs[Int]("n_tokens")))
    assert(rows.filter(_._1 == 1L).sortBy(_._2).toSeq == Seq(
      (1L, 0, "t1 t2 t3 t4", 4), (1L, 1, "t4 t5 t6 t7", 4), (1L, 2, "t7 t8 t9 t10", 4)))
    // short doc = one chunk; whitespace-only doc = no rows
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b", 2)))
    assert(!rows.exists(_._1 == 3L))
    // coverage invariant on a non-aligned length: every token appears in
    // some chunk, consecutive chunks share exactly `overlap` tokens, and
    // the final window still contributes new tokens
    val eleven = (1 to 11).map(i => s"u$i").mkString(" ")
    val ch = Packing.chunkDocuments(docsDf(Seq((9L, eleven))), maxTokens = 4, overlap = 2)
      .collect().sortBy(_.getAs[Int]("chunk_id"))
      .map(_.getAs[String]("chunk_text").split(" ").toSeq)
    assert(ch.flatten.distinct.size == 11)
    assert(ch.sliding(2).forall {
      case Array(a, b) => a.takeRight(2) == b.take(2); case _ => true
    })
    assert(ch.last.exists(t => !ch.init.flatten.contains(t)))
  }

  test("bpeTokenCounts applies merges in rank order, counts real tokens") {
    // "the" spells t-h-e; merge 't h'→'th' then 'th e'→'the' → 1 token.
    // "other": o t h e r → (t h) o th e r → (th e) o the r → (e r)… er
    // already consumed by 'the'; remaining merges leave o|the|r = 3.
    // "and": a n → an; an d → and → 1. "xyz" has no merges → 3 symbols.
    // "42" and "Mixed" (uppercase survives lower()? no — lowered) are
    // alpha after lower(); "a-b" is not.
    val rows = TextAnalysis.bpeTokenCounts(docsDf(Seq(
        (1L, "the other and xyz"),
        (2L, "a-b 42 !!"),
        (3L, ""))))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_alpha_words"), r.getAs[Long]("n_bpe_tokens"))).toSet
    assert(rows == Set((1L, 4L, 1L + 3L + 1L + 3L), (2L, 0L, 0L), (3L, 0L, 0L)))
  }

  test("ngramRepetition computes duplicate-n-gram fractions per document") {
    // doc 1 trigrams: 'a b a'×2, 'b a b'×1 → dup 1-2/3, top 2/3;
    // doc 2 has one trigram; doc 3 is too short to emit any row
    val df = TextAnalysis.ngramRepetition(docsDf(Seq(
      (1L, "a b a b a"), (2L, "x y z"), (3L, "p q"))), n = 3)
    val m = df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_distinct"),
        r.getAs[Double]("dup_ngram_ratio"), r.getAs[Double]("top_ngram_share"))).toMap
    assert(m == Map(
      1L -> (3L, 2L, 0.333333, 0.666667),
      2L -> (1L, 1L, 0.0, 1.0)))
    // n=2 agrees with the bigram machinery: 'a b'×2 'b a'×2 of 4
    val b = TextAnalysis.ngramRepetition(docsDf(Seq((1L, "a b a b a"))), n = 2)
      .collect().head
    assert(b.getAs[Long]("n_ngrams") == 4L && b.getAs[Long]("n_distinct") == 2L)
  }

  test("mixResample hits target mixture: bottleneck keeps all, rest downsample") {
    import spark.implicits._
    val corpus = spark.createDataset(
      (1L to 200L).map(i => (i, "a")) ++ (201L to 300L).map(i => (i, "b")) ++
        (301L to 400L).map(i => (i, "c")) ++ (401L to 450L).map(i => (i, "d")))
      .toDF("doc_id", "lang")
    // K = min(200/0.25, 100/0.5, 100/0.25) = 200 → stratum b is the
    // bottleneck and keeps ALL rows; a keeps ~200·0.25=50, c ~50;
    // untargeted d is dropped entirely
    val kept = TextAnalysis.mixResample(corpus, "lang",
      Seq("a" -> 0.25, "b" -> 0.5, "c" -> 0.25))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("b") == 100L, "bottleneck stratum must keep every row")
    assert(!kept.contains("d"), "untargeted strata are dropped")
    assert(kept("a") >= 30L && kept("a") <= 70L, s"a kept ${kept("a")}, want ~50")
    assert(kept("c") >= 30L && kept("c") <= 70L, s"c kept ${kept("c")}, want ~50")
    // deterministic: the kept SET is content-derived, not RNG-derived
    val ids1 = TextAnalysis.mixResample(corpus, "lang",
      Seq("a" -> 0.25, "b" -> 0.5, "c" -> 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = TextAnalysis.mixResample(corpus.repartition(7), "lang",
      Seq("a" -> 0.25, "b" -> 0.5, "c" -> 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "selection must survive repartitioning")
    // degenerate: targets proportional to counts → everything kept
    val all = TextAnalysis.mixResample(corpus, "lang",
      Seq("a" -> 2.0, "b" -> 1.0, "c" -> 1.0)).count()
    assert(all == 400L)
  }

  test("multi-table LSH topk recovers most brute-force neighbors on clustered data") {
    val vecs = clusteredVecs(40, 64, 8, noise = 0.01, seed = 7)
    val df = vecDf(vecs)
    val queries = df.filter(col("vec_id") < 8)
    val bf = Similarity.cosineTopK(df, queries, k = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"))).toSet
    val lsh = Similarity.cosineTopKLsh(df, queries, k = 4, nBits = 8, tables = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("match_id"))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.9, s"LSH recall $recall too low on near-duplicate clusters")
  }

  test("unicodeClean: CRLF, zero-width, controls, and NFC, each accounted") {
    val dirty = "áb\r\nc\rd ​x‌y‍z﻿ wvu\ttab"
    val r = TextAnalysis.unicodeClean(docsDf(Seq((1L, dirty), (2L, "plain ascii"))))
      .orderBy("doc_id").collect()
    val row = r(0)
    // steps: CRLF->LF (1 dropped), CR->LF; 4 zero-width; bell+VT stripped
    // (tab survives); a + combining acute composes to á under NFC
    assert(row.getAs[String]("text_norm") == "áb\nc\nd xyz wvu\ttab")
    assert(row.getAs[Int]("n_crlf_fixed") == 1)
    assert(row.getAs[Int]("n_zero_width") == 4)
    assert(row.getAs[Int]("n_control") == 2)
    assert(row.getAs[Boolean]("was_denormalized"))
    assert(row.getAs[Boolean]("changed"))
    val clean = r(1)
    assert(clean.getAs[String]("text_norm") == "plain ascii")
    assert(clean.getAs[Int]("n_crlf_fixed") == 0)
    assert(clean.getAs[Int]("n_zero_width") == 0)
    assert(clean.getAs[Int]("n_control") == 0)
    assert(!clean.getAs[Boolean]("was_denormalized"))
    assert(!clean.getAs[Boolean]("changed"))
  }

  test("fuzzyVocabMap: maps typos to the frequent form, verifies distance, breaks ties") {
    // 'tble' (deletion), 'tablle' (insertion), 'tabke' (substitution) are
    // rare and within distance 1 of 'table' (freq 12); 'tbl' is distance 2
    // (never mapped); 'cable' is rare but its only <=1 neighbor is 'table'
    // via substitution; 'windo' could map to 'window' (freq 6) — below
    // canonMin 10, so it must NOT map
    val corpus = docsDf(Seq(
      (1L, ("table " * 12).trim),
      (2L, "tble tablle tabke tbl cable"),
      (3L, ("window " * 6).trim + " windo"))).repartition(3)
    val got = TextAnalysis.fuzzyVocabMap(corpus, rareMax = 2, canonMin = 10,
        minLen = 4)
      .collect().map(r => r.getAs[String]("word") ->
        ((r.getAs[String]("canon"), r.getAs[Long]("canon_freq")))).toMap
    assert(got == Map(
      "tble" -> (("table", 12L)),
      "tablle" -> (("table", 12L)),
      "tabke" -> (("table", 12L)),
      "cable" -> (("table", 12L))))
  }

  test("fuzzyVocabMap tie-break: max canonical frequency, then min word") {
    // 'cble' is distance 1 from both 'cable' and 'coble' (same freq) —
    // the lexicographically smaller canonical wins deterministically
    val corpus = docsDf(Seq(
      (1L, ("cable " * 10).trim),
      (2L, ("coble " * 10).trim),
      (3L, ("doble " * 11).trim),
      (4L, "cble oble")))
    val got = TextAnalysis.fuzzyVocabMap(corpus, rareMax = 2, canonMin = 10,
        minLen = 4)
      .collect().map(r => r.getAs[String]("word") ->
        ((r.getAs[String]("canon"), r.getAs[Long]("canon_freq")))).toMap
    // cble: cable/coble tie at 10 -> 'cable'; oble: coble(10) vs
    // doble(11) -> higher frequency wins
    assert(got("cble") == (("cable", 10L)))
    assert(got("oble") == (("doble", 11L)))
  }

  test("q_fuzzy_vocab base words are canonical-frequency at the smallest fixture") {
    // the planted-typo fixture maps onto these bases; if a driver fixture
    // regen ever drops one below canonMin the gate would silently thin —
    // fail here instead
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = TextAnalysis.vocabulary(docs)
      .filter(col("token").isin(graft.SparkEntry.fuzzyBases: _*))
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("tf")).toMap
    graft.SparkEntry.fuzzyBases.foreach { w =>
      assert(vocab.getOrElse(w, 0L) >= 10L,
        s"base '$w' has freq ${vocab.getOrElse(w, 0L)} < canonMin at sf0.001")
    }
  }
}
