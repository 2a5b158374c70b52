package graft.operators

import graft.core.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is a shuffle-on-key plan — no cartesian
  * products anywhere. Candidate generation is always a bucket join
  * (hash group, LSH band, or shingle inverted index with frequency
  * capping); exact verification runs only on candidate pairs.
  */
object Dedup {

  /** Attaches `canonical_id` (minimum doc_id of the exact-dup group) and
    * `dup_count` to every row of a frame carrying a `__h` content-hash
    * column — WITHOUT a hash-partitioned window. A window on `__h` buffers
    * each duplicate group in a single task, and the hot groups are exactly
    * dedup's reason to exist: a boilerplate page with millions of copies
    * at 100 TB becomes one unsplittable corpus-scale window partition.
    * Instead the group stats aggregate two-phase (map-side combine makes
    * the totals exchange skew-immune) and rejoin frequency-routed:
    *
    *   - head (dup_count >= headMinDupes): at most N/headMinDupes groups —
    *     broadcast, so the duplicate-heavy rows never shuffle at all;
    *   - tail: a plain join whose probe keys each carry < headMinDupes
    *     rows. Rows of head groups also pass through this exchange
    *     (unmatched) — and because it is a JOIN, not a window, AQE's
    *     skew-join splitting can break any residual oversized partition
    *     across tasks, which is structurally impossible for a window.
    *
    * Routing never changes answers ([[exact]] results are
    * headMinDupes-invariant, spec'd). NULL-text rows group together under
    * a non-md5 sentinel key (window semantics preserved; md5 output is
    * 32 hex chars, so the sentinel cannot collide).
    */
  private[operators] def withDupStats(
      withH: DataFrame, headMinDupes: Long): DataFrame = {
    require(headMinDupes > 0, "headMinDupes must be positive")
    val totals = withH.groupBy("__h").agg(
      min("doc_id").as("__can"), count(lit(1)).as("__cnt"))
    val head = totals.filter(col("__cnt") >= headMinDupes)
      .select(col("__h"), col("__can").as("__can_h"), col("__cnt").as("__cnt_h"))
    val tail = totals.filter(col("__cnt") < headMinDupes)
    withH
      .join(broadcast(head), Seq("__h"), "left")
      .join(tail.hint("shuffle_hash"), Seq("__h"), "left")
      .withColumn("canonical_id", coalesce(col("__can"), col("__can_h")))
      .withColumn("dup_count", coalesce(col("__cnt"), col("__cnt_h")))
      .drop("__can", "__cnt", "__can_h", "__cnt_h")
  }

  /** Content-hash column for exact dedup: normalized md5, with NULL text
    * mapped to a sentinel group of its own (join keys would otherwise
    * drop NULLs where the old window form grouped them).
    */
  private[operators] def dupHash(textCol: String) =
    coalesce(TextAnalysis.normalizedMd5(textCol), lit("__NULL_TEXT__"))

  /** Exact dedup: hash-group on normalized text. Emits every doc with its
    * canonical (minimum) doc_id and the duplicate-group size; `is_canonical
    * = doc_id = canonical_id`. Two skew-immune exchanges (group-stats
    * aggregation + frequency-routed rejoin — see [[withDupStats]] for why
    * this beats the one-window form at 100 TB); `headMinDupes` is the
    * routing knob and never changes answers.
    */
  def exact(docs: DataFrame, textCol: String = "text",
      headMinDupes: Long = 100000L): DataFrame =
    withDupStats(
      docs.withColumn("__h", dupHash(textCol)), headMinDupes)
      .select(col("doc_id"), col("canonical_id"), col("dup_count"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))

  /** Word n-gram shingle array (distinct, lower-cased) over an ALREADY
    * STAGED token-array column. The token array must be projected in its
    * own select first: a lambda body re-evaluates its free sub-expressions
    * per element, so inlining the tokenizer here would re-tokenize the
    * document once per emitted shingle — measured 6× on this operator
    * (same trap and fix as [[ngramContamination]]).
    */
  def shingleOverTokensExpr(tokCol: String, n: Int): String =
    s"""array_distinct(transform(
       |  sequence(0, greatest(size($tokCol) - $n, 0)),
       |  i -> array_join(slice($tokCol, i + 1, $n), ' ')))""".stripMargin

  /** EXACT n-gram Jaccard duplicate pairs via a shingle inverted index —
    * the ORACLE/TEST-PATH sibling of [[minhashPairs]], which is the default
    * near-duplicate entry point at scale. The inverted index is exact but
    * its candidate-join fan-out grows with duplicate density (superlinear
    * on adversarial corpora); MinHash bounds fan-out at #bands per
    * document. Use this form to validate MinHash parameter choices on a
    * sample, not to sweep a 100 TB corpus. (Since r10 every plan stage is
    * scale-safe — the historical count-window cap is gone — so the
    * superlinear candidate volume is the ONLY remaining scale caveat.)
    *
    * Explodes distinct shingles and, per shingle, emits every doc pair
    * sharing it (skipping shingles shared by more than `maxShingleFreq`
    * docs — stopword-gram blowup guard); Jaccard ≥ threshold is then
    * verified from the intersection size. Emits (doc_a, doc_b, jaccard),
    * doc_a < doc_b.
    * The metric is precisely "Jaccard with the intersection counted over
    * NON-capped shingles" (denominators use full set sizes): shingles
    * hotter than the cap neither generate candidates nor count toward the
    * intersection — the standard boilerplate-gram suppression; see
    * [[verifyJaccard]] for when this coincides with full-set Jaccard.
    *
    * The hot-shingle cap is the df-routed head/tail form ([[lineDedup]] /
    * [[withDupStats]] discipline), NOT a count window: a shingle-
    * partitioned window buffers a boilerplate shingle's corpus-scale row
    * group in ONE sorted task, whereas the frequency aggregation here is
    * two-phase (map-side combine eats the hot key), the head set
    * (freq ≥ `headMinFreq`, at most rows/headMinFreq entries) broadcasts,
    * and the mid-range set anti-marks through a JOIN that AQE can split.
    * Routing never changes answers (spec'd): singleton shingles survive to
    * the grouping stage but 1-element groups emit no pairs, so the pair
    * relation is identical to the historical windowed form.
    *
    * Plan shape — no window, no cache, no self-join:
    *  1. one two-phase frequency aggregation on shingle (its output is
    *    shingle-distinct and collapses before the exchange);
    *  2. index rows anti-mark against the head (broadcast) and tail
    *    (join) hot sets, then the per-shingle doc-list aggregation groups
    *    rows the cap already bounded to ≤ `maxShingleFreq` (never
    *    collect-then-filter on an uncapped group at scale);
    *  3. pair expansion runs compiled (mapPartitions — a SQL HOF here
    *    would be interpreted AND quadratic per shingle), then one exchange
    *    aggregates pair intersections.
    * Earlier rounds self-joined a persisted index: two more exchanges plus
    * sorts, and a cache that either leaked (r2) or forced an eager
    * materialization. Single-consumption pipelines shouldn't cache at all.
    */
  def ngramJaccardPairs(
      docs: DataFrame, textCol: String = "text", n: Int = 3,
      threshold: Double = 0.5, maxShingleFreq: Int = 100,
      headMinFreq: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    require(headMinFreq > maxShingleFreq,
      "headMinFreq must exceed the cap (head/tail routing partitions the hot set)")
    // two consumers (hot-shingle aggregate + index probe) under
    // different exchanges — materialize the exploded shingle relation
    // once ([[minhashPairs]] discipline)
    val sh = Materialize.pin(shingleRows(docs, textCol, n))
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("__f"))
      .filter(col("__f") > maxShingleFreq)
    val headHot = hot.filter(col("__f") >= headMinFreq)
      .select(col("shingle"), lit(1).as("__hot_h"))
    val tailHot = hot.filter(col("__f") < headMinFreq)
      .select(col("shingle"), lit(1).as("__hot_t"))
    val idx = sh
      .join(broadcast(headHot), Seq("shingle"), "left")
      .join(tailHot, Seq("shingle"), "left")
      .filter(col("__hot_h").isNull && col("__hot_t").isNull)
      .select("doc_id", "n_sh", "shingle")
    val idType = idx.schema("doc_id").dataType
    val grouped = idx.groupBy("shingle")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds"))
    val pairT = StructType(Seq(
      StructField("doc_a", idType), StructField("sh_a", IntegerType),
      StructField("doc_b", idType), StructField("sh_b", IntegerType)))
    // same ordering as the SQL `<` on the id column (numeric for numeric
    // ids — a toString sort would put doc 10 before doc 2; the Number
    // fallback compares as BigDecimal, not double, so ids beyond 2^53 —
    // e.g. DECIMAL keys — don't collide after a lossy double conversion)
    def idLt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: Long, b: Long)     => a < b
      case (a: Int, b: Int)       => a < b
      case (a: String, b: String) => a < b
      case (a: java.lang.Number, b: java.lang.Number) =>
        new java.math.BigDecimal(a.toString)
          .compareTo(new java.math.BigDecimal(b.toString)) < 0
      case _                      => x.toString < y.toString
    }
    val pairRows = grouped.select(col("ds")).mapPartitions { it =>
      it.flatMap { r =>
        val ds = r.getSeq[Row](0).sortWith((a, b) => idLt(a.get(0), b.get(0)))
        for {
          i <- ds.indices.iterator
          j <- (i + 1 until ds.length).iterator
        } yield Row(ds(i).get(0), ds(i).getInt(1), ds(j).get(0), ds(j).getInt(1))
      }
    }(RowEncoder.encoderFor(pairT))
    pairRows
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"),
        min(col("sh_a")).as("sh_a"), min(col("sh_b")).as("sh_b"))
      .withColumn("jaccard",
        expr("round(CAST(inter AS DOUBLE) / CAST(sh_a + sh_b - inter AS DOUBLE), 6)"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** EXACT n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    * family, Bayardo et al. WWW'07; Xiao et al. PPJoin) — the third point
    * in the design space next to [[ngramJaccardPairs]] (full inverted
    * index + hot-shingle cap ⇒ capped metric) and [[minhashPairs]]
    * (probabilistic candidates ⇒ exact verify): candidates come only from
    * the |S|−⌈t·|S|⌉+1 globally RAREST shingles of each document — the
    * "prefix" under the canonical (doc-frequency asc, shingle asc) order —
    * and prefix filtering is LOSSLESS for Jaccard ≥ t: two sets with
    * J ≥ t must share a shingle lying in BOTH prefixes, so the result is
    * the true uncapped brute-force pair set, exactly (oracle-gated
    * against a DuckDB full quadratic self-join).
    *
    * Why it scales where the full index doesn't: index size drops from
    * Σ|S| to Σ(|S|·(1−t)+1) — at t=0.7, 3.3× fewer index rows — and,
    * decisively, boilerplate shingles (the m²-pair generators) are the
    * globally FREQUENT ones, which the rarity order pushes OUT of
    * prefixes; candidate-join key cardinality is bounded by each prefix
    * shingle's document frequency, which is low by construction of the
    * order. The residual adversarial case (a corpus made ONLY of hot
    * shingles, so hot shingles land in prefixes anyway) is a duplicate
    * blob that [[exact]] dedup must eat first — same disclosure as the
    * LSH band cap.
    *
    * Plan: one doc-frequency aggregation on shingle (two-phase); the
    * frequency join back reuses that exchange; ONE per-doc
    * `sort_array(collect_list)` aggregation (bounded by document length —
    * a per-entity group, never corpus state) yields both the prefix AND
    * the full shingle array for verification in the same pass; the
    * prefix-only inverted self-join generates candidates (ids only across
    * the exchange); distinct pairs then rejoin the by-doc arrays twice
    * (ReusedExchange — same subtree) and verify with compiled
    * `array_intersect`. No window over the corpus, no cap, no recall
    * trade.
    */
  def jaccardPrefixPairs(
      docs: DataFrame, textCol: String = "text", n: Int = 3,
      threshold: Double = 0.7,
      /** When > 0, the exact-Jaccard verify stage is spread over this many
        * partitions. AQE's coalesce heuristic is byte-based and the verify
        * rows are tiny-bytes/huge-CPU (two sorted shingle arrays per row
        * compared with array_intersect), so on a low-partition input it
        * coalesces the verify join to a handful of tasks (measured: 5
        * post-coalesce partitions carrying ~6 MB at sf0.1 — 3.4 s of the
        * query; guide §2.5's blind spot). Callers pass the session core
        * count ONLY when the input's physical partitioning is below it
        * (the [[graft.SparkEntry]] scan-floor condition) — on a real
        * multi-split corpus the verify stage carries real bytes, AQE sizes
        * it correctly, and the knob stays 0 (plan untouched).
        */
      verifyPar: Int = 0): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // sh fans out to the df aggregate + the index join; byDocBase to the
    // prefix index + both verify sides — materialize each once
    // ([[minhashPairs]] discipline)
    val sh = Materialize.pin(shingleRows(docs, textCol, n)) // doc_id, n_sh, shingle
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val byDocBase = sh.join(df, "shingle")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("__df"), col("shingle"))))
        .as("__ord"))
      .select(col("doc_id"),
        expr("transform(__ord, x -> x.shingle)").as("__sh"),
        expr(s"""transform(
          slice(__ord, 1, CAST(size(__ord) - ceil($threshold * size(__ord)) + 1 AS INT)),
          x -> x.shingle)""").as("__pref"))
    val idxBase = byDocBase.select(col("doc_id"), explode(col("__pref")).as("__p"))
    // verifyPar spread (r17, measured placement): the CPU lives in two
    // post-exchange waves whose BYTES are tiny (so AQE coalesces them to
    // ~5 tasks at sf0.1): (1) the candidate probe — prefix-collision pair
    // generation + the partial distinct — and (2) the distinct's reduce
    // side, where the broadcast array-attach joins and the exact
    // array_intersect verification pipeline. Two measured non-fixes: a
    // round-robin repartition AFTER the attach joins is sunk below by
    // Catalyst (Project/Filter push through bare Repartition — the r16
    // pinned-docsPar lesson), and a round-robin spread of byDoc breaks the
    // candidate join's broadcast (its build side loses the size estimate
    // → a 1-task sort-merge stage, 2.9× slower). KEYED repartitions at
    // the two exchanges' own keys pin their width without adding any
    // exchange (the downstream operator's distribution requirement is
    // already satisfied) and cannot be pushed through or re-coalesced.
    val idx =
      if (verifyPar > 0) idxBase.repartition(verifyPar, col("__p"))
      else idxBase
    val candBase = idx.join(
        idxBase.select(col("doc_id").as("doc_b"), col("__p")), "__p")
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
    val cand =
      if (verifyPar > 0)
        candBase.repartition(verifyPar, col("doc_a"), col("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
      else candBase.distinct()
    verifyJaccard(cand,
      byDocBase.select("doc_id", "__sh"), byDocBase.select("doc_id", "__sh"),
      threshold)
  }

  /** Band-key rows of a [[shingleBands]] frame: one (id, band, bucket) row
    * per band per document — the LSH join relation, ids only.
    */
  private def bandRowsOf(sh: DataFrame, idAs: String): DataFrame =
    sh.select(col("doc_id").as(idAs),
      posexplode(col("__bands")).as(Seq("__band", "__bucket")))

  /** Hot-bucket cap: drops every (band, bucket) group hotter than
    * `maxBandFreq` BEFORE the candidate self/bipartite join. A
    * boilerplate-heavy corpus (thousands of docs sharing a template) puts m
    * docs into one band bucket and the join would emit m²/2 candidate pairs
    * before verification — the one candidate-generation scale hole the
    * shingle-level cap does not cover.
    *
    * The cap is a broadcast ANTI-join against the hot-bucket SET, not a
    * count window: a window partitioned by (band, bucket) buffers the hot
    * bucket's rows — the very rows the cap exists to suppress — in one
    * unsplittable task. The hot set aggregates two-phase (skew-immune) and
    * is bounded at totalBandRows/maxBandFreq entries, broadcastable at any
    * corpus size; surviving rows then enter the candidate join with every
    * key at ≤ maxBandFreq rows — balanced by construction. The row set is
    * identical to the window form's (bf <= cap ≡ NOT IN hot).
    *
    * Recall trade (disclose to callers): docs colliding ONLY inside a
    * hotter-than-cap bucket lose that band's collision; with `bands`
    * independent bands a true near-dup pair almost surely still collides in
    * a cooler band — template-heavy corpora are exactly where the remaining
    * bands disagree — but a corpus that is one giant duplicate class
    * genuinely needs [[exact]] (hash dedup) first, not pairwise LSH.
    */
  private def capBandBuckets(bandRows: DataFrame, maxBandFreq: Int): DataFrame = {
    val hot = bandRows.groupBy("__band", "__bucket")
      .agg(count(lit(1)).as("__bf"))
      .filter(col("__bf") > maxBandFreq)
      .select("__band", "__bucket")
    bandRows.join(broadcast(hot), Seq("__band", "__bucket"), "left_anti")
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs: rejoins
    * the FULL shingle arrays carried by the signature frames and keeps
    * pairs at `jaccard >= threshold`. Shared by the intra-corpus and
    * bipartite MinHash forms so the verification metric cannot drift
    * between them.
    *
    * NOTE on the exact sibling: [[ngramJaccardPairs]] counts its
    * intersection over the frequency-CAPPED index, while this verification
    * uses full sets — the two agree on membership AND values exactly
    * unless a qualifying pair shares a shingle hotter than
    * `maxShingleFreq` (boilerplate-grams; none in the test corpora — the
    * equality is continuously gated by the q_minhash_pairs oracle row and
    * OperatorsSpec). On corpora where hot shingles matter, raise the cap
    * or treat the MinHash form as the reference metric.
    */
  private def verifyJaccard(
      cand: DataFrame, shA: DataFrame, shB: DataFrame, threshold: Double): DataFrame =
    cand
      .join(shA.select(col("doc_id").as("doc_a"), col("__sh").as("sh_a")), "doc_a")
      .join(shB.select(col("doc_id").as("doc_b"), col("__sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", expr(
        """round(CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)
          | / CAST(size(array_union(sh_a, sh_b)) AS DOUBLE), 6)""".stripMargin))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** MinHash + LSH near-duplicate pairs: k minhashes over shingle hashes,
    * banded into `bands` buckets; docs colliding in any band become
    * candidates; candidates are verified with exact Jaccard on the shingle
    * sets. Fan-out is exactly `bands` rows per document — the 100 TB path.
    */
  def minhashPairs(
      docs: DataFrame, textCol: String = "text", n: Int = 3,
      numHashes: Int = 32, bands: Int = 16, threshold: Double = 0.5,
      maxBandFreq: Int = 1000): DataFrame = {
    // banding chosen for the threshold: P(candidate) = 1-(1-j^rows)^bands;
    // 16 bands × 2 rows ⇒ ≈0.996 at j=0.54, the knee sits near j≈0.2 —
    // false candidates cost only verification, misses cost recall
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // Shingling + minhashing runs in compiled Scala (mapPartitions): the
    // SQL higher-order-function formulation is interpreted (CodegenFallback)
    // AND CollapseProject inlines the shingle expression into every one of
    // the `numHashes` transform references — measured 100×+ slower at sf0.1.
    // The hash chain replicates SQL `xxhash64(s, j)` exactly (XXH64 seed 42,
    // value-chained), so results are stable across both formulations.
    // The signature relation fans out to FOUR consumers (band rows, the
    // hot-bucket cap's aggregate, and both verify sides), each under a
    // differently-keyed exchange — AQE's stage cache cannot dedupe them,
    // so bare it is computed 3-4x per run (measured: 4 identical
    // shingle-stage jobs inside q_curate_corpus). Materialize it ONCE
    // (lazy pin: executor blocks, freed by the enclosing scope or else
    // ContextCleaner, spills to disk at scale) — the guide §8
    // "fingerprint once, decide on the proxy" discipline.
    val sh = Materialize.pin(shingleBands(docs, textCol, n, numHashes, bands))
    val br = capBandBuckets(bandRowsOf(sh, "doc_id"), maxBandFreq)
    // Band join carries ids only; shingle arrays rejoin for exact-Jaccard
    // verification of the (much smaller) candidate set.
    val cand = br.as("a").join(br.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cand, sh, sh, threshold)
  }

  /** Incremental (batch-vs-corpus) MinHash near-duplicate pairs: every
    * production pipeline deduplicates an INCOMING batch against the
    * already-ingested corpus, not just within one snapshot. Bipartite
    * variant of [[minhashPairs]]: both sides get the same signatures
    * (shingle → minhash → band keys, compiled), candidates are batch×corpus
    * band-key collisions only — never batch² or corpus² — and candidates
    * are verified with exact Jaccard on the full shingle sets. A document
    * present in both inputs pairs with itself at jaccard 1 (callers dedup
    * disjoint id spaces in practice).
    *
    * Emits (doc_a = batch id, doc_b = corpus id, jaccard). The corpus side
    * never re-shuffles per batch beyond the band join; at 100 TB,
    * materialize the corpus band keys once (they are a plain DataFrame —
    * persist or write them bucketed by band key) and join each arriving
    * batch against them, the same train-once/probe-many discipline as
    * [[graft.operators.Similarity.ivfFit]].
    */
  def minhashPairsAgainst(
      corpus: DataFrame, batch: DataFrame, textCol: String = "text", n: Int = 3,
      numHashes: Int = 32, bands: Int = 16, threshold: Double = 0.5,
      maxBandFreq: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // both signature relations fan out (band rows + verify side) —
    // materialize once each, as in [[minhashPairs]]
    val shC = Materialize.pin(shingleBands(corpus, textCol, n, numHashes, bands))
    val shB = Materialize.pin(shingleBands(batch, textCol, n, numHashes, bands))
    // the cap applies per side (each window counts within its own frame):
    // candidates per bucket are bounded by maxBandFreq² instead of
    // |batch bucket| × |corpus bucket|
    val cand = capBandBuckets(bandRowsOf(shB, "doc_a"), maxBandFreq).as("a")
      .join(capBandBuckets(bandRowsOf(shC, "doc_b"), maxBandFreq).as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cand, shB, shC, threshold)
  }

  /** Exploded (doc_id, n_sh, shingle) rows — one row per DISTINCT word
    * n-gram per document — computed partition-wise in compiled code.
    * Tokenization is identical to [[TextAnalysis.tokensExpr]] /
    * [[shingleBands]] (lower-case, split on runs of spaces, drop empties).
    * Compiled because the declarative form is a `transform` lambda, which
    * runs interpreted (CodegenFallback) AND — whether inlined by
    * CollapseProject or referenced through a staged column that the
    * optimizer collapses away — re-evaluates the tokenizer once per
    * emitted shingle: measured 6× slower than this loop at sf0.1.
    */
  private def shingleRows(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    // NULL text ⇒ no shingles ⇒ no rows (same outcome as the pre-r3
    // declarative form, where the lambda over a null array emitted nothing;
    // without the filter the compiled loop would NPE on text.split)
    val in = docs.select(col("doc_id"), lower(col(textCol)).as("__t"))
      .filter(col("__t").isNotNull)
    val out = StructType(Seq(
      StructField("doc_id", in.schema("doc_id").dataType),
      StructField("n_sh", IntegerType),
      StructField("shingle", StringType)))
    in.mapPartitions { it =>
      it.flatMap { r =>
        val shingles = distinctShingles(r.getString(1), n)
        val sz = shingles.size
        shingles.iterator.map(s => Row(r.get(0), sz, s))
      }
    }(RowEncoder.encoderFor(out))
  }

  /** Distinct word n-gram shingles of an (already lower-cased) text —
    * tokenize on runs of spaces, drop empties, slide an n-window: the
    * single compiled implementation behind [[shingleRows]] and
    * [[shingleBands]], so the tokenization contract (identical to
    * [[TextAnalysis.tokensExpr]] semantics) cannot drift between the
    * exact and MinHash forms. Empty/whitespace-only text yields an empty
    * set (no empty-string shingle).
    */
  private def distinctShingles(
      text: String, n: Int): scala.collection.mutable.LinkedHashSet[String] = {
    val shingles = new scala.collection.mutable.LinkedHashSet[String]
    val toks = text.split(" +").filter(_.nonEmpty)
    if (toks.nonEmpty) {
      var i = 0
      val last = math.max(toks.length - n, 0)
      while (i <= last) {
        shingles += toks.slice(i, math.min(i + n, toks.length)).mkString(" ")
        i += 1
      }
    }
    shingles
  }

  /** (doc_id, distinct word-n-gram shingles, LSH band keys) computed
    * partition-wise in compiled code. Hashes match SQL `xxhash64(...)`.
    */
  private def shingleBands(
      docs: DataFrame, textCol: String, n: Int, numHashes: Int, bands: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    val rows = numHashes / bands
    // NULL text ⇒ no signature row (same contract as shingleRows)
    val in = docs.select(col("doc_id"), lower(col(textCol)).as("__t"))
      .filter(col("__t").isNotNull)
    val idType = in.schema("doc_id").dataType
    val out = StructType(Seq(
      StructField("doc_id", idType),
      StructField("__sh", ArrayType(StringType)),
      StructField("__bands", ArrayType(LongType))))
    in.mapPartitions { it =>
      it.flatMap { r =>
        val shingles = distinctShingles(r.getString(1), n)
        if (shingles.isEmpty) None
        else {
          val mins = Array.fill(numHashes)(Long.MaxValue)
          shingles.foreach { s =>
            // xxhash64(s, j) = chain: h = xx(s, seed=42); h = xx(j, seed=h)
            val hs = XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L)
            var j = 0
            while (j < numHashes) {
              val hj = XxHash64Function.hash(j, IntegerType, hs)
              if (hj < mins(j)) mins(j) = hj
              j += 1
            }
          }
          val bandKeys = new Array[Long](bands)
          var b = 0
          while (b < bands) {
            // xxhash64(mh_0, .., mh_{rows-1}) value-chained from seed 42
            var h = 42L
            var k = 0
            while (k < rows) { h = XxHash64Function.hash(mins(b * rows + k), LongType, h); k += 1 }
            bandKeys(b) = h
            b += 1
          }
          Some(Row(r.get(0), shingles.toSeq, bandKeys.toSeq))
        }
      }
    }(RowEncoder.encoderFor(out))
  }

  /** 64-bit SimHash per document: token-hash sign votes per bit. Row-local
    * and shuffle-free; computed in compiled Scala via mapPartitions because
    * the equivalent nested higher-order-function SQL runs interpreted
    * (CodegenFallback) and is ~20× slower. Token hashes are Spark's own
    * xxhash64 (XXH64, seed 42), so results match `xxhash64(token)` in SQL.
    */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    // NULL text ⇒ no signature row (a 64-bit signature of nothing would
    // pair all null docs together; dropping matches shingleRows' contract)
    val in = docs.select(col("doc_id"), lower(col(textCol)).as("__t"))
      .filter(col("__t").isNotNull)
    val idType = in.schema("doc_id").dataType
    val out = StructType(Seq(
      StructField("doc_id", idType), StructField("simhash", LongType)))
    in.mapPartitions { rows =>
      rows.map { r =>
        val votes = new Array[Int](64)
        val text = r.getString(1)
        var start = 0
        var i = 0
        val n = text.length
        while (i <= n) {
          if (i == n || text.charAt(i) == ' ') {
            if (i > start) {
              val h = XxHash64Function.hash(
                UTF8String.fromString(text.substring(start, i)), StringType, 42L)
              var b = 0
              while (b < 64) {
                if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
                b += 1
              }
            }
            start = i + 1
          }
          i += 1
        }
        var sig = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
        Row(r.get(0), sig)
      }
    }(RowEncoder.encoderFor(out))
  }

  /** SimHash near-dup pairs: 4 bands of 16 bits as LSH buckets, verified by
    * Hamming distance ≤ `maxHamming`.
    *
    * Signature-identical collapse (the 100 TB posture): a class of k
    * byte-identical documents (boilerplate, mirrored pages) shares all 4
    * bands, so a naive band self-join emits k·(k−1)/2 pairs AND makes
    * its bucket the join's hottest key. Instead, exactly ONE
    * representative per distinct 64-bit signature (min doc_id) enters
    * the band join, and each identity class is emitted as linear
    * `(canonical, member, hamming = 0)` rows — the exact-dedup shape.
    * Cross-signature near-dup pairs are emitted between canonicals.
    * Downstream connectivity (components, clustering) is identical to
    * the full quadratic relation: a class is a star through its
    * canonical, and every cross-class edge lands on the canonicals.
    * The hamming ≤ `maxHamming` filter runs BEFORE the pair
    * deduplication so the dedup exchange only carries survivors.
    */
  def simhashPairs(
      docs: DataFrame, textCol: String = "text", maxHamming: Int = 8): DataFrame = {
    val sh = Materialize.pin(simhash(docs, textCol))
    // one representative per distinct signature; the join back to sh is
    // co-partitioned on simhash with the aggregation's own exchange
    val rep = sh.groupBy(col("simhash")).agg(min(col("doc_id")).as("__rep"))
    val classes = sh.join(rep, Seq("simhash"))
      .filter(col("doc_id") =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"),
        expr("CAST(0 AS INT)").as("hamming"))
    val reps = rep.select(col("__rep").as("doc_id"), col("simhash"))
    val bandRows = reps.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "array(simhash & 65535, shiftright(simhash, 16) & 65535, " +
          "shiftright(simhash, 32) & 65535, shiftright(simhash, 48) & 65535)"))
        .as(Seq("__band", "__bucket")))
    val repPairs = bandRows.as("a").join(bandRows.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
    // disjoint by construction: repPairs join distinct signatures, so
    // their hamming is >= 1, while class rows are exactly hamming = 0
    classes.unionByName(repPairs)
  }

  /** Exact full-set n-gram Jaccard for an EXPLICIT candidate pair relation
    * (`doc_a`, `doc_b`) — the audit half of an accuracy envelope: feed it
    * the pairs an approximate signature (SimHash, MinHash with aggressive
    * caps) emitted and gate `min(jaccard)` as the precision floor. A doc
    * with an empty shingle set (no tokens) scores 0 against any non-empty
    * doc; left joins keep pairs referencing docs absent from `docs` (or
    * with NULL text, which the signature paths drop): their `jaccard` is
    * NULL — callers decide whether those count against the floor. Same
    * per-pair shape as [[verifyJaccard]]
    * (two id-key joins against the shingle sets), no self-join, no
    * threshold filter.
    */
  def jaccardOf(
      docs: DataFrame, pairs: DataFrame, textCol: String = "text",
      n: Int = 3): DataFrame = {
    // both pair sides probe the same shingle-set relation — materialize
    // it once ([[minhashPairs]] discipline)
    val sets = Materialize.pin(shingleSets(docs, textCol, n))
    pairs.select("doc_a", "doc_b")
      .join(sets.select(col("doc_id").as("doc_a"), col("__sh").as("sh_a")),
        Seq("doc_a"), "left")
      .join(sets.select(col("doc_id").as("doc_b"), col("__sh").as("sh_b")),
        Seq("doc_b"), "left")
      .withColumn("jaccard", expr(
        """round(CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE)
          | / CAST(size(array_union(sh_a, sh_b)) AS DOUBLE), 6)""".stripMargin))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** (doc_id, distinct shingle array) — [[shingleBands]] minus the minhash
    * work, for callers that only need the sets (exact-Jaccard audits).
    */
  private def shingleSets(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val in = docs.select(col("doc_id"), lower(col(textCol)).as("__t"))
      .filter(col("__t").isNotNull)
    val out = StructType(Seq(
      StructField("doc_id", in.schema("doc_id").dataType),
      StructField("__sh", ArrayType(StringType))))
    in.mapPartitions { it =>
      it.map { r => Row(r.get(0), distinctShingles(r.getString(1), n).toSeq) }
    }(RowEncoder.encoderFor(out))
  }

  /** Benchmark decontamination: training documents sharing at least
    * `minOverlap` distinct word n-grams with any probe (benchmark/eval)
    * document. The bipartite analog of [[ngramJaccardPairs]]: the probe
    * set's inverted index is the JOIN side — typically tiny next to the
    * corpus, so candidates are bounded by probe shingle matches, never
    * corpus²; the corpus is scanned once.
    */
  def ngramContamination(
      docs: DataFrame, probes: DataFrame, textCol: String = "text", n: Int = 3,
      minOverlap: Int = 3, maxShingleFreq: Int = 1000): DataFrame = {
    val (corpusIdx, probeIdx) =
      contaminationIndexes(docs, probes, textCol, n, maxShingleFreq)
    // the probe set is a benchmark suite — small by definition: broadcast
    // it so the corpus index never shuffles for the join (the cap agg
    // remains the only corpus exchange)
    corpusIdx.join(broadcast(probeIdx), "shingle")
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).as("overlap_ngrams"))
      .filter(col("overlap_ngrams") >= minOverlap)
  }

  /** [[ngramContamination]] with a compact hash-membership prefilter — a
    * one-hash Bloom filter expressed declaratively, so Catalyst still
    * sees a plain broadcast semi-join. The probe shingle set broadcasts
    * twice at very different sizes:
    *
    *  1. as `xxhash64(shingle) & (2^hashBits - 1)` DISTINCT longs — 8
    *     bytes per entry vs arbitrary-length shingle strings — which a
    *     broadcast LEFT SEMI join probes with a long compare. Corpus
    *     index rows whose hash bucket misses every probe bucket (the
    *     overwhelming majority when the probe suite is small) are dropped
    *     before any string ever crosses an operator boundary;
    *  2. as the full string index, joined ONLY by the survivors — the
    *     exact-confirm pass that removes the prefilter's false positives.
    *
    * The hash is deterministic, so the prefilter has zero false
    * negatives and the result is IDENTICAL to [[ngramContamination]]
    * (same oracle; q_contamination_bloom is hash-gated against the exact
    * form's SQL). False positives only cost phase-2 work, bounded by
    * corpusShingles · probeBuckets / 2^hashBits in expectation. At 100 TB
    * this is the variant to run: the string join's probe-side hashing and
    * comparison dominate decontamination cost, and the prefilter removes
    * ~all of it for a few MB of broadcast longs.
    */
  def ngramContaminationPrefiltered(
      docs: DataFrame, probes: DataFrame, textCol: String = "text", n: Int = 3,
      minOverlap: Int = 3, maxShingleFreq: Int = 1000,
      hashBits: Int = 22): DataFrame = {
    require(hashBits >= 1 && hashBits <= 62, "hashBits must be in [1, 62]")
    val (corpusIdx, probeIdx) =
      contaminationIndexes(docs, probes, textCol, n, maxShingleFreq)
    val mask = (1L << hashBits) - 1
    val memb = broadcast(
      probeIdx.select(expr(s"xxhash64(shingle) & ${mask}L").as("__pb")).distinct())
    val survivors = corpusIdx.join(memb,
      expr(s"(xxhash64(shingle) & ${mask}L) = __pb"), "left_semi")
    survivors.join(broadcast(probeIdx), "shingle")
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).as("overlap_ngrams"))
      .filter(col("overlap_ngrams") >= minOverlap)
  }

  /** (corpus inverted index, probe inverted index) shared by the exact
    * and prefiltered contamination forms — one `(id, shingle)` row per
    * distinct word n-gram occurrence, corpus side hot-shingle capped.
    */
  private def contaminationIndexes(
      docs: DataFrame, probes: DataFrame, textCol: String, n: Int,
      maxShingleFreq: Int): (DataFrame, DataFrame) = {
    // stage the token array in its own projection DIRECTLY below the
    // Generate: lambda bodies re-evaluate their free sub-expressions per
    // element, so an inlined tokenizer would re-tokenize per emitted
    // shingle. This staging survives only because Generate (explode) does
    // not collapse into its child Project — a staged column one Project
    // further down gets re-inlined by CollapseProject (which is why
    // ngramJaccardPairs, needing size+explode of the same array, computes
    // its shingle rows in compiled code instead — see [[shingleRows]]).
    def index(df: DataFrame, idAs: String) = df
      .select(col("doc_id").as(idAs),
        expr(TextAnalysis.tokensExpr(textCol)).as("__tk"))
      .select(col(idAs),
        explode(expr(shingleOverTokensExpr("__tk", n))).as("shingle"))
    // hot-shingle cap as a broadcast ANTI-join, not a count window: a
    // shingle-partitioned window buffers the hot shingle's (corpus-scale)
    // row group in one task; the hot SET is bounded at totalRows/cap and
    // broadcasts, and the surviving index rows never shuffle at all —
    // decontamination is a scale-path operator (full-corpus sweeps), so
    // the Zipf-head discipline of joinTokenTotals applies here too
    val corpusIdxAll = index(docs, "doc_id")
    val hotShingles = corpusIdxAll.groupBy("shingle")
      .agg(count(lit(1)).as("__f"))
      .filter(col("__f") > maxShingleFreq)
      .select("shingle")
    val corpusIdx = corpusIdxAll
      .join(broadcast(hotShingles), Seq("shingle"), "left_anti")
      .select("doc_id", "shingle")
    (corpusIdx, index(probes, "probe_id"))
  }

  /** Exact LINE-level deduplication (the RefinedWeb/CCNet boilerplate-line
    * pass): a line occurring in at least `minDocFreq` DISTINCT documents
    * is corpus boilerplate (navigation, footers, cookie banners) and is
    * stripped from every document; surviving lines reassemble in their
    * original order. Emits one row per input document — `n_lines`,
    * `n_lines_kept`, and the reassembled `text_deduped` (empty string
    * when every line was boilerplate).
    *
    * Scale shape (the same frequency-routing discipline as
    * [[withDupStats]] / `TextAnalysis.joinTokenTotals`):
    *  1. line doc-frequencies via DISTINCT (line, doc) + a two-phase
    *     line aggregation — both skew-immune (map-side combine);
    *  2. boilerplate lines split at `headMinDf`: the head set
    *     (df >= headMinDf, at most pairs/headMinDf entries) broadcasts,
    *     so a cookie banner in a billion documents never shuffles its
    *     occurrences; the mid-range set (minDocFreq <= df < headMinDf)
    *     anti-marks through a join whose keys each touch < headMinDf
    *     DISTINCT documents — `__df` bounds distinct docs, not total
    *     occurrences, so a line repeated many times WITHIN documents
    *     can exceed the per-key probe budget; that residual
    *     intra-document skew is AQE-splittable because this is a JOIN
    *     (a window/hot-key group-by here would buffer the banner's
    *     corpus-scale row group in one task);
    *  3. per-document reassembly: one bounded-partition aggregation
    *     (array_sort on the (idx, line) structs restores order —
    *     collect_list order is partitioning-dependent, the sort makes the
    *     result deterministic).
    * Routing never changes answers (headMinDf moves sets between
    * broadcast and shuffle only; spec'd).
    */
  def lineDedup(
      docs: DataFrame, textCol: String = "text",
      minDocFreq: Int = 2, headMinDf: Long = 100000L,
      sep: String = "\n"): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq < 2 would strip every line")
    require(headMinDf > 0, "headMinDf must be positive")
    val lines = docs.select(col("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__idx", "__line")))
    val dfs = lines.select("__line", "doc_id").distinct()
      .groupBy("__line").agg(count(lit(1)).as("__df"))
    val hot = dfs.filter(col("__df") >= minDocFreq)
    val headHot = hot.filter(col("__df") >= headMinDf)
      .select(col("__line"), lit(1).as("__hot_h"))
    val tailHot = hot.filter(col("__df") < headMinDf)
      .select(col("__line"), lit(1).as("__hot_t"))
    lines
      .join(broadcast(headHot), Seq("__line"), "left")
      .join(tailHot, Seq("__line"), "left")
      .withColumn("__keep", col("__hot_h").isNull && col("__hot_t").isNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_lines_kept"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(
                col("__idx").as("i"), col("__line").as("l"),
                col("__keep").as("k")))),
              s => s.getField("k")),
            s => s.getField("l")),
          sep).as("text_deduped"))
  }

  /** Connected components over a near-duplicate pair relation: every id is
    * labeled with the MINIMUM id reachable through the pairs — the
    * transitive closure that turns pairwise dedup output into duplicate
    * GROUPS (pick `component_id` as the canonical representative).
    *
    * Iterative min-label propagation over ONLY the edge-touched vertices:
    * each round joins labels to the (symmetrized) edge list and takes the
    * per-vertex minimum of own and neighbor labels; converges in O(graph
    * diameter) rounds — near-dup graphs are unions of small cliques/
    * chains, so a handful. Isolated vertices (the overwhelming majority of
    * a 100 TB corpus — duplicate graphs are sparse) never enter the loop
    * and are labeled with themselves in one final left join: the per-round
    * shuffles scale with |edge endpoints|, not |corpus|. `localCheckpoint`
    * truncates the growing lineage so round N does not replan rounds
    * 1..N-1.
    *
    * `checkpointDir` picks the truncation mechanism: None (default) uses
    * `localCheckpoint` — blocks live on executors, fine single-JVM and
    * fastest — while Some(dir) uses a RELIABLE checkpoint
    * (`setCheckpointDir` + `checkpoint()`, dir should be HDFS/S3): at
    * 1000-executor scale a lost executor kills a localCheckpoint'd
    * lineage mid-iteration, whereas reliable blocks recompute from the
    * checkpoint files. Same labels either way (spec-pinned); the knob
    * trades per-round write cost for executor-loss survival.
    * `checkpointEvery` (reliable mode only, [[Graph.pageRank]] parity)
    * stretches the write cadence: checkpoint every N rounds, re-planning
    * at most N rounds from the last checkpoint on loss.
    *
    * Operational notes for the knob: `setCheckpointDir` is SparkContext-
    * GLOBAL, so give concurrent knobbed jobs the same dir (it is only set
    * here when it differs from the current one) — checkpoints are
    * uuid-scoped underneath, they do not collide; and set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so the
    * per-round snapshots superseded by later rounds are garbage-collected
    * instead of accumulating one labels-relation copy per iteration.
    *
    * @param vertices one column `id` (every id to label, matched or not)
    * @param pairs    columns `id_a`, `id_b`
    */
  def components(
      vertices: DataFrame, pairs: DataFrame, maxIterations: Int = 20,
      checkpointDir: Option[String] = None, checkpointEvery: Int = 1): DataFrame = {
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    // knob parity with pageRank: with a reliable dir, pay the checkpoint
    // write only every `checkpointEvery` rounds. Off-rounds PERSIST
    // (memory+disk) instead of going bare: unlike pageRank's single
    // terminal action, this loop runs a convergence count() every round,
    // and a bare off-round plan would re-execute the whole window back to
    // the last checkpoint on every such action — O(cadence²) joins per
    // window instead of O(cadence). Persisted blocks don't survive
    // executor loss, but lineage still ends at the last reliable
    // checkpoint, so loss recomputes at most `checkpointEvery` rounds —
    // the survival guarantee the dir buys is unchanged. Each off-round
    // cache is released as soon as the round that supersedes it is
    // materialized; if the loop EXITS on an off-round, the terminal
    // persist is swapped for a reliable checkpoint (ids-only relation,
    // one cheap write) and released — no per-call corpus-sized cache is
    // left to the ContextCleaner. Labels are identical at any cadence
    // (spec-pinned).
    // LAZY local truncation (r16): each round's convergence count() is the
    // one action that materializes that round's truncated labels — the
    // eager localCheckpoint paid a second job per round for nothing. The
    // previous label rides ALONG through the propagate join as `__prev`,
    // so the convergence count is a filter over the just-materialized
    // blocks instead of a per-round (next ⋈ labels) shuffle join — one
    // join and one action fewer per round, identical labels (spec-pinned).
    // The RELIABLE branch stays EAGER: a lazy reliable checkpoint
    // recomputes the RDD in the separate checkpoint-write job (it is not
    // persisted), so laziness there would double the round's work.
    def isPersisted(round: Int): Boolean =
      checkpointDir.isDefined && round % checkpointEvery != 0
    def truncate(df: DataFrame, round: Int): DataFrame =
      if (isPersisted(round)) Materialize.cache(df)
      else Materialize.pin(df, eager = checkpointDir.isDefined, reliableDir = checkpointDir)
    val edges = Materialize.cache(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // round 0 has no count of its own; its lazy truncation materializes
    // inside round 1's count job
    var cur = truncate(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component_id")), 0)
    var labels = cur
    var labelsRound = 0
    try {
      var converged = false
      var iter = 0
      while (!converged && iter < maxIterations) {
        val prev = cur
        val neighborMin = edges
          .join(labels.select(col("id").as("dst"), col("component_id").as("__nl")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min("__nl").as("__nmin"))
        val next = truncate(labels
          .join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("component_id"), coalesce(col("__nmin"), col("component_id")))
              .as("component_id"),
            col("component_id").as("__prev")), iter + 1)
        val changed = next.filter(col("component_id") =!= col("__prev")).count()
        // round k's blocks are dead once round k+1's count has stored its
        // own (nothing re-reads them: `labels` is rebound to the new round),
        // but ContextCleaner frees them only on GC, so a long-converging
        // graph would hold every round's labels at once
        Materialize.release(prev)
        cur = next
        labels = next.select("id", "component_id")
        labelsRound = iter + 1
        converged = changed == 0
        iter += 1
      }
    } finally Materialize.release(edges)
    if (isPersisted(labelsRound)) {
      val terminal = Materialize.pin(labels, eager = true, reliableDir = checkpointDir)
      Materialize.release(cur)
      labels = terminal
    }
    vertices.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component_id"), col("id")).as("component_id"))
  }

  /** Leakage-safe train/val/test split: assign every document the split
    * of its NEAR-DUP COMPONENT, not of itself. A content-hash split
    * ([[TextAnalysis.assignSplit]]) puts two near-duplicates of the same
    * page on opposite sides of the train/test fence with probability
    * 2·p·(1-p) — the classic eval-contamination leak; splitting on the
    * component representative instead makes the duplicate CLASS the unit
    * of assignment, so a near-dup of a test document can never train.
    *
    * Plan: [[components]] over the near-dup pair relation (labels are the
    * component-minimum id already — no extra representative pass), one
    * id-key join of docs→labels (singletons label themselves, so the
    * join is on the full corpus but each key is unique — skew-free), and
    * the split CASE is the same md5-bucket arithmetic as
    * [[TextAnalysis.assignSplit]] over `component_id` — per-row
    * projection, no extra exchange. Deterministic end to end and
    * engine-portable (q_split_leakage is hash-gated against a DuckDB
    * recursive-CTE + identical md5 oracle).
    */
  def splitByComponent(
      docs: DataFrame, pairs: DataFrame, fractions: Seq[(String, Double)],
      idCol: String = "doc_id"): DataFrame = {
    val labels = components(docs.select(col(idCol).as("id")), pairs)
    val withComp = docs.join(
      labels.select(col("id").as(idCol), col("component_id")), idCol)
    TextAnalysis.assignSplit(withComp, fractions, idCol = "component_id")
  }

  /** Quality-canonical near-dup resolution: per duplicate component keep
    * the HIGHEST-quality member, not the min-id one — what production
    * curation actually wants (of five near-identical crawls of a page,
    * keep the longest/cleanest, drop the truncated ones). Emits one row
    * per document: `(idCol, component_id, keep)`.
    *
    * Plan: [[components]] labels every doc; the per-component winner is
    * `Ranking.topKPerGroup(k=1)` by the BIGINT quality score (doc id
    * tie-break ⇒ deterministic, hash-gated q_dedup_quality) — the salted
    * two-phase form, so a corpus-scale boilerplate component never
    * becomes one window task; winners rejoin on component_id (one row
    * per component on the build side, AQE-splittable if a component is
    * hot — a JOIN, never a window, the [[withDupStats]] rule).
    */
  def canonicalByQuality(
      docs: DataFrame, pairs: DataFrame, scoreExpr: String,
      idCol: String = "doc_id", salts: Int = 16): DataFrame = {
    val labels = components(docs.select(col(idCol).as("id")), pairs)
    val scored = docs
      .withColumn("__q", expr(s"CAST($scoreExpr AS BIGINT)"))
      .join(labels.select(col("id").as(idCol), col("component_id")), idCol)
      .select(col(idCol), col("component_id"), col("__q"))
    val winners = Ranking
      .topKPerGroup(scored, Seq("component_id"), "__q", idCol, k = 1, salts)
      .select(col("component_id"), col(idCol).as("__keep_id"))
    scored.join(winners, Seq("component_id"))
      .select(col(idCol), col("component_id"),
        (col(idCol) === col("__keep_id")).as("keep"))
  }

  /** SemDeDup-shaped semantic deduplication: KMeans-cluster the embedding
    * space (coarse quantizer fit on a sample — the 100 TB posture), form
    * candidate pairs WITHIN clusters only, verify with exact cosine, and
    * drop every vector that has a smaller-id near-duplicate in its
    * cluster. Pair volume is bounded by cluster occupancy² per cell,
    * never corpus².
    *
    * `nClusters <= 0` (the default) derives the cluster count from the
    * corpus row count via [[Similarity.autoNLists]] — expected occupancy
    * stays bounded, so total verification work grows LINEARLY with the
    * corpus instead of quadratically as it would with any fixed k; pass
    * an explicit positive k to override. Clustering coarseness only
    * affects RECALL, monotonically and one-sidedly: the within-cell
    * candidate relation is a subset of the all-pairs relation, so a
    * clustered run never drops a vector the exact all-pairs run keeps
    * (measured on the sf1 fixture: exact finds 61 dups, k=16 finds 45,
    * k=64 finds 41 — and every clustered drop set is a subset of the
    * exact one). That one-sided recall loss within same-cluster
    * neighborhoods is the SemDeDup contract at any k.
    *
    * Single-round canonicalization (a vector is dropped iff a smaller-id
    * neighbor exists) rather than full transitive closure — the standard
    * large-scale practice; chains collapse over repeated passes if needed.
    */
  def semanticDedup(
      embeddings: DataFrame, vecCol: String = "embedding", idCol: String = "vec_id",
      nClusters: Int = 0, threshold: Double = 0.95, seed: Long = 42L,
      fitSampleFraction: Double = 1.0): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val k =
      if (nClusters > 0) nClusters
      else Similarity.autoNLists(embeddings.count())
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    // spherical k-means, same rationale (and same normalizer arithmetic)
    // as [[Similarity.ivfFit]]: the dedup threshold is an ANGLE, so cells
    // must partition the unit sphere — raw-L2 cells split cosine-close,
    // norm-distant pairs and inflate the one-sided recall loss
    val featured = embeddings.select(col(idCol), col(vecCol))
      .withColumn("__nrm", expr(s"vec_norm(`$vecCol`)"))
      .withColumn("__v", array_to_vector(expr(
        s"""CASE WHEN __nrm = 0 THEN `$vecCol`
           | ELSE transform(`$vecCol`,
           |   x -> CAST(CAST(x AS DOUBLE) / __nrm AS FLOAT)) END""".stripMargin)))
    val fitInput =
      if (fitSampleFraction >= 1.0) featured
      else featured.sample(withReplacement = false, fitSampleFraction, seed)
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("__v").setPredictionCol("__cell").fit(fitInput)
    val assigned = model.transform(featured)
      .select(col(idCol), col(vecCol), col("__cell"))
    semanticDedupFromCells(assigned, vecCol, idCol, threshold)
  }

  /** SemDeDup over an ALREADY cell-assigned corpus (columns: idCol,
    * vecCol, `__cell`) — the train-once/dedup-many half of
    * [[semanticDedup]]. Accepts [[Similarity.IvfIndex]]`.assigned`
    * directly: one coarse clustering can serve both ANN probes and
    * semantic dedup, which is how a real pipeline amortizes the fit (the
    * same fit-per-invocation trap the IVF fit/probe split removes).
    */
  def semanticDedupFromCells(
      assigned: DataFrame, vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.95): DataFrame = {
    graft.functions.GraftFunctions.register(assigned.sparkSession)
    // norm once per row BEFORE the cell self-join, not per pair
    val withN = assigned.withColumn("__n", expr(s"vec_norm(`$vecCol`)"))
    val pairs = withN.as("a").join(withN.as("b"),
        col("a.__cell") === col("b.__cell") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col(s"a.$vecCol").as("__av"), col(s"b.$vecCol").as("__bv"),
        col("a.__n").as("__an"), col("b.__n").as("__bn"))
    val dups = Similarity.withCosineHoisted(pairs, "__av", "__bv", "__an", "__bn",
        Seq("id_a", "id_b"))
      .withColumn("cosine", expr("round(cosine, 6)"))
      .filter(col("cosine") >= threshold)
      .select(col("id_b").as(idCol)).distinct
    assigned.select(col(idCol))
      .join(dups.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("__dup").isNull.as("is_kept"))
  }

  /** Multi-probe SemDeDup over a fitted [[Similarity.IvfIndex]]: each
    * vector PROBES its `probes` nearest cells (the IVF multi-probe trick
    * applied to dedup), so a near-duplicate pair straddling a cell
    * boundary — the one recall loss of cell-local SemDeDup — is caught
    * whenever EITHER vector's primary cell is among the other's probed
    * cells. The candidate join is deliberately ASYMMETRIC — probed rows
    * (n×probes) against primary-cell rows (n) — not probed×probed:
    * per-cell pair volume is probes·occupancy² instead of
    * (probes·occupancy)², a factor-`probes` saving that at sf1
    * (probes = 3, 20k vectors) cuts the candidate relation ~3× for
    * identical measured recall. The coverage argument survives the
    * asymmetry because a near-duplicate pair is two nearly-coincident
    * points with nearly-identical centroid-distance orderings: if b's
    * primary cell is c, then c is (to within the pair's tiny
    * displacement) also among a's nearest cells, so a's probe set
    * reaches b's primary long before the symmetric probe sets would
    * stop intersecting. Recall loss remains one-sided (candidates ⊆ all
    * pairs, so it still never drops a vector the exact run keeps).
    * Measured on the sf1 fixture (61 exact drops): cell-local misses
    * 16, probes = 2 misses 3, probes = 3 misses 0 (same as the
    * symmetric join it replaced) — and probes = nLists still degenerates
    * to the exact all-pairs dedup (probing every cell reaches every
    * primary), the spec-pinned losslessness anchor.
    *
    * Plan: cell assignment runs through [[Similarity.probeCells]] — the
    * SAME compiled helper the IVF ANN probe uses, so the two paths'
    * distance and tie conventions cannot drift. The candidate stage is a
    * CELL-LOCAL KERNEL, not a join: probe rows and primary rows union
    * into ONE exchange hashed on the cell id, primaries sort first
    * within each partition, and a mapPartitions loop buffers each cell's
    * primaries (occupancy-bounded — ~targetOccupancy vectors ≈ 32 KB)
    * and streams every probe row against them with a primitive
    * float-array dot. The candidate relation (probes·n·occupancy rows)
    * is never materialized AT ALL — the previous fused join never
    * shuffled it, but still constructed a two-vector joined row per
    * candidate before the codegen cosine, and that row traffic was the
    * measured bottleneck (sf1, 34M candidates: join+cosine 3.25 s →
    * kernel 0.4 s; the probe/shuffle stages are unchanged at ~0.15 s).
    * The kernel's arithmetic mirrors vec_dot/vec_norm/round(…,6)
    * operation-for-operation (double accumulation left-to-right, one
    * sqrt, HALF_UP at scale 6 with the NaN/Inf passthrough of Spark's
    * Round), so the survivor set is bit-identical to the join it
    * replaces — spec-pinned against brute force. Survivor pairs (the
    * actual near-dups, a vanishing fraction) are emitted as rows; the
    * DISTINCT and the `greatest` pair normalization touch only those.
    * The trade vs the join: AQE can no longer split a pathologically hot
    * cell (all-identical embeddings); the buffer and the loop are then
    * bounded by that cell's size — the same quadratic degeneracy the
    * join's candidate loop had, now with an occupancy-sized memory
    * footprint instead of a row-traffic one.
    */
  def semanticDedupProbed(
      index: Similarity.IvfIndex, probes: Int = 2,
      threshold: Double = 0.95,
      maxCellPrimaries: Int = 65536): DataFrame = {
    require(probes >= 1, "at least one probed cell")
    require(maxCellPrimaries >= 1, "positive maxCellPrimaries required")
    val assigned = index.assigned
    val idCol = index.idCol
    val vecCol = index.vecCol
    graft.functions.GraftFunctions.register(assigned.sparkSession)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val idType = assigned.schema(idCol).dataType
    // probe rows carry rank-0 (the row's own cell), so primary-vs-primary
    // pairs arise exactly as in the join this kernel replaces
    val probedRows = Similarity.probeCells(
        assigned, index.centroids, vecCol, idCol, probes)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        explode(col("__cells")).as("__cell"), lit(false).as("__primary"))
    val primaryRows = assigned.select(
      col(idCol).as("__id"), col(vecCol).as("__v"),
      col("__cell"), lit(true).as("__primary"))
    val unioned = probedRows.unionByName(primaryRows)
      .repartition(col("__cell"))
      .sortWithinPartitions(col("__cell"), col("__primary").desc)
    val pairSchema = StructType(Seq(
      StructField("__a", idType), StructField("__b", idType)))
    // survivor pairs only — the threshold filter runs inside the loop
    val pairs = unioned.mapPartitions { it =>
      // vec_norm mirror: left-to-right double squared-sum, one sqrt
      def norm(v: Array[Float]): Double = {
        var ss = 0.0; var i = 0
        while (i < v.length) { val x = v(i).toDouble; ss += x * x; i += 1 }
        math.sqrt(ss)
      }
      // Spark Round(…, 6) mirror: HALF_UP via BigDecimal.decimal
      // (valueOf semantics), NaN/Inf passed through un-rounded
      def round6(x: Double): Double =
        if (x.isNaN || x.isInfinite) x
        else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // hot-loop fast path: round6 is monotone and moves a value by at
      // most 5e-7, so only cosines within 1e-6 of the threshold need the
      // (allocating) exact rounding — a 30M-candidate loop would
      // otherwise build 30M BigDecimals (the measured kernel bottleneck)
      def keeps(c: Double): Boolean =
        if (c >= threshold + 1e-6) true
        else if (c < threshold - 1e-6) false
        else round6(c) >= threshold
      var cell = Integer.MIN_VALUE
      val pIds = new scala.collection.mutable.ArrayBuffer[Any]
      val pVecs = new scala.collection.mutable.ArrayBuffer[Array[Float]]
      val pNorms = new scala.collection.mutable.ArrayBuffer[Double]
      it.flatMap { r =>
        val c = r.getInt(2)
        if (c != cell) { cell = c; pIds.clear(); pVecs.clear(); pNorms.clear() }
        val id = r.get(0)
        val vec = {
          val s = r.getSeq[Float](1); val a = new Array[Float](s.length)
          var i = 0; while (i < a.length) { a(i) = s(i); i += 1 }; a
        }
        val n = norm(vec)
        if (r.getBoolean(3)) { // primary: buffer (sorted first in cell)
          // degenerate-data guard: KMeans collapsing a corpus-sized mass
          // of identical/near-zero embeddings into ONE cell would make
          // this buffer corpus-sized on a single task (and the probe
          // loop quadratic in it) — fail loudly naming the hot cell
          // instead of OOMing the executor. Healthy indexes sit at
          // ~targetOccupancy (128) primaries per cell, 512× below the
          // default cap; raise maxCellPrimaries only with eyes open.
          if (pIds.length >= maxCellPrimaries)
            throw new IllegalStateException(
              s"semanticDedupProbed: cell $c holds more than " +
                s"$maxCellPrimaries primary vectors (degenerate KMeans " +
                "cell — embeddings collapsing to one centroid). Refit " +
                "the index with more lists, or raise maxCellPrimaries " +
                "if the memory and quadratic probe cost are acceptable.")
          pIds += id; pVecs += vec; pNorms += n
          Iterator.empty
        } else {
          val out = new scala.collection.mutable.ArrayBuffer[Row]()
          var j = 0
          while (j < pIds.length) {
            if (pIds(j) != id) {
              val q = pVecs(j)
              // vec_dot mirror: left-to-right double accumulation
              var dot = 0.0; var i = 0
              val dim = math.min(vec.length, q.length)
              while (i < dim) { dot += vec(i).toDouble * q(i).toDouble; i += 1 }
              if (keeps(dot / (n * pNorms(j))))
                out += Row(id, pIds(j))
            }
            j += 1
          }
          out.iterator
        }
      }
    }(RowEncoder.encoderFor(pairSchema))
    val dups = pairs
      .select(greatest(col("__a"), col("__b")).as(idCol)).distinct
    assigned.select(col(idCol))
      .join(dups.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("__dup").isNull.as("is_kept"))
  }

  /** Per-document winnowing fingerprints (MOSS, Schleimer/Wilkerson/
    * Aiken 2003) — SUBSTRING-level dedup keys: the sorted distinct
    * minima of a `w`-window slid over rolling hashes of every `k`-gram
    * of characters (see `graft.functions.TextWinnow` for the exact
    * arithmetic contract, mirrored integer-for-integer by the DuckDB
    * oracle). Any shared substring of length ≥ k + w − 1 yields a shared
    * fingerprint, catching boilerplate that token-shingle MinHash misses
    * when re-wrapping splits tokens. Pure codegen'd projection + explode:
    * zero shuffles, scan-bound.
    */
  def winnowFingerprints(
      docs: DataFrame, k: Int = 20, w: Int = 16,
      textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      explode(expr(s"text_winnow(`$textCol`, $k, $w)")).as("fp"))
  }

  /** Substring-overlap near-dup candidates: document pairs sharing at
    * least `minShared` winnowed fingerprints. Inverted-index self-join
    * on the fingerprint with the family's standard hot-key discipline:
    * fingerprints present in more than `maxFpFreq` documents (ubiquitous
    * boilerplate — exactly the keys that would quadratically explode the
    * self-join) are REMOVED via a broadcast anti-join against the
    * two-phase-aggregated hot set, so every surviving join key carries
    * ≤ maxFpFreq rows — balanced by construction, ids only on the wire.
    */
  def winnowPairs(
      docs: DataFrame, k: Int = 20, w: Int = 16, minShared: Int = 3,
      maxFpFreq: Int = 100, textCol: String = "text"): DataFrame = {
    require(minShared >= 1 && maxFpFreq >= 1, "positive minShared/maxFpFreq required")
    // (doc, fp) rows are already unique: the expression emits sorted
    // DISTINCT minima per document — no distinct shuffle needed
    val fps = winnowFingerprints(docs, k, w, textCol)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxFpFreq).select("fp")
    val cool = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    cool.as("a").join(cool.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** EXACT repeated-substring removal spans — the ExactSubstr dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", ACL): a character position is duplicated when the
    * `minLen`-gram starting there occurs MORE THAN ONCE anywhere in the
    * corpus (another document or another offset of the same document);
    * the union of duplicated windows is emitted as per-document maximal
    * removal spans (1-based, inclusive). The windowed definition equals
    * the paper's "substring of length ≥ minLen appearing ≥ 2 times":
    * every such repeat has all its `minLen`-windows repeated, so its
    * full extent is covered, and every covered char lies inside such a
    * repeat.
    *
    * Plan (the distributed stand-in for the paper's single-node suffix
    * array, which cannot shard): candidate generation runs on O(1)-per-
    * position ROLLING hashes (`gram_hashes`, a codegen Expression — one
    * O(n) pass per document instead of O(n·minLen) substring
    * materialization; at minLen 40 that is ~40× less hash work per
    * corpus char), aggregated with ONE two-phase groupBy on the 8-byte
    * hash — map-side partial counts are what keep a boilerplate-hot gram
    * from concentrating in a single task (the reason this is a groupBy +
    * semi-join and NOT a count-over-window, which has no partial phase).
    * Hash survivors — the duplicated fraction plus stray collisions —
    * then re-join their documents' text and are CONFIRMED with exact
    * gram string equality, so a 64-bit collision (certain at 100 TB
    * gram counts) can never fabricate a span; the expensive string
    * aggregation touches only survivors, not the corpus. Span assembly
    * is the gaps-and-islands pattern per document, windowed over the
    * duplicated positions only. Total cost is O(corpus chars) rows
    * through skinny linear shuffles; the honest comparison is the
    * paper's own answer, a single machine memory-mapping a suffix
    * array, which stops at one node.
    */
  def repeatedSubstringSpans(
      docs: DataFrame, minLen: Int = 40, textCol: String = "text"): DataFrame = {
    require(minLen >= 2, "minLen must be at least 2")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val posH = docs
      .select(col("doc_id"),
        posexplode(expr(s"gram_hashes(`$textCol`, $minLen)")).as(Seq("__p", "__h")))
      .select(col("doc_id"), (col("__p") + 1).cast("long").as("__i"), col("__h"))
    val dupH = posH.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__h")
    val candPos = posH.join(dupH, Seq("__h"), "left_semi")
    // CACHED: candGram has two consumers (the confirm aggregation and
    // the semi-join probe side) whose subtrees cannot share an exchange
    // (agg payload vs raw rows); bare, the whole candidate chain — the
    // docs-text rejoin AND, transitively, two more corpus gram-explode
    // passes — would execute twice. The relation is survivor-sized
    // (duplicated-hash positions only, ∝ dup density, never the corpus),
    // so caching it is bounded. ContextCleaner never frees a CacheManager
    // entry: the enclosing Materialize.scope does, or else the caller.
    // The remaining double-scan (posH feeding dupH's agg + the probe) is
    // the same accepted hot-set shape as lineDedup/winnowPairs: a
    // scan-bound codegen pass recomputed once beats caching O(corpus
    // chars) rows.
    val candGram = Materialize.cache(candPos
      .join(docs.select(col("doc_id"), col(textCol).as("__text")), Seq("doc_id"))
      .select(col("doc_id"), col("__i"),
        expr(s"substring(__text, CAST(__i AS INT), $minLen)").as("__gram")))
    val dupGrams = candGram.groupBy("__gram").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__gram")
    val dupPos = candGram.join(dupGrams, Seq("__gram"), "left_semi")
      .select(col("doc_id"), col("__i"))
    // gaps-and-islands: a new span starts where the position clears the
    // running coverage end by more than one char (adjacent windows fuse —
    // the covered-char set is what the spans partition)
    val w = Window.partitionBy("doc_id").orderBy("__i")
    val flagged = dupPos.withColumn("__prev_end",
        max(col("__i") + lit(minLen - 1))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__prev_end").isNull ||
          col("__i") > col("__prev_end") + 1, 1L).otherwise(0L))
      .withColumn("__span", sum("__brk").over(w))
    flagged.groupBy(col("doc_id"), col("__span"))
      .agg(min("__i").as("span_start"),
        (max("__i") + lit(minLen - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Embedding cosine near-dup pairs via MULTI-TABLE sign-LSH: `tables`
    * independent sets of `nBits` deterministic hyperplanes bucket the
    * vectors; candidates are the union of same-(table, bucket) pairs and
    * every emitted pair is verified with exact cosine ≥ threshold —
    * precision 1.0 by construction, recall 1 − (1 − p^nBits)^tables with
    * p = 1 − acos(cos)/π per hyperplane.
    *
    * Multi-table is NOT optional hardening: a single 12-bit table keeps
    * only p^12 ≈ 16% of true pairs at cosine 0.90 (28% at 0.95) — the
    * sf1 gate caught exactly this (10 of 61 real pairs survived one
    * table). Defaults (12 bits × 8 tables) give ~74% at 0.90 / ~93% at
    * 0.95; callers needing more raise `tables` (16 → 93% / 99.5%) or set
    * `probeHamming = 1` — multi-probe LSH (Lv et al. 2007, VLDB): one
    * side of the candidate join ALSO visits the nBits buckets at Hamming
    * distance 1, so a pair is caught when the two buckets differ in at
    * most one bit in ANY table. Per-table catch probability rises from
    * p^nBits to p^nBits + nBits·p^(nBits−1)(1−p) — at cosine 0.90,
    * 12 bits × 16 tables goes from ~93% to 1−(1−0.47)^16 ≈ 0.99996 —
    * recall headroom that would otherwise cost ~5× more tables. Probing
    * is asymmetric (probe-expanded rows against exact-bucket rows, the
    * [[semanticDedupProbed]] discipline) and UP-ONLY — a row probes only
    * the buckets that flip one of its ZERO bits, which assigns every
    * Hamming-1 pair exactly one canonical catch direction (the zero-bit
    * side probes) — so the probe fan-out is 1 + popcount-of-zeros
    * (≈ 1 + nBits/2 expected) instead of 1 + nBits, and no candidate is
    * generated twice from the two directions: HALF the candidate volume
    * of naive both-direction probing for identical coverage. Candidates
    * remain a SUBSET of the exact pair relation — precision stays 1.0.
    *
    * Plan: the cosine + threshold filter are FUSED into the bucket join
    * (vectors and their hoisted norms ride through; vec_dot/(norm·norm)
    * is bit-identical to vec_cosine): the candidate relation — the
    * largest relation in the query, ×occupancy above the bucket rows —
    * is never shuffled, and the pair-dedup touches only threshold
    * survivors. The previous ids-only shape shuffled the candidate
    * relation twice (DISTINCT + two vector re-joins); the fused shape
    * instead shuffles the bucket rows with their ~dim·4-byte payloads —
    * O(n·tables·(1+probes)) rows, linear in the corpus with balanced
    * keys by construction (nBits bounds occupancy).
    */
  def embeddingDupPairs(
      embeddings: DataFrame, vecCol: String = "embedding", idCol: String = "vec_id",
      dim: Int = 64, nBits: Int = 12, threshold: Double = 0.95, seed: Long = 42L,
      tables: Int = 8, probeHamming: Int = 0): DataFrame = {
    require(tables >= 1, "at least one hash table")
    require(probeHamming == 0 || probeHamming == 1,
      "probeHamming must be 0 (exact buckets) or 1 (probe Hamming-1 neighbors)")
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    // both candidate-join sides read the same sign-projection relation
    // (tables × nBits dot products per vector) — materialize it once
    // (the minhashPairs r16 discipline)
    val bandRows = Materialize.pin(Similarity.withSignBuckets(
        embeddings, vecCol, idCol, dim, nBits, tables, seed)
      .withColumn("__n", expr(s"vec_norm(`$vecCol`)"))
      .select(col(idCol), col(vecCol), col("__n"),
        posexplode(col("__buckets")).as(Seq("__t", "__bucket"))))
    val bSide = bandRows.select(col(idCol).as("__bid"), col(vecCol).as("__bv"),
      col("__n").as("__bn"), col("__t"), col("__bucket"))
    val aSide =
      if (probeHamming == 0)
        bandRows.select(col(idCol).as("__aid"), col(vecCol).as("__av"),
          col("__n").as("__an"), col("__t"), col("__bucket"),
          lit(true).as("__ident"))
      else
        // UP-probes only: flip each ZERO bit to one (j = 0 keeps the
        // exact bucket). A pair whose buckets differ in exactly bit j has
        // one member with that bit 0 — its up-probe lands in the other's
        // exact bucket — so every Hamming-1 pair is caught in EXACTLY one
        // direction per table and the full both-directions join
        // (`__aid != __bid`, 2× the candidates) is unnecessary. Identity
        // probes keep the symmetric-half `<` order; coverage (≤ 1 bit
        // apart in any table) is unchanged.
        bandRows.select(col(idCol).as("__aid"), col(vecCol).as("__av"),
          col("__n").as("__an"), col("__t"),
          explode(expr(s"""filter(
            transform(sequence(0, $nBits),
              j -> named_struct(
                'b', CASE WHEN j = 0 THEN __bucket
                     ELSE __bucket | shiftleft(CAST(1 AS BIGINT), j - 1) END,
                'up', j = 0 OR (__bucket & shiftleft(CAST(1 AS BIGINT), j - 1)) = 0,
                'ident', j = 0)),
            s -> s.up)""")).as("__pr"))
          .select(col("__aid"), col("__av"), col("__an"), col("__t"),
            col("__pr.b").as("__bucket"), col("__pr.ident").as("__ident"))
    // exact-vs-exact (the identity probe) is symmetric — halve with a
    // strict order. An up-probed row meets only rows whose exact bucket
    // differs from its own (the flipped bit), so it can never meet its
    // own id and never duplicates an identity-probe candidate; no order
    // constraint applies (the canonical direction is "the zero-bit side
    // probes"), and the pair key is normalized at the survivor stage.
    aSide.join(bSide, Seq("__t", "__bucket"))
      .filter(!col("__ident") || col("__aid") < col("__bid"))
      .select(col("__aid"), col("__bid"),
        expr("round(vec_dot(__av, __bv) / (__an * __bn), 6)").as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(least(col("__aid"), col("__bid")).as("id_a"),
        greatest(col("__aid"), col("__bid")).as("id_b"), col("cosine"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact cosine pairs RESTRICTED to anchors satisfying `anchorPred`
    * (id_a side): the deterministic sampled-exact reference for the
    * [[embeddingDupPairs]] recall envelope. Brute force is quadratic, so
    * the envelope anchors on a deterministic id-slice — a FIXED-SIZE one
    * (`vec_id % m = 0` with m derived from the corpus count, so |sample|
    * is ~constant and the reference stays O(n) at every SF; a fixed
    * fraction like `% 5` re-creates the quadratic it exists to avoid):
    * cost drops to |sample| × n broadcast-side dot products while the
    * anchored exact pair set stays a faithful, engine-portable subsample
    * of the true pair relation (both engines compute it identically —
    * no randomness). Emits (id_a, id_b, cosine) with id_a < id_b and
    * id_a OR id_b matching the predicate.
    */
  def embeddingDupPairsExact(
      embeddings: DataFrame, anchorPred: String,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.95): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    // norms hoisted out of the |sample|×n cross (withCosineHoisted)
    val vecs = embeddings.select(col(idCol), col(vecCol),
      expr(s"vec_norm(`$vecCol`)").as("__n"))
    val anchors = vecs.filter(expr(anchorPred.replace("%ID%", idCol)))
    // cosine filters BEFORE the pair-order normalization + distinct: the
    // threshold kills ~all of the |sample|×n cross rows scan-side, so the
    // dedup exchange carries a handful of survivors, never the cross
    // product (an early dropDuplicates here shuffled sample×n full
    // vector payloads — tens of GB at 20k vectors)
    val crossed = broadcast(anchors
        .select(col(idCol).as("__aid"), col(vecCol).as("__av"), col("__n").as("__an")))
      .join(vecs.select(col(idCol).as("__bid"), col(vecCol).as("__bv"), col("__n").as("__bn")),
        col("__aid") =!= col("__bid"))
    Similarity.withCosineHoisted(
        crossed.select(col("__aid"), col("__bid"), col("__av"), col("__bv"),
          col("__an"), col("__bn")),
        "__av", "__bv", "__an", "__bn", Seq("__aid", "__bid"))
      .withColumn("cosine", expr("round(cosine, 6)"))
      .filter(col("cosine") >= threshold)
      .select(
        least(col("__aid"), col("__bid")).as("id_a"),
        greatest(col("__aid"), col("__bid")).as("id_b"),
        col("cosine"))
      .dropDuplicates("id_a", "id_b")
  }
}
