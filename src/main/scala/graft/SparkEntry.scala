package graft

import graft.analyze.Compiler
import graft.exec.{Runner, Runners}
import graft.operators.{Audio, CorpusPipeline, Dedup, Features, Graph, Integrity, Json, Multimodal, Packing, Ranking, Selection, Similarity, Stats, TextAnalysis, Warc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, expr, greatest, least, lit, when}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises operators from SURVEY.md §2 through the
  * full engine pipeline (compile → plan → execute); `oracleSql` is the
  * DuckDB-equivalent over the same parquet tables. Column names are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing). Aggregations over double columns are cast to DECIMAL(38,12)
  * per-element before summing on BOTH sides so results are exact and
  * engine-order-independent.
  */
object SparkEntry {

  private lazy val compiled = new Compiler(SampleProject.project).compile()

  private def runner(sfDir: String): Runner =
    new Runner(compiled, Runners.parquetDir(sfDir))

  /** The runtime YAML project (src/main/resources/runtime_project) routed
    * through YamlLoader — the C1 driver path. Resources are extracted to a
    * temp dir because YamlLoader reads a directory tree.
    */
  private[graft] lazy val yamlCompiled = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_runtime_project")
    RuntimeProject.copyTo(tmp)
    new Compiler(graft.parse.YamlLoader.load(tmp.toString)).compile()
  }

  private def yamlRunner(sfDir: String): Runner =
    new Runner(yamlCompiled, Runners.parquetDir(sfDir))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val _ = spark // session is implicit for DataFrame building
    runner("/root/testdata/sf0.001").output("feature_customer")
  }

  /** One entry per implemented operator group from SURVEY.md §2. */
  /** Deterministic multi-line page for q_c4_rules, built identically in
    * BOTH engines (the q_pii_scrub planted-input discipline: the fixture
    * corpus is single-line with no punctuation, so the raw table would
    * exercise none of the C4 rules). One portable SQL expression —
    * parsed verbatim by Spark and DuckDB — that plants, per doc_id
    * residue class: a kept long sentence, a short line, an
    * unpunctuated line, a javascript line, a policy line, quote/'?'/'!'
    * terminators, a lorem-ipsum page, and a curly-brace page.
    */
  private val c4Page: String =
    """concat(
      |  substr(text, 1, 80), ' part one.', chr(10),
      |  'Too short.', chr(10),
      |  substr(text, 81, 60), chr(10),
      |  CASE doc_id % 3
      |    WHEN 0 THEN 'Please enable javascript to continue reading now.'
      |    WHEN 1 THEN 'This site uses cookies to improve your experience.'
      |    ELSE 'She said it was a really "good read."' END, chr(10),
      |  CASE doc_id % 4
      |    WHEN 0 THEN 'Is this the best part of the corpus?'
      |    WHEN 1 THEN 'What a fine day for data cleaning!'
      |    WHEN 2 THEN concat(substr(text, 141, 40), ' end part two.')
      |    ELSE 'no terminal punctuation on this line at all' END, chr(10),
      |  CASE WHEN doc_id % 11 = 0 THEN 'Lorem ipsum dolor sit amet consectetur.'
      |       ELSE 'A plain closing sentence for the page.' END,
      |  CASE WHEN doc_id % 13 = 0 THEN concat(chr(10), 'function f() { return 42; }')
      |       ELSE '' END)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/P1/P2/P3/P6 + J1/J2/J5/J7 (implicit + explicit paths, reverse hop)
    "q_lineitem_enriched" -> ((_, dir) =>
      runner(dir).hubSelect("tpch_lineitem",
        "l_orderkey", "l_linenumber", "net_price", "net_price_no_returns",
        "c_name", "c_n_name", "r_name", "part_type", "supp_name",
        "order_line_key", "order_ym")),
    // C9 SQL-emission side channel on the driver path: the emitted
    // reference-style SQL (CTE chains + lateral many-joins) EXECUTES via
    // spark.sql over hub temp views in topo order, and its result is
    // value-matched against the same oracle as the planner form
    // (q_lineitem_enriched) — the two code paths must agree cell-for-cell
    "q_lineitem_enriched_sql" -> ((s, dir) => {
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
        .foreach { t =>
          graft.core.Parquet.read(s, s"$dir/$t.parquet").createOrReplaceTempView(t)
        }
      val em = new graft.exec.SqlEmitter(compiled)
      val sqls = compiled.sources.map(cs =>
        cs.source.name ->
          em.sourceSql(cs.source.name, src => src.sourceTable))
      // hubs CONSUMED by a downstream source's SQL (inter-source scans)
      val consumed = sqls.map(_._1).filter(n =>
        sqls.exists { case (m, sql) => m != n && sql.contains(em.hubRef(n)) })
        .toSet
      // localCheckpoint CONSUMED hubs only: an RDD-backed view means
      // downstream hub SQL never sees nested CTE chains — Spark's
      // InlineCTE pass miscompiles deeply nested CTE+lateral trees
      // (PLAN_VALIDATION_FAILED_RULE_IN_BATCH "resolved became
      // unresolved"; deterministic in a pristine JVM, masked after
      // unrelated plans execute — SqlEmitterSpec's sub-JVM canary).
      // Also matches the reference's materialized-hub contract between
      // source queries. LEAF hubs (nothing downstream reads them — the
      // big fact hub, typically) stay lazy: their single CTE chain
      // nests nowhere, and eagerly materializing the corpus-sized
      // enriched fact just to select from it once is the kind of
      // wall that grows with data (measured 4x for 10x at sf1).
      //
      // r16: the eager localCheckpoints are independent blocking jobs
      // WITHIN a dependency level (a hub's SQL only reads hub views of
      // its deps), so each level's checkpoints run from a small pool —
      // concurrent jobs back-fill each other's straggler tails (guide
      // §2.6). Level order keeps every dep's view registered before a
      // dependent's s.sql() parses; results are unchanged.
      val bySource = sqls.toMap
      val deps: Map[String, Seq[String]] = sqls.map { case (name, sql) =>
        name -> sqls.map(_._1).filter(m => m != name &&
          sql.contains(em.hubRef(m)))
      }.toMap
      val depth = scala.collection.mutable.Map.empty[String, Int]
      compiled.sources.map(_.source.name).foreach { n =>
        depth(n) = (deps(n).map(d => depth(d) + 1) :+ 0).max
      }
      sqls.map(_._1).groupBy(depth).toSeq.sortBy(_._1).foreach { case (_, lvl) =>
        val (eager, lazyHubs) = lvl.partition(consumed)
        // parse+register serially (cheap, needs dep views), checkpoint
        // concurrently (the expensive blocking jobs)
        val dfs = eager.map(name => name -> s.sql(bySource(name)))
        graft.core.Pool.all("graft-sql-hub", dfs.map { case (name, df) => () =>
          graft.core.Materialize.pin(df, eager = true).createOrReplaceTempView("hub_" + name)
        })
        lazyHubs.foreach { name =>
          s.sql(bySource(name)).createOrReplaceTempView("hub_" + name)
        }
      }
      s.table("hub_tpch_lineitem").select(
        "l_orderkey", "l_linenumber", "net_price", "net_price_no_returns",
        "c_name", "c_n_name", "r_name", "part_type", "supp_name",
        "order_line_key", "order_ym")
    }),
    // J4/A1: M-aggregates over reverse path + scalar lookup
    "q_customer_aggs" -> ((_, dir) =>
      runner(dir).hubSelect("tpch_customer",
        "c_custkey", "order_cnt", "total_spent_cents", "nation_name")),
    // J4/A1: forward 1-M aggregate
    "q_nation_suppliers" -> ((_, dir) =>
      runner(dir).hubSelect("tpch_nation",
        "n_nationkey", "n_name", "supplier_cnt", "supplier_acctbal_cents")),
    // A5: percentile/median/collection/boolean aggregates over an M path.
    // has_open_order is coalesced to FALSE in the COMPARED projection only
    // (both sides): a NULL boolean renders as None via pyarrow but NaN via
    // DuckDB's pandas reader — the same two-reader divergence class as
    // q_part_decimal. The hub keeps the nullable column (reference
    // semantics: empty aggregate → NULL).
    "q_customer_percentiles" -> ((_, dir) =>
      runner(dir).hubSelect("tpch_customer",
        "c_custkey", "median_order", "p25_order", "statuses", "has_open_order")
        .withColumn("has_open_order",
          coalesce(col("has_open_order"), lit(false)))),
    // A4: HLL++ approximate distinct (rows-only: sketch is engine-specific)
    "q_customer_approx" -> ((_, dir) =>
      runner(dir).hubSelect("tpch_customer", "c_custkey", "approx_orders")),
    // A4 accuracy envelope, oracle-backed: the exact per-customer count is
    // value-matched against DuckDB, and the sketch must land within
    // max(4, 30%) of it (measured max deviation across SFs is 3 at
    // rsd=0.05) — a broken sketch fails the gate even though its exact
    // cell values cannot be oracled
    "q_approx_bounds" -> ((_, dir) =>
      runner(dir).hubSelect("tpch_customer",
        "c_custkey", "order_cnt", "approx_orders")
        .select(col("c_custkey"), col("order_cnt"),
          expr("abs(approx_orders - order_cnt) <= " +
            "greatest(4.0, CAST(order_cnt AS DOUBLE) * 0.3)").as("approx_ok"))),
    // Quantile sketch (Greenwald-Khanna via percentile_approx): the
    // mergeable distributed-percentile primitive — exact percentile over
    // 100 TB needs a global sort; the sketch merges per-partition state
    // in one two-phase agg. Raw sketch values are engine-specific
    // (rows-only), so the envelope sibling below carries the gate. The
    // four quantiles are projected to scalar columns (not an ARRAY) so
    // the driver's pandas-based rows-only check can sort the output.
    "q_quantile_sketch" -> ((s, dir) =>
      graft.core.Parquet.read(s, s"$dir/lineitem.parquet")
        .withColumn("price_cents",
          expr("CAST(round(l_extendedprice * 100) AS LONG)"))
        .groupBy("l_returnflag")
        .agg(expr("percentile_approx(price_cents, " +
          "array(0.25D, 0.5D, 0.75D, 0.95D), 10000)").as("__ap"))
        .select(col("l_returnflag"),
          expr("__ap[0]").as("p25_cents"), expr("__ap[1]").as("p50_cents"),
          expr("__ap[2]").as("p75_cents"), expr("__ap[3]").as("p95_cents"))),
    // Sketch accuracy envelope, oracle-backed: the per-group row count is
    // value-matched against DuckDB, and each sketch quantile must land
    // between the EXACT percentiles at p ± 0.01 (the sketch's rank-error
    // bound is 1/accuracy = 1e-4, two orders inside the gate; monotone
    // rank→value makes the exact ±0.01 values a sound envelope)
    "q_quantile_bounds" -> ((s, dir) =>
      graft.core.Parquet.read(s, s"$dir/lineitem.parquet")
        .withColumn("price_cents",
          expr("CAST(round(l_extendedprice * 100) AS LONG)"))
        .groupBy("l_returnflag")
        .agg(
          expr("count(1)").as("n_rows"),
          expr("percentile_approx(price_cents, " +
            "array(0.25D, 0.5D, 0.75D, 0.95D), 10000)").as("__ap"),
          expr("percentile(price_cents, array(0.24D, 0.26D, 0.49D, 0.51D, " +
            "0.74D, 0.76D, 0.94D, 0.96D))").as("__ex"))
        .select(col("l_returnflag"), col("n_rows"),
          expr("__ap[0] >= __ex[0] AND __ap[0] <= __ex[1]").as("p25_ok"),
          expr("__ap[1] >= __ex[2] AND __ap[1] <= __ex[3]").as("p50_ok"),
          expr("__ap[2] >= __ex[4] AND __ap[2] <= __ex[5]").as("p75_ok"),
          expr("__ap[3] >= __ex[6] AND __ap[3] <= __ex[7]").as("p95_ok"))),
    // W1: window rule pass-through
    "q_orders_window" -> ((_, dir) =>
      runner(dir).hubSelect("tpch_orders",
        "o_orderkey", "o_year", "price_rank_in_cust")),
    // ------- runtime YAML project (C1 driver path) -------
    // J3 self-join (1-1 self-relation) + theta J4 (non-equi M-M self
    // aggregate through the deterministic tagged-row fallback)
    "q_self_theta" -> ((_, dir) =>
      yamlRunner(dir).hubSelect("tpch_orders_self",
        "o_orderkey", "self_prio", "n_prior_orders", "prior_spent_cents")),
    // J6 unique-guarded join: only solo-order customers resolve
    "q_solo_order" -> ((_, dir) =>
      yamlRunner(dir).hubSelect("tpch_customer2", "c_custkey", "solo_order_prio")),
    // P5 struct keys in rules (incl. nested struct-in-struct walk)
    "q_struct_keys" -> ((_, dir) =>
      yamlRunner(dir).hubSelect("tpch_events", "event_id", "pk", "meta_k")),
    // P5 struct keys in output mappings
    "q_struct_output" -> ((_, dir) => yamlRunner(dir).output("event_struct")),
    // decimal(38,12) discipline + cast_datatype (decimal, string) + decimal
    // arithmetic through rule-on-rule. The compared columns are the engine's
    // OWN string renderings of the decimal rules (rule-on-rule CAST ...
    // AS STRING in part2.yaml): values proved byte-exact in r2, but DECIMAL
    // cells render differently across the driver's two parquet readers, so
    // the compare serializes deterministically on both sides while the hub
    // keeps the decimal(38,12)-typed columns for TypeProbe.
    "q_part_decimal" -> ((_, dir) =>
      yamlRunner(dir).hubSelect("tpch_part2",
        "p_partkey", "retail_cents_str", "size_str", "retail_x3_str")),

    // P4/A2/S4: filtered aggregate output channel
    "q_feature_customer" -> ((_, dir) => runner(dir).output("feature_customer")),
    // S3 hub materialization on the driver path: the same output computed
    // through DROP/CREATE-style hub parquet round-trips (every hub written
    // and re-read — the reference's hub-table contract and the restartable
    // large-pipeline mode) must be value-identical to the lazy single-DAG
    // plan; oracle = the q_feature_customer SQL
    "q_feature_customer_mat" -> ((_, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_hub_mat").toString
      new Runner(compiled, Runners.parquetDir(dir), materializeDir = Some(tmp))
        .output("feature_customer")
    }),
    // O1/P7: multi-channel UNION ALL with typed null fill
    "q_party_summary" -> ((_, dir) => runner(dir).output("party_summary")),
    // S4/S6 run-path file sink on the driver path: the same output executed
    // through Runner.run's `file` sink (parquet under outDir — the
    // reference's file-output contract) and read back; oracle = the
    // q_party_summary SQL
    "q_party_summary_file" -> ((s, dir) => {
      val fileProj = SampleProject.project.copy(outputs = Seq(
        SampleProject.partySummary.copy(
          outputType = graft.core.OutputType.File("parquet"))))
      val tmp = java.nio.file.Files.createTempDirectory("graft_out_file").toString
      new Runner(new Compiler(fileProj).compile(), Runners.parquetDir(dir)).run(tmp)
      s.read.parquet(s"$tmp/party_summary")
    }),
    // A2/A3: DISTINCT + plain aggregates, min/max
    "q_order_stats" -> ((_, dir) => runner(dir).output("order_stats")),

    // ------- training-data pipeline operators (documents/embeddings) -------
    "q_text_stats" -> ((s, dir) => TextAnalysis.textStats(docs(s, dir))),
    "q_lang_id" -> ((s, dir) => TextAnalysis.langId(docsPar(s, dir))),
    "q_token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(docs(s, dir))),
    "q_quality" -> ((s, dir) => TextAnalysis.qualityScore(docs(s, dir))),
    // Gopher rule gate (Rae et al. 2021 App. A1): measurements + per-rule
    // booleans + keep conjunction, all row-local, mirrored
    // primitive-for-primitive in DuckDB
    "q_gopher_rules" -> ((s, dir) => TextAnalysis.gopherRules(docsPar(s, dir))),
    // C4 rule gate (Raffel et al. 2020 §2.2): line-level rewrite (kept
    // lines → text_clean) + page-level gates, one zero-shuffle codegen
    // projection over the planted multi-line page (c4Page — both sides
    // build the identical page), mirrored primitive-for-primitive in
    // DuckDB
    "q_c4_rules" -> ((s, dir) =>
      TextAnalysis.c4Rules(docs(s, dir).withColumn("text", expr(c4Page)))),
    "q_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir)).select("doc_id", "fp_md5")),
    // PII scrub: the pattern set is Java-regex/RE2-common, so DuckDB
    // mirrors the exact replacement chain (order is part of the contract).
    // The fixture text contains no PII (verified — every doc would scrub
    // to itself, a gate a dead regex also passes), so both sides append
    // the SAME doc_id-derived email/IP/phone tail and the oracle checks
    // the actual redactions.
    "q_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(docsPar(s, dir).withColumn("text", expr(
        "concat(text, ' mail u', CAST(doc_id AS STRING), '@ex.org ip 10.0.'," +
          " CAST(doc_id % 256 AS STRING), '.7 tel 555', " +
          "CAST(1000000 + doc_id AS STRING))")))
        .select("doc_id", "text_scrubbed", "has_pii")),
    // domain provenance stats: same planted-input discipline as
    // q_pii_scrub (the fixture has no URLs) — both sides append a
    // doc_id-derived URL and run the same extraction chain
    "q_domain_stats" -> ((s, dir) =>
      TextAnalysis.domainStats(docs(s, dir).withColumn("text", expr(
        "concat(text, ' see https://Ex', CAST(doc_id % 20 AS STRING)," +
          " '.org/p/', CAST(doc_id AS STRING))")))),
    // URL canonicalization (crawl pre-dedup key): planted-input
    // discipline (the fixture has no URL column) — four doc_id-derived
    // shapes exercise case/port/fragment/tracking/param-sort/empty-path
    // and the non-http NULL route
    "q_url_canon" -> ((s, dir) =>
      TextAnalysis.urlCanonicalize(docs(s, dir).select(col("doc_id"),
        expr("""CASE CAST(doc_id % 4 AS INT)
          |  WHEN 0 THEN concat('HTTP://Ex', CAST(doc_id % 20 AS STRING),
          |    '.ORG:80/P/', CAST(doc_id AS STRING), '?utm_source=feed&b=2&a=1#top')
          |  WHEN 1 THEN concat('https://ex', CAST(doc_id % 20 AS STRING),
          |    '.org/p/', CAST(doc_id AS STRING), '/?gclid=', CAST(doc_id AS STRING),
          |    '&z=9&a=1&a=0')
          |  WHEN 2 THEN concat('HTTPS://EX', CAST(doc_id % 20 AS STRING),
          |    '.org:8443?fbclid=abc&utm_campaign=x')
          |  ELSE concat('ftp://ex', CAST(doc_id AS STRING), '.org/skip')
          |END""".stripMargin).as("url")))
        .select("doc_id", "url", "url_canon", "url_key")),
    // Unicode normalization gate: planted-input discipline (the fixture
    // is pure ASCII) — five doc_id-derived suffixes exercise decomposed
    // accents, the zero-width family, C0 controls + CRLF, precomposed
    // non-ASCII (the NFC no-op path), and untouched text; DuckDB's
    // nfc_normalize (utf8proc) gates text_nfc (java.text.Normalizer)
    // byte-for-byte on Unicode-stable codepoints
    "q_unicode_clean" -> ((s, dir) => {
      val idx = (col("doc_id") % 5).cast("int")
      val sfx = uncleanSuffixes.zipWithIndex.tail
        .foldLeft(when(idx === 0, lit(uncleanSuffixes.head))) {
          case (acc, (u, i)) => acc.when(idx === lit(i), lit(u))
        }
      TextAnalysis.unicodeClean(docs(s, dir).select(col("doc_id"),
          concat(col("text"), sfx).as("text")))
        .select("doc_id", "text_norm", "n_crlf_fixed", "n_zero_width",
          "n_control", "was_denormalized", "changed")
    }),
    // SymSpell fuzzy vocabulary map: planted typos (one hash-derived
    // edit of a frequent base word, ~2000 docs at any scale via the
    // corpus-count-derived modulus — the q_embed_recall_bounds anchor
    // discipline) map back to their canonical form through the
    // deletion-neighborhood join + exact levenshtein verify
    "q_fuzzy_vocab" -> ((s, dir) => {
      val d = docs(s, dir)
      val m = math.max(1L, d.count() / 2000L)
      val planted = d
        .withColumn("__h", expr("md5(concat('fz', CAST(doc_id AS STRING)))"))
        .withColumn("__hv", expr(FuzzyTypo.hex6))
        .withColumn("__base", expr(FuzzyTypo.base))
        .withColumn("__op", expr(FuzzyTypo.op("DIV")))
        .withColumn("__pos", expr(FuzzyTypo.pos("DIV")))
        .withColumn("__letter", expr(FuzzyTypo.letter("DIV")))
        .withColumn("__typo", expr(FuzzyTypo.typo))
        .withColumn("text", expr(
          s"CASE WHEN doc_id % $m = 0 THEN concat(text, ' ', __typo) ELSE text END"))
        .select("doc_id", "text")
      TextAnalysis.fuzzyVocabMap(planted)
    }),
    // corpus-level curation ops: vocabulary, salient terms, repetition
    // quality signals, data-mix report, stratified mixing
    "q_vocabulary" -> ((s, dir) => TextAnalysis.vocabulary(docs(s, dir))),
    // heavy-hitter tokens: the emitted relation is the EXACT set (integer
    // threshold arithmetic, fully hash-gated); `covered` gates the
    // bounded-state freqItems sketch's no-false-negatives guarantee
    // in-plan (the q_approx_bounds envelope pattern). invSupport=60 puts
    // the sf fixtures' threshold inside the token-count range.
    "q_heavy_hitters" -> ((s, dir) =>
      Stats.heavyHitters(TextAnalysis.tokenPairs(docs(s, dir)), "token", 60L)),
    // Count-Min-Sketch envelope: exact hitter counts hash-gated, each
    // CMS estimate asserted inside [cnt, cnt + ceil(eps*N)] in-plan
    "q_cms_bounds" -> ((s, dir) =>
      Stats.cmsBounds(TextAnalysis.tokenPairs(docs(s, dir)), "token", 60L)),
    // per-dimension embedding stats in exact fixed point: micro-unit
    // sums/sums-of-squares in DECIMAL(38,0) (a double sum over 1e11
    // floats is partitioning-dependent; these are not), mean derived by
    // identical double arithmetic in both engines
    // DECIMAL(38,0) moments render as VARCHAR for the harness (the
    // q_part_decimal *_str discipline): sumsq exceeds BIGINT past ~1e11
    // vectors, so the exact value crosses the gate as digits, not as a
    // lossy double.
    "q_embed_dim_stats" -> ((s, dir) =>
      Stats.embeddingDimStats(embeds(s, dir)).selectExpr(
        "dim", "n",
        "CAST(sum_micro AS STRING) AS sum_micro_str",
        "CAST(sumsq_micro AS STRING) AS sumsq_micro_str",
        "min_micro", "max_micro", "mean")),
    // grouped Pearson correlation from exact DECIMAL moments — corr()
    // built-ins sum doubles in partition order and are not reproducible;
    // the five integer moments are, and r derives from them in lockstep
    // double arithmetic (see Stats.groupedCorrelation)
    // The five exact moments cross the gate as VARCHAR digits (sum_yy
    // overflows BIGINT past ~sf0.1); r stays a lockstep-derived double.
    "q_grouped_corr" -> ((s, dir) =>
      Stats.groupedCorrelation(
        graft.core.Parquet.read(s, s"$dir/lineitem.parquet"),
        Seq("l_returnflag"),
        "CAST(round(l_quantity * 100) AS LONG)",
        "CAST(round(l_extendedprice * 100) AS LONG)").selectExpr(
        "l_returnflag", "n",
        "CAST(sum_x AS STRING) AS sum_x_str",
        "CAST(sum_y AS STRING) AS sum_y_str",
        "CAST(sum_xx AS STRING) AS sum_xx_str",
        "CAST(sum_yy AS STRING) AS sum_yy_str",
        "CAST(sum_xy AS STRING) AS sum_xy_str",
        "corr")),
    // per-user rolling event-time features: trailing-hour count/sum in
    // exact cents, previous-value lag, inter-event gap in micros — the
    // RANGE frame orders by ts alone (peers included ⇒ tie-deterministic),
    // the lag window by (ts, event_id) (total order); both share one
    // user-key shuffle (see Features.rollingEventFeatures)
    "q_rolling_features" -> ((s, dir) =>
      Features.rollingEventFeatures(events(s, dir), windowSecs = 3600L)),
    // categorical drift between the even/odd doc_id halves over `source`:
    // exact per-key counts + a lockstep-derived chi-square contribution
    // (the two halves of one fixture are a null-hypothesis pair — the
    // oracle gates the arithmetic, not a planted drift)
    "q_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      Stats.categoricalDrift(
        d.filter(expr("doc_id % 2 = 0")),
        d.filter(expr("doc_id % 2 = 1")), "source")
    }),
    // numeric drift: baseline-decile bins (histogram-side cumBefore, no
    // corpus window) broadcast to both slices, chi-square per bin; the
    // +20 shift on the current slice makes the drift signal real
    "q_numeric_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      Stats.numericDrift(
        d.filter(expr("doc_id % 2 = 0")),
        d.filter(expr("doc_id % 2 = 1"))
          .withColumn("n_chars", col("n_chars") + lit(20L)),
        "n_chars", 10)
    }),
    // robust per-language length outliers: median/MAD double histogram
    // pass, all-integer k·MAD cut. The fixture's length distribution is
    // light-tailed (zero rows clear 3·MAD), so every %211th doc gets a
    // planted +5000 spike — the cut must flag exactly the spikes while
    // the medians stay anchored by the 210/211 clean mass (the
    // robustness property under test)
    "q_mad_outliers" -> ((s, dir) =>
      Stats.madOutliers(
        docs(s, dir).withColumn("n_chars",
          expr("n_chars + CASE WHEN doc_id % 211 = 0 THEN 5000 ELSE 0 END")),
        Seq("lang"), "n_chars", "doc_id", k = 5L)),
    // quality-threshold filter: keep the top 20% of documents by n_chars,
    // ties included — cutoff selected on the score histogram, the corpus
    // itself never sorted or windowed (see Stats.topFraction)
    "q_top_fraction" -> ((s, dir) =>
      Stats.topFraction(docs(s, dir).select(col("doc_id"), col("n_chars")),
        "n_chars", 0.2).select("doc_id", "n_chars")),
    // best-3-per-source ranking via the salted two-phase form (salts=4
    // exercises BOTH phases on the fixture — phase-1 buckets actually
    // split the groups); ties broken by doc_id ⇒ deterministic set
    "q_top_per_group" -> ((s, dir) =>
      Ranking.topKPerGroup(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), "n_chars", "doc_id", k = 3, salts = 4)
        .selectExpr("source", "doc_id", "n_chars", "rank AS rnk")),
    // weekly retention cohorts: exact integer weeks, one user-key
    // aggregation carrying cohort + distinct active weeks together —
    // no join, no window (see Features.retentionCohorts)
    "q_retention" -> ((s, dir) =>
      Features.retentionCohorts(events(s, dir))),
    // ordered view→click→purchase conversion: greedy-earliest chain,
    // strict-> stage advance, every join/agg on one user-key
    // partitioning (see Features.funnel)
    "q_funnel" -> ((s, dir) =>
      Features.funnel(events(s, dir), Seq("view", "click", "purchase"))),
    // per-label centroids in exact micro fixed point; sums cross the
    // gate as VARCHAR digits (the q_embed_dim_stats discipline)
    "q_label_centroids" -> ((s, dir) =>
      Stats.labelCentroids(embeds(s, dir)).selectExpr(
        "label", "dim", "n",
        "CAST(sum_micro AS STRING) AS sum_micro_str", "centroid")),
    // headMinDf/headMinTf below are joinTokenTotals' frequency-routing
    // knob (broadcast head vs shuffled tail) — it never changes answers.
    // 10 splits the sf0.01 fixture vocabulary, so the oracle exercises
    // BOTH routing paths, not just the all-tail degenerate plan.
    "q_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(docs(s, dir), k = 5, headMinDf = 10L)),
    "q_repetition" -> ((s, dir) => TextAnalysis.repetitionStats(docs(s, dir))),
    // unigram surprise: tf-weighted mean inverse token probability,
    // integer-microunit quantized before summation so both engines do
    // exact integer aggregation (ln is banned from compared values —
    // libm last-ulp divergence; see TextAnalysis.unigramSurprise)
    "q_surprise" -> ((s, dir) =>
      TextAnalysis.unigramSurprise(docs(s, dir), headMinTf = 10L)),
    "q_mix_report" -> ((s, dir) => TextAnalysis.mixReport(docs(s, dir))),
    // ROLLUP hierarchy in ONE pass — level = grouping_id bitmask, the
    // disambiguator between subtotal rows and genuine NULL group values
    "q_mix_rollup" -> ((s, dir) => TextAnalysis.mixRollup(docs(s, dir))),
    // deterministic hash-threshold stratified sample — DuckDB computes the
    // identical md5-bucket arithmetic, so the selected row SET is the
    // oracle (seeded Bernoulli `stratifiedSample` remains the fast
    // engine-specific sibling, spec-covered)
    "q_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSampleHash(docs(s, dir), "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25, "zh" -> 0.1))
        .select("doc_id", "lang")),
    // deterministic content-hash split assignment (train/val/test)
    "q_split" -> ((s, dir) =>
      TextAnalysis.assignSplit(docs(s, dir),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")),
    // weight-proportional deterministic sample (P ∝ n_chars, all-integer
    // bucket·W_total < 65536·target·w comparison, W_total broadcast)
    "q_weighted_sample" -> ((s, dir) =>
      TextAnalysis.weightedSampleHash(docs(s, dir), "n_chars", 300L)),
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    // line-level boilerplate dedup (RefinedWeb/CCNet pass): the fixture
    // has no newlines, so both engines plant the same deterministic
    // footer lines (every doc gets one of 3 shared footers; every 250th
    // doc an extra low-frequency pair line) — same planted-input
    // discipline as q_pii_scrub/q_domain_stats. headMinDf=10 routes the
    // shared footers via the broadcast head and the pair line via the
    // mid-range join, so BOTH paths are oracle-exercised.
    "q_line_dedup" -> ((s, dir) =>
      Dedup.lineDedup(
        docs(s, dir).withColumn("text", expr(
          "concat(text, chr(10), 'SHARED FOOTER ', CAST(doc_id % 3 AS STRING)," +
            " CASE WHEN doc_id % 250 = 0 THEN concat(chr(10), 'PAIR LINE')" +
            " ELSE '' END)")),
        minDocFreq = 2, headMinDf = 10L)),
    // token-length histogram (sequence-length planning input)
    "q_token_histogram" -> ((s, dir) =>
      TextAnalysis.tokenLengthHistogram(docs(s, dir), bucketSize = 16)),
    // BM25 keyword retrieval: per-term tf/df/dl feed the Okapi formula
    // with rational idf (ln banned from compared values) and integer-
    // micro-unit per-term quantization before the cross-term sum — the
    // oracle runs the identical arithmetic. Terms from the fixture
    // vocabulary so tf and length normalization actually discriminate.
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Rank(docsPar(s, dir), Seq("vector", "hash", "spark"),
        k = 100)),
    // bigram surprise: mean inverse conditional bigram probability,
    // micro-quantized like q_surprise; headMin=10 splits the sf0.01
    // bigram/prefix frequency ranges so BOTH frequency-routed paths of
    // BOTH total joins are oracle-exercised
    "q_bigram_surprise" -> ((s, dir) =>
      TextAnalysis.bigramSurprise(docs(s, dir), headMin = 10L)),
    // windowed PMI collocations: per-row pair fan-out (≤ window), one
    // pair aggregation, vocab-level marginals joined back; the PMI ratio
    // crosses the gate ln-free in micro-units
    "q_pmi" -> ((s, dir) =>
      TextAnalysis.pmiCooccurrence(docs(s, dir), window = 3,
        minPairCount = 5L)),
    // winnowing (MOSS) fingerprints: codegen rolling-hash Expression,
    // integer arithmetic mirrored exactly in the DuckDB oracle
    // (k=20 chars, w=16 — fixture-sparse, see winnowPairs density)
    "q_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), k = 20, w = 16)),
    // substring-overlap pairs over those fingerprints (hot-fp anti-join
    // cap at 100 docs; >= 3 shared fingerprints)
    "q_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(docs(s, dir), k = 20, w = 16, minShared = 3,
        maxFpFreq = 100)),
    // exact repeated-substring removal spans (ExactSubstr, Lee et al.
    // 2022): every position whose 40-gram occurs more than once in the
    // corpus is covered; covered chars merge to per-doc maximal spans.
    // Hash-prefilter + exact-gram confirm engine-side; the oracle
    // re-derives the identical relation with direct gram grouping
    "q_substring_dedup" -> ((s, dir) =>
      Dedup.repeatedSubstringSpans(docs(s, dir), minLen = 40)),
    // document chunking: fixed 32-token windows with 4-token overlap
    // (stride 28) — chunk boundaries, coverage, and rejoined chunk text
    // are all deterministic token arithmetic both engines share
    "q_chunk" -> ((s, dir) =>
      Packing.chunkDocuments(docs(s, dir), maxTokens = 32, overlap = 4)),
    // true BPE token counting: rank-ordered merge table applied per word,
    // both expression chains generated from TextAnalysis.defaultBpeMerges
    "q_bpe_tokens" -> ((s, dir) =>
      TextAnalysis.bpeTokenCounts(docsPar(s, dir))),
    // real-scale table: 150 rules (75 corpus-trained + deterministic
    // compounds to the DuckDB chain-parse ceiling) through the BpeEncode
    // array-speed expression; the oracle runs the same table as 150
    // generated nested replaces
    "q_bpe_tokens_large" -> ((s, dir) =>
      TextAnalysis.bpeTokenCounts(docsPar(s, dir),
        TextAnalysis.largeBpeMerges)),
    // GPT-2 pre-tokenization (Radford et al. 2019) ahead of the same
    // 150-rule merge chain: contractions / space-prefixed letter, digit
    // and punctuation runs / whitespace runs — the lookahead-free
    // sentinel formulation proven token-identical to the paper regex in
    // Gpt2SplitPropSpec; punctuation-adjacent words (don't, co-op) are
    // PRICED here where the whitespace row drops them
    "q_bpe_tokens_gpt2" -> ((s, dir) =>
      TextAnalysis.bpeTokenCountsGpt2(
        TextAnalysis.syntheticTextMultiFromDocs(docsPar(s, dir)))),
    // one BPE TRAINING step mid-table (4 merges learned): weighted
    // adjacent-pair counts over the word-frequency table, top-25
    // candidates — the argmax is the next merge rule
    "q_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMergeCandidates(docs(s, dir),
        TextAnalysis.defaultBpeMerges.take(4), topN = 25)),
    // piece vocabulary under the tokenizer (the BPE family's INSPECT
    // leg): one row per distinct post-merge piece with corpus frequency
    "q_bpe_pieces" -> ((s, dir) =>
      TextAnalysis.bpePieceCounts(docs(s, dir))),
    // trigram repetition (Gopher/RefinedWeb duplicate-n-gram filter):
    // n=3 exercises the generalized lambda-free n-gram build, not just
    // the bigram case the surprise query covers
    "q_trigram_repetition" -> ((s, dir) =>
      TextAnalysis.ngramRepetition(docs(s, dir), n = 3)),
    // target-mix resampling: per-stratum keep thresholds derived in-plan
    // from corpus counts + target weights (bottleneck stratum keeps all
    // rows); row selection is the deterministic md5-bucket filter, so
    // the kept SET is the oracle. zh is deliberately untargeted (dropped).
    "q_mix_resample" -> ((s, dir) =>
      TextAnalysis.mixResample(docs(s, dir), "lang",
        Seq("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2))
        .select("doc_id", "lang")),
    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // multinomials, target = lang 'en', per-bucket log-ratio micro-
    // quantized so the per-doc sum is exact fixed-point (cross-engine
    // hash-gated end to end; the only ln runs once per bucket)
    "q_dsir_weights" -> ((s, dir) =>
      Selection.dsirWeights(docs(s, dir), col("lang") === "en")),
    // Naive-Bayes quality classifier (fastText/CCNet companion): target-
    // vs-rest class multinomials + doc-count prior over the SAME hashed-
    // gram exchange as DSIR, exact-integer fit, per-bucket micro-
    // quantized llr — fully hash-gated via the XXH64 mirror
    "q_nb_quality" -> ((s, dir) =>
      Selection.nbQuality(docs(s, dir), col("lang") === "en")),
    // Kneser-Ney trigram cross-entropy (CCNet quality filter shape):
    // LM fitted on the lang='en' slice, every doc scored; the only ln
    // runs per trigram TYPE, micro-quantized (DSIR discipline); string
    // keys end-to-end, so the oracle mirrors counts exactly
    "q_kn_perplexity" -> ((s, dir) =>
      TextAnalysis.knPerplexity(docs(s, dir), col("lang") === "en")),
    // DSIR Gumbel top-k resample: fixed selection budget, deterministic
    // md5-bucket uniform — the selected SET and perturbed keys are the
    // oracle
    "q_dsir_sample" -> ((s, dir) =>
      Selection.dsirSample(docs(s, dir), col("lang") === "en", k = 1000)),
    // token-budget selection: keep docs in global (score DESC, md5 tie)
    // order until 1/10 of the corpus token total is spent — the
    // distributed two-pass prefix sum vs the oracle's window cumsum;
    // the kept set AND every inclusive prefix value are hash-gated
    "q_token_budget" -> ((s, dir) => {
      val withTok = docs(s, dir).select(col("doc_id"),
        col("n_chars").as("score"),
        expr("size(filter(split(lower(text), ' +'), x -> x != ''))")
          .cast("long").as("n_tokens"))
      val total = withTok.agg(org.apache.spark.sql.functions.sum("n_tokens"))
        .head.getLong(0)
      Selection.tokenBudgetSelect(withTok, "score", "n_tokens", total / 10L)
    }),
    // engine-portable packing invariants (bin IDS are partition-local by
    // design — the conserved aggregates + FFD guarantees are the
    // oracle-able face; row-level packing is spec-covered)
    "q_pack_invariants" -> ((s, dir) =>
      graft.operators.Packing.packingInvariants(docs(s, dir), capacity = 256)),
    // SemDeDup keep/drop decisions vs the DuckDB global brute force: a
    // vector is dropped iff a smaller-id near-duplicate shares its KMeans
    // cell; the global criterion (any smaller-id near-duplicate) coincides
    // whenever clustering splits no duplicate pair — on this corpus the
    // oracle itself proves there are no cosine≥0.9 pairs at all, so the
    // two criteria agree exactly and the full (vec_id, is_kept) relation
    // is oracle-checked
    // reuses the memoized IVF coarse clustering (identical KMeans params):
    // one fit serves both ANN probes and semantic dedup
    // multi-probe (r10): each vector joins its 3 nearest cells, so
    // near-pairs straddling a cell boundary — the one recall loss of
    // cell-local SemDeDup, 16/20000 rows at sf1 — are caught; measured
    // exact-equal to the global brute-force oracle at every tested SF
    // (0.001/0.01/0.1/1). The contract stays one-sided approximate: a
    // pair beyond all probed cells would reopen the named-exclusion
    // discipline, never over-drop.
    // probes = 12 is LOAD-BEARING for exactness even on spherical cells
    // (measured: probes=4 misses 1 pair at sf1; 6 misses 7 at sf3; 8
    // misses 3 at sf3) — the cost lever is the shared index's
    // targetOccupancy instead (candidate volume = occupancy × probes ×
    // n, and halving occupancy RAISES the covered cell fraction).
    "q_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedupProbed(ivfIndex(s, dir), probes = 12, threshold = 0.9)),
    // composed cleaning recipe: dedup + quality floor + language filter
    "q_clean_corpus" -> ((s, dir) => CorpusPipeline.clean(docsPar(s, dir, pinned = true))),
    // near-dup-aware cleaning: only near-dup-component canonicals survive
    // (MinHash closure; oracle = WITH RECURSIVE over the exact pairs,
    // valid because the pair sets are value-equal — see q_minhash_pairs)
    "q_clean_neardup" -> ((s, dir) => CorpusPipeline.cleanNearDup(docsPar(s, dir, pinned = true))),
    // FULL curation chain in one row: Gopher+C4 gates on the planted
    // page (gates read the rendered page; dedup/selection read the raw
    // body — the standard crawl split), exact-dup canonical, MinHash
    // components + canonical keeper, DSIR Gumbel top-k. One hash gate
    // pins every stage: any drift changes the selected set or its keys.
    "q_curate_corpus" -> ((s, dir) =>
      CorpusPipeline.curate(
        docsPar(s, dir, pinned = true).withColumn("__page", expr(c4Page)),
        col("lang") === "en", k = 100, gateTextCol = "__page")),
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), threshold = 0.5)),
    // incremental dedup: an incoming batch (doc_id < 100) against the
    // already-ingested corpus (doc_id >= 100) — bipartite MinHash with
    // exact-Jaccard verification; the exact bipartite inverted index is
    // the oracle (same sibling relationship as q_minhash_pairs)
    "q_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashPairsAgainst(
        d.filter(col("doc_id") >= 100), d.filter(col("doc_id") < 100),
        threshold = 0.5)
    }),
    // benchmark decontamination: corpus docs sharing n-grams with a probe
    // set (first 25 docs standing in for an eval benchmark)
    "q_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.ngramContamination(d, d.filter(col("doc_id") < 25), minOverlap = 3)
        .filter(col("doc_id") =!= col("probe_id"))
    }),
    // hash-membership-prefiltered decontamination (the 100 TB variant):
    // a broadcast of DISTINCT 22-bit shingle hashes prunes the corpus
    // index with long compares before any string join; the exact-confirm
    // pass makes the result IDENTICAL to q_contamination, so the exact
    // form's SQL is the oracle (zero false negatives by construction)
    "q_contamination_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.ngramContaminationPrefiltered(
        d, d.filter(col("doc_id") < 25), minOverlap = 3)
        .filter(col("doc_id") =!= col("probe_id"))
    }),
    // leakage-safe split: near-dup components decide the split, so two
    // near-duplicates can never straddle the train/test fence; same
    // MinHash edge generator (oracle-proven value-equal to exact pairs)
    // and same md5-bucket CASE as q_split, keyed on component_id
    "q_split_leakage" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.splitByComponent(d,
        Dedup.minhashPairs(d, threshold = 0.5)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    }),
    // equi-depth quality deciles from the score histogram — no corpus
    // ntile window; ties share a bin so the result is a deterministic
    // SET (see Stats.quantileBins)
    "q_quality_bins" -> ((s, dir) =>
      Stats.quantileBins(docs(s, dir).select(col("doc_id"), col("n_chars")),
        "n_chars", 10).select("doc_id", "n_chars", "bin")),
    // deterministic 5-per-source inspection sample by md5 bucket, salted
    // two-phase ranking underneath (salts=4 exercises both phases)
    "q_group_sample" -> ((s, dir) =>
      Ranking.hashSamplePerGroup(
        docs(s, dir).select(col("doc_id"), col("source")),
        Seq("source"), "doc_id", k = 5, salts = 4)
        .selectExpr("source", "doc_id", "rank AS rnk")),
    // quality-canonical dedup: per near-dup component keep the
    // highest-n_chars member (doc_id tie-break) — winner via the salted
    // two-phase ranking, MinHash edges (oracle-proven value-equal to
    // exact pairs), recursive-CTE + window oracle
    "q_dedup_quality" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.canonicalByQuality(d,
        Dedup.minhashPairs(d, threshold = 0.5)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
        "n_chars", salts = 4)
    }),
    // first-order event-type transition counts (the Markov matrix of
    // user paths): lead over the total (ts, event_id) order per user,
    // one user-key exchange + one bounded-key aggregate
    "q_event_transitions" -> ((s, dir) =>
      Features.eventTransitions(events(s, dir))),
    // signed random projection to 8 integer components: sign matrix is
    // compile-time literals (md5 parity per cell), micro-quantized
    // before summation so both engines do exact BIGINT arithmetic; the
    // oracle inlines the identical matrix as VALUES
    "q_random_projection" -> ((s, dir) =>
      Similarity.randomProject(embeds(s, dir), inDim = 64, outDim = 8)),
    // exact per-language lower median of document length, computed on
    // per-group score histograms (see Stats.groupedMedian)
    "q_grouped_median" -> ((s, dir) =>
      Stats.groupedMedian(docs(s, dir).select(col("lang"), col("n_chars")),
        Seq("lang"), "n_chars")),
    // snapshot diff between two derived corpus states: old drops
    // doc_id%10==3 and appends ' LEGACY' to every 7th text; new drops
    // doc_id%10==7 — exercises all four statuses deterministically
    "q_corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val old = d.filter(expr("doc_id % 10 != 3"))
        .withColumn("text", expr(
          "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' LEGACY') ELSE text END"))
      val cur = d.filter(expr("doc_id % 10 != 7"))
      CorpusPipeline.snapshotDiff(old, cur)
    }),
    // CDC apply: a change log derived deterministically from the corpus —
    // upserts (%5, seq 2), deletes (%7, seq 3; the %35 overlap proves
    // last-writer-wins resolution), inserts (%13, fresh ids, seq 1) —
    // folded into the base snapshot with one agg + one full-outer join
    "q_cdc_merge" -> ((s, dir) => {
      val d = docs(s, dir)
      CorpusPipeline.applyChanges(d,
        cdcWaves(d).map(_.drop("ts")).reduce(_.unionAll(_)))
    }),
    // Streaming CDC twin (VERDICT r9 #5): the SAME change waves replay as
    // one micro-batch each — deliberately OUT of seq order (seq 2, 3,
    // then 1) so the retained-state winner comparison is what keeps the
    // stale seq-1 wave from winning — through the watermarked
    // last-writer-wins upsert (Events.applyChangesStream); the emitted
    // compaction frames are folded to the final per-id frame and applied
    // to the base with the shared mergeWinners, so the row value-matches
    // the batch q_cdc_merge oracle exactly.
    "q_cdc_merge_stream" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = stagedCdcDirs.computeIfAbsent(dir, { _ =>
        val sentinel = s.sql(
          "SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS seq, " +
            "'__close' AS op, CAST(NULL AS STRING) AS text, " +
            "timestamp_seconds(1704067200 + 864000) AS ts")
        graft.streaming.Events.stageChunkedStream(cdcWaves(d) :+ sentinel)
      })
      val schema = graft.core.Parquet.schema(s, staged)
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val winners = graft.streaming.Events.runAvailableNow(s,
        graft.streaming.Events.applyChangesStream(s, stream), complete = false)
      val fin = winners.groupBy("doc_id")
        .agg(expr("max(struct(seq AS s, op AS o, text AS t))").as("__w"))
        .select(col("doc_id"), col("__w.o").as("__op"), col("__w.t").as("__new"))
      CorpusPipeline.mergeWinners(d, fin)
    }),
    // SCD type-2 history from a 4-wave change log (base load, %5 upserts,
    // %7 deletes, %10 re-upserts): every upsert version gets its validity
    // interval from ONE lead window over the id key; the %35 overlap
    // proves delete-closes-interval, the %70 overlap proves
    // re-insert-after-delete opens a NEW current version
    "q_scd2" -> ((s, dir) =>
      CorpusPipeline.scd2History(
        scd2Waves(docs(s, dir)).map(_.drop("ts")).reduce(_.unionAll(_)))),
    // Streaming SCD2 twin: the SAME 4-wave log replays one micro-batch
    // per wave, deliberately OUT of seq order (2, 1, 4, 3) — the
    // quiescence-epoch sort is what restores the version timeline — and
    // the emitted frames fold (closed-beats-open per (id, valid_from))
    // to exactly the batch history, so the q_scd2 oracle serves both.
    "q_scd2_stream" -> ((s, dir) => {
      val d = docs(s, dir)
      val staged = stagedScd2Dirs.computeIfAbsent(dir, { _ =>
        val waves = scd2Waves(d)
        val sentinel = s.sql(
          "SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS seq, " +
            "'__close' AS op, CAST(NULL AS STRING) AS text, " +
            "timestamp_seconds(1704067200 + 864000) AS ts")
        graft.streaming.Events.stageChunkedStream(
          Seq(waves(1), waves(0), waves(3), waves(2), sentinel))
      })
      val schema = graft.core.Parquet.schema(s, staged)
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val frames = graft.streaming.Events.runAvailableNow(s,
        graft.streaming.Events.scd2HistoryStream(s, stream), complete = false)
      frames.groupBy("doc_id", "valid_from_seq")
        .agg(expr("max(struct(valid_to_seq IS NOT NULL AS closed, " +
          "valid_to_seq, text, is_current))").as("__f"))
        .select(col("doc_id"), col("__f.text").as("text"),
          col("valid_from_seq"), col("__f.valid_to_seq").as("valid_to_seq"),
          col("__f.is_current").as("is_current"))
    }),
    // prefix-filtered exact Jaccard (AllPairs/PPJoin): the oracle is the
    // UNCAPPED quadratic inverted self-join — the prefix filter must lose
    // NOTHING at the threshold for this row to stay hash-green
    "q_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPrefixPairs(docs(s, dir), threshold = 0.7,
        verifyPar = floorPar(s, dir))),
    // referential-integrity audit over every star-schema edge; orphan
    // columns are zero on a consistent warehouse (that's the assertion),
    // unreferenced_parent_keys is the non-trivial coverage signal
    "q_ri_audit" -> ((s, dir) => {
      def t(n: String) = graft.core.Parquet.read(s, s"$dir/$n.parquet")
      Integrity.audit(Seq(
        (t("orders"), "o_custkey", t("customer"), "c_custkey",
          "orders->customer"),
        (t("lineitem"), "l_orderkey", t("orders"), "o_orderkey",
          "lineitem->orders"),
        (t("lineitem"), "l_partkey", t("part"), "p_partkey",
          "lineitem->part"),
        (t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey",
          "lineitem->supplier"),
        (events(s, dir), "user_id", t("customer"), "c_custkey",
          "events->customer")))
    }),
    // key-uniqueness audit (the join-fan-out dual of q_ri_audit) over
    // every declared key, a composite key, and — deliberately — a
    // NON-unique column (events.user_id) so the dup columns are live
    "q_pk_audit" -> ((s, dir) => {
      def t(n: String) = graft.core.Parquet.read(s, s"$dir/$n.parquet")
      Integrity.pkAuditAll(Seq(
        (t("orders"), Seq("o_orderkey"), "orders(o_orderkey)"),
        (t("customer"), Seq("c_custkey"), "customer(c_custkey)"),
        (t("lineitem"), Seq("l_orderkey", "l_linenumber"),
          "lineitem(l_orderkey,l_linenumber)"),
        (docs(s, dir), Seq("doc_id"), "documents(doc_id)"),
        (events(s, dir), Seq("event_id"), "events(event_id)"),
        (events(s, dir), Seq("user_id"), "events(user_id)")))
    }),
    // join-key skew pre-flight over three differently-shaped keys: the
    // frequency-histogram Gini/p99/top-share numbers that pick between
    // plain hash join, AQE skew split, salting, and hot-set caps
    "q_skew_audit" -> ((s, dir) => {
      def t(n: String) = graft.core.Parquet.read(s, s"$dir/$n.parquet")
      Integrity.skewAuditAll(Seq(
        (events(s, dir), Seq("user_id"), "events(user_id)"),
        (t("lineitem"), Seq("l_orderkey"), "lineitem(l_orderkey)"),
        (t("orders"), Seq("o_custkey"), "orders(o_custkey)")))
    }),
    // project-level relation audit: the YAML-declared relation expressions
    // themselves drive the joins (rendered exactly as the planner renders
    // them) — unmatched lookups and *-1 fan-out violations per relation
    // r16: pruned hubs — the audit joins bind relation KEY columns only,
    // so the provider plans just those rules instead of the full enriched
    // hub join tree once per relation (identical counts, oracle-gated)
    "q_relation_audit" -> ((_, dir) =>
      graft.exec.RelationAudit.auditPruned(compiled, runner(dir))),
    // ANALYZE-style column profile: per-column row/null/ndv/min/max from
    // ONE aggregation over ONE scan per relation (exact ndv here — the
    // oracle baseline; approx_count_distinct is the no-Expand scale
    // path, rsd-gated in ProfileSpec); int/string columns only so
    // min/max strings render identically cross-engine
    "q_profile" -> ((s, dir) => {
      def t(n: String) = graft.core.Parquet.read(s, s"$dir/$n.parquet")
      Stats.profile(t("orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        "orders")
        .unionAll(Stats.profile(docs(s, dir),
          Seq("doc_id", "lang", "source", "n_chars"), "documents"))
    }),
    // 2-D Z-order (Morton) key over (user_id, epoch-hour): the codegen
    // bit-interleave expression behind Layout.zOrderLayout, hash-gated
    // against DuckDB running the identical five spread steps; the layout
    // itself (range-partition + sort by this key) is pinned in LayoutSpec
    "q_zorder" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      events(s, dir).selectExpr("event_id",
        "zorder2(user_id, unix_micros(ts) DIV 3600000000) AS z")
    }),
    // transitive duplicate groups, with MinHash-LSH as the edge generator —
    // the documented default/scale path (bounded fan-out); its pair set is
    // value-equal to the exact inverted-index sibling (oracle-proven by
    // q_minhash_pairs), so the WITH RECURSIVE closure over exact pairs
    // remains the oracle
    "q_dup_components" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.components(
        d.select(col("doc_id").as("id")),
        Dedup.minhashPairs(d, threshold = 0.5)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
    }),
    // PageRank centrality over the same dup graph: 3 iterations of
    // all-integer damped rank flow — join + agg per round, no GraphX;
    // template hubs outrank cluster members (see Graph.pageRank)
    "q_pagerank" -> ((s, dir) => {
      val d = docs(s, dir)
      Graph.pageRank(
        d.select(col("doc_id").as("id")),
        Dedup.minhashPairs(d, threshold = 0.5)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
        iterations = 3)
    }),
    // MinHash-LSH verified pairs: every candidate is verified with EXACT
    // Jaccard, so precision is 1 by construction, and at these banding
    // parameters recall over this corpus is total — the exact inverted-
    // index sibling's pair set (incl. jaccard values) IS the oracle. A
    // recall miss would surface as a hash-fail, which is precisely the
    // regression this row guards against. Premise: the exact sibling's
    // intersection is counted over the freq-capped index while MinHash
    // verifies over full sets; they coincide unless a qualifying pair
    // shares a >cap-hot shingle (none in these corpora — this row itself
    // gates that premise; see Dedup.verifyJaccard scaladoc).
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(docs(s, dir), threshold = 0.5)),
    // fully hash-gated since r10: the 64-bit XXH64 signature fold is
    // integer arithmetic end to end, so [[SimhashOracleSql]] mirrors it
    // in DuckDB (mod-2^64 emulated in HUGEINT) and the pair relation
    // crosses the driver's hash gate exactly; q_simhash_bounds below
    // additionally keeps the semantic accuracy envelope
    "q_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(docs(s, dir))),
    // SimHash accuracy envelope, oracle-backed: n_exact_pairs is
    // value-matched against the DuckDB exact inverted index, and two
    // engine-side booleans must be TRUE —
    //  precision_ok: ≥99% of emitted hamming≤8 pairs share UNIGRAM Jaccard
    //    ≥ 0.2 (SimHash signatures are built from unigram token hashes, so
    //    token overlap is the metric the signature actually approximates;
    //    3-gram Jaccard is the wrong floor: hamming-close short docs can
    //    share tokens but no 3-gram). A QUANTILE floor, not a min: random
    //    64-bit Hamming collisions between token-disjoint docs arrive at
    //    ~n²·3e-10 — 4 of 444,705 emitted pairs at sf1 — so a min floor
    //    breaks at scale by construction (measured p01 = 0.48 at sf1);
    //  recall_ok: ≥ 85% of the exact 3-gram jaccard≥0.5 pairs are emitted
    //    (measured 0.887 / 0.92 / 0.93 at sf0.1 / 0.01 / 0.001).
    //  no_null_jaccard: zero emitted pairs have a NULL audit jaccard —
    //    min() ignores NULLs, so without this gate a signature change that
    //    starts emitting pairs touching shingle-less docs could slip under
    //    the precision floor (jaccardOf leaves NULL-pair semantics to the
    //    caller; this row chooses "forbidden").
    // A broken signature or band join fails a gate even though the
    // signature cells themselves cannot be oracled.
    "q_simhash_bounds" -> ((s, dir) => {
      val d = docs(s, dir)
      val simAll = Dedup.simhashPairs(d)
      val sim = simAll.select("doc_a", "doc_b")
      // precision is a 99th-PERCENTILE floor, not a min: 64-bit Hamming
      // collisions between token-disjoint docs appear at rate ~n²·3e-10
      // (4 of 444,705 emitted pairs at sf1, min jaccard 0.125, p01 0.48),
      // so an absolute min floor breaks at scale by construction while a
      // broken signature/band join still craters the 99% fraction
      val prec = Dedup.jaccardOf(d, sim, n = 1)
        .agg(expr("count(1)").as("__npairs"),
          expr("sum(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END)").as("__nabove"),
          expr("sum(CASE WHEN jaccard IS NULL THEN 1 ELSE 0 END)").as("__nnull"))
      // recall is CLOSURE-aware: simhashPairs emits identity classes as
      // linear (canonical, member, 0) rows and cross-signature pairs
      // between canonicals, so an exact pair (a, b) counts as recalled
      // when a and b share a canonical OR their canonicals' pair was
      // emitted — the connectivity the linear relation implies
      val cmap = simAll.filter(col("hamming") === 0)
        .select(col("doc_b").as("__m"), col("doc_a").as("__c"))
      val rec = Dedup.ngramJaccardPairs(d, threshold = 0.5)
        .join(cmap.select(col("__m").as("doc_a"), col("__c").as("__ca")),
          Seq("doc_a"), "left")
        .join(cmap.select(col("__m").as("doc_b"), col("__c").as("__cb")),
          Seq("doc_b"), "left")
        .withColumn("__ka", coalesce(col("__ca"), col("doc_a")))
        .withColumn("__kb", coalesce(col("__cb"), col("doc_b")))
        .withColumn("__pa", least(col("__ka"), col("__kb")))
        .withColumn("__pb", greatest(col("__ka"), col("__kb")))
        .join(sim.select(col("doc_a").as("__pa"), col("doc_b").as("__pb"))
          .withColumn("__hit", lit(true)), Seq("__pa", "__pb"), "left")
        .agg(expr("count(1)").as("n_exact_pairs"),
          expr("sum(CASE WHEN __ka = __kb OR __hit THEN 1 ELSE 0 END)")
            .as("__nhit"))
      rec.crossJoin(prec).select(
        col("n_exact_pairs"),
        (coalesce(col("__nabove"), lit(0L)) >= col("__npairs") * 0.99)
          .as("precision_ok"),
        (col("__nhit") >= col("n_exact_pairs") * 0.85).as("recall_ok"),
        (coalesce(col("__nnull"), lit(0L)) === 0).as("no_null_jaccard"))
    }),
    // sign-LSH near-dup pairs, verified with exact cosine: precision 1 by
    // construction, and the DuckDB all-pairs brute force independently
    // the DRIVER fixtures have NO pairs at cosine ≥ 0.9 (max pairwise
    // cosine ≈ 0.51), so set equality with the exact sibling is the
    // oracle there (empty both sides, certified by the oracle itself).
    // Where real near-pairs exist (the sf1 headroom fixture has 61 in
    // the 0.90-0.94 band) candidate recall is probabilistic — gated by
    // q_embed_recall_bounds below. 16 tables + Hamming-1 multi-probe
    // push design recall at 0.90 from ~93% to ~0.99996 (the r10 sf1
    // sweep measured exactly the 93% regime: 60/61) — at sf1 the row is
    // value-equal to the brute-force oracle, closing the last named
    // exclusion
    "q_embed_dup_pairs" -> ((s, dir) =>
      Dedup.embeddingDupPairs(embeds(s, dir), threshold = 0.9, tables = 16,
        probeHamming = 1)),
    // sampled-exact recall envelope for the multi-table sign-LSH. The
    // anchor slice is FIXED-SIZE, not a fixed fraction: modulus
    // m = greatest(5, n / 2000) derived from the corpus count in BOTH
    // engines (Spark below, the same arithmetic in the oracle SQL), so
    // |anchors| saturates at ~2000 and the exact reference is O(n)
    // broadcast dot products at every SF — a fixed `% 5` fraction made
    // this row 0.2·n² (53 s = 10% of the sf3 bench, the suite's only
    // superlinear row). The count() action is parquet-metadata-only.
    // Recall floor 0.8 (non-vacuous where exact pairs exist: sf1/sf3;
    // vacuously true at driver SFs where the exact set is empty).
    "q_embed_recall_bounds" -> ((s, dir) => {
      val e = embeds(s, dir)
      val m = math.max(5L, e.count() / 2000L)
      val exact = Dedup.embeddingDupPairsExact(e, s"%ID% % $m = 0", threshold = 0.9)
        .select("id_a", "id_b")
      val lsh = Dedup.embeddingDupPairs(e, threshold = 0.9, tables = 16)
        .select("id_a", "id_b").withColumn("__hit", lit(true))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(expr("count(1)").as("n_exact_sampled"),
          expr("sum(CASE WHEN __hit THEN 1 ELSE 0 END)").as("__nhit"))
        .select(col("n_exact_sampled"),
          (col("n_exact_sampled") === 0 ||
            col("__nhit") >= col("n_exact_sampled") * 0.8).as("recall_ok"))
    }),
    "q_similarity_topk" -> ((s, dir) => {
      val e = embeds(s, dir)
      Similarity.cosineTopK(e, e.filter(col("vec_id") < 16), k = 5)
        .select("query_id", "match_id", "cosine", "rank")
    }),
    // int8-quantized brute force: maxabs quantization + exact integer
    // cosine are BOTH mirrored in DuckDB arithmetic-for-arithmetic, so
    // unlike the LSH/IVF approximations this row is fully hash-gated —
    // the custom codegen Expressions (vec_quantize_q8 / vec_cosine_i8)
    // are proven value-identical to an independent engine end-to-end
    "q_similarity_topk_q8" -> ((s, dir) => {
      val e = embeds(s, dir)
      Similarity.cosineTopKQ8(e, e.filter(col("vec_id") < 16), k = 5)
        .select("query_id", "match_id", "cosine", "rank")
    }),
    // quantization-error envelope: recall@5 of the q8 ranking vs full
    // precision, floor 0.9 (oracle states the floor as a literal — a
    // violated floor breaks the hash match)
    "q_q8_recall_bounds" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 16)
      val brute = Similarity.cosineTopK(e, q, k = 5)
        .select("query_id", "match_id")
      val q8 = Similarity.cosineTopKQ8(e, q, k = 5)
        .select("query_id", "match_id").withColumn("__hit", lit(true))
      brute.join(q8, Seq("query_id", "match_id"), "left")
        .agg(expr("count(1)").as("n_brute_rows"),
          expr("sum(CASE WHEN __hit THEN 1 ELSE 0 END)").as("__nhit"))
        .select(col("n_brute_rows"),
          (col("__nhit") >= col("n_brute_rows") * 0.9).as("recall_ok"))
    }),
    // FAISS discipline: the IVF index is fitted ONCE per dataset (memoized
    // below — coarse quantizer on a half sample, cell-assigned corpus
    // persisted) and every invocation runs the PROBE path only; the bench's
    // measured pass times candidate-join + cosine + top-k, not a KMeans fit
    "q_similarity_topk_ivf" -> ((s, dir) => {
      val e = embeds(s, dir)
      // nProbe 12 rides the occupancy-128 index: coverage fraction
      // nProbe/nLists matches the previous 6-of-(n/256) configuration
      // while each probed cell is half the size
      Similarity.cosineTopKIvfProbe(
        ivfIndex(s, dir), e.filter(col("vec_id") < 16), k = 5, nProbe = 12)
        .select("query_id", "match_id", "cosine", "rank")
    }),
    // IVF probed EXHAUSTIVELY (nProbe = nLists): every cell is a candidate
    // cell, so the result must equal brute force EXACTLY — proving the IVF
    // machinery (cell assignment partitions the corpus, candidate join,
    // codegen cosine, top-k) is lossless; the approximate row above stays
    // rows-only with measured recall
    "q_similarity_topk_ivf_full" -> ((s, dir) => {
      val e = embeds(s, dir)
      val idx = ivfIndex(s, dir)
      Similarity.cosineTopKIvfProbe(
        idx, e.filter(col("vec_id") < 16), k = 5,
        nProbe = idx.centroids.length) // nProbe = nLists at ANY list count
        .select("query_id", "match_id", "cosine", "rank")
    }),
    "q_similarity_topk_lsh" -> ((s, dir) => {
      val e = embeds(s, dir)
      // weakly-similar corpus (max pairwise cosine ≈ 0.5): few bits, many
      // tables — see cosineTopKLsh scaladoc for the recall arithmetic;
      // accuracy driver-gated by q_similarity_topk_lsh_full (machinery) +
      // q_lsh_recall_bounds (parameterized recall) below
      Similarity.cosineTopKLsh(e, e.filter(col("vec_id") < 16), k = 5,
        nBits = 4, tables = 12)
        .select("query_id", "match_id", "cosine", "rank")
    }),
    // sign-LSH probed EXHAUSTIVELY (nBits = 0 ⇒ every vector lands in
    // bucket 0 of the single table, so candidates = all) — the IVF `_full`
    // trick: the result must equal brute force EXACTLY, proving the whole
    // LSH machinery (compiled bucket signatures, per-table candidate join,
    // vector rejoin, codegen cosine, deterministic top-k) is lossless; the
    // approximate row above stays rows-only with its measured recall
    "q_similarity_topk_lsh_full" -> ((s, dir) => {
      val e = embeds(s, dir)
      Similarity.cosineTopKLsh(e, e.filter(col("vec_id") < 16), k = 5,
        nBits = 0, tables = 1)
        .select("query_id", "match_id", "cosine", "rank")
    }),
    // recall@k envelope for the APPROXIMATE banding above (nBits=4,
    // tables=12): engine-side overall recall vs the brute-force top-k must
    // clear 0.7 (measured 0.75 / 0.81 / 0.89 at sf0.01 / 0.001 / 0.1 —
    // deterministic: seeded hyperplanes over fixed fixtures); n_brute_rows
    // is value-matched against the DuckDB brute-force count
    "q_lsh_recall_bounds" -> ((s, dir) => {
      val e = embeds(s, dir)
      val q = e.filter(col("vec_id") < 16)
      val brute = Similarity.cosineTopK(e, q, k = 5)
        .select("query_id", "match_id")
      val lsh = Similarity.cosineTopKLsh(e, q, k = 5, nBits = 4, tables = 12)
        .select("query_id", "match_id").withColumn("__hit", lit(true))
      brute.join(lsh, Seq("query_id", "match_id"), "left")
        .agg(expr("count(1)").as("n_brute_rows"),
          expr("sum(CASE WHEN __hit THEN 1 ELSE 0 END)").as("__nhit"))
        .select(col("n_brute_rows"),
          (col("__nhit") >= col("n_brute_rows") * 0.7).as("recall_ok"))
    }),

    // ------- event stream (batch forms; streaming forms in graft.streaming)
    "q_events_hourly" -> ((s, dir) =>
      graft.streaming.Events.hourlyStatsBatch(events(s, dir))),
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.Events.sessionizeBatch(events(s, dir))),
    // STREAMING driver evidence: the same aggregations executed as real
    // Structured Streaming queries (readStream → AvailableNow → memory
    // sink) over the bounded file source, value-identical to the batch
    // forms — so the batch DuckDB oracles apply to the streaming engine
    // path itself. Complete mode emits every window at end-of-stream.
    "q_events_hourly_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.hourlyStatsStreamBounded(e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = true)
    }),
    // streaming exact dedup (dropDuplicatesWithinWatermark): the staged
    // source holds the events file TWICE, so the streamed, deduped result
    // must be exactly the original relation — which the plain events
    // oracle checks (value_cents derived so doubles stay off the compare)
    "q_stream_dedup" -> ((s, dir) => {
      val e = graft.streaming.Events
      val staged = e.stageStreamDir(s, s"$dir/events.parquet")
      e.copyParquetInto(s"$dir/events.parquet",
        java.nio.file.Paths.get(staged), "events_dup")
      e.runAvailableNow(s,
        e.dedupStream(e.readEventsStream(s, staged), Seq("event_id")),
        complete = false)
        .selectExpr("event_id", "ts", "user_id", "event_type",
          "CAST(round(value * 100) AS LONG) AS value_cents")
    }),
    // flatMapGroupsWithState sessionization in append mode: a far-future
    // close sentinel per user (stageStreamDir) makes every REAL session
    // close inside the single AvailableNow batch, so the emitted set is
    // exactly the batch sessionization (sentinel sessions stay in state,
    // never emitted; stream output carries no session_seq)
    "q_sessionize_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.sessionizeStream(s, e.readEventsStream(s, stagedDir(s, dir, sentinel = true))),
        complete = false)
    }),
    // hopping windows: 1-hour windows sliding every 15 min (each event in
    // exactly 4), epoch-aligned starts reproduced by integer arithmetic
    "q_hop_window" -> ((s, dir) =>
      graft.streaming.Events.hourlyHopStats(events(s, dir))),
    // native session_window (inclusive merge: an exactly-gap-sized gap
    // still merges, only a strictly-greater gap breaks; end = last + gap)
    // vs a gaps-and-islands oracle with the matching strict-> break
    "q_session_window" -> ((s, dir) =>
      graft.streaming.Events.sessionWindowStats(events(s, dir))),
    // semantic mislabel scrub: vectors anti-correlated with their own
    // label centroid (exact micro-unit centroid → float → codegen cosine)
    "q_label_outliers" -> ((s, dir) => Stats.labelOutliers(embeds(s, dir))),
    // streaming activity outliers: ONE complete-mode streaming count
    // (state = key space) + an all-integer 120%-of-mean cut on the
    // bounded result — replication-stable, unlike an absolute support
    "q_activity_outliers_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      e.aboveMeanActivity(e.runAvailableNow(s,
        e.activityCountsStream(
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = true))
    }),
    // the same session_window agg on the REAL streaming path (watermark +
    // append mode + close sentinel) — Spark's built-in session state vs
    // the hand-rolled flatMapGroupsWithState sibling, same oracle
    "q_session_window_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.sessionWindowStream(e.readEventsStream(s, stagedDir(s, dir, sentinel = true))),
        complete = false)
    }),
    // click→purchase attribution: batch form through the guarded bucketed
    // range join (hash join on (user, bucket), never per-key quadratic)
    "q_attribution" -> ((s, dir) =>
      graft.streaming.Events.attributionJoinBatch(events(s, dir))),
    // U-shaped (40/20/40) multi-touch credit over the same matched
    // pairs: exact micro-weights, one purchase-key exchange
    "q_attribution_multitouch" -> ((s, dir) =>
      graft.streaming.Events.multiTouchAttribution(events(s, dir),
        model = "u")),
    // the same join as a real STREAM-STREAM inner self-join (watermarks
    // both sides + time-range condition bounding the join state); on the
    // bounded AvailableNow run the emitted set is exactly the batch join,
    // so the same oracle pins the cross-stream join state machinery
    "q_attribution_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.attributionJoinStream(e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = false)
    }),
    // multi-touch as a stream (VERDICT r9 #7): the credit split needs the
    // COMPLETE touch set, so purchases emit only once the watermark
    // passes their event time (every attributable click precedes the
    // purchase); the close sentinel flushes the tail, making the bounded
    // run equal the batch q_attribution_multitouch image exactly — same
    // oracle
    "q_attribution_multitouch_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.multiTouchAttributionStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = true)),
          model = "u"),
        complete = false)
    }),
    // per-event rolling features as a REAL stateful stream
    // (flatMapGroupsWithState trailing-window buffer): on the bounded
    // AvailableNow run the emitted set is exactly the batch window-function
    // result, so the q_rolling_features oracle gates the streaming state
    // machinery too (batch/stream parity, the q_events_hourly_stream
    // discipline)
    "q_rolling_features_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.rollingFeaturesStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = false)
    }),
    // the funnel chain as a stream: per-user O(1) stage state emits an
    // advance row per stage reached; counts are a bounded agg over the
    // advances (≤ users × stages) on the bounded-evidence path. Left join
    // keeps zero-count stages so the 3-row shape matches the batch form.
    "q_funnel_stream" -> ((s, dir) => {
      import s.implicits._
      val e = graft.streaming.Events
      val stages = Seq("view", "click", "purchase")
      val adv = e.runAvailableNow(s,
        e.funnelStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false)), stages),
        complete = false)
      val counts = adv.groupBy("stage_idx").agg(expr("count(1)").as("__n"))
      stages.zipWithIndex.map { case (st, i) => (i, st) }
        .toDF("stage_idx", "stage")
        .join(counts, Seq("stage_idx"), "left")
        .select(col("stage_idx"), col("stage"),
          coalesce(col("__n"), lit(0L)).as("n_users"))
    }),

    // the retention matrix as a stream: per-user calendar-bounded
    // weeks-seen state emits a first-activity-in-week row exactly once
    // per (user, week); the cohort matrix is a bounded agg over the
    // advances (Events.retentionMatrix) — value-matched to the batch
    // q_retention oracle on the bounded run, with NO in-order premise
    // (set membership is arrival-order-insensitive)
    "q_retention_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      e.retentionMatrix(e.runAvailableNow(s,
        e.retentionStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = false))
    }),

    // the Markov transition matrix as a stream: per-user O(1) last-event
    // state emits a pair row per arrival; counts are a bounded
    // |types|²-key agg over the pairs — value-matched to the batch
    // lead-window oracle on the bounded run
    "q_event_transitions_stream" -> ((s, dir) => {
      val e = graft.streaming.Events
      val tr = e.runAvailableNow(s,
        e.transitionsStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = false)
      tr.groupBy(col("from_type"), col("to_type"))
        .agg(expr("count(1)").as("n_transitions"))
    }),

    // point-in-time (as-of backward inclusive) join: every event picks up
    // the latest per-user hourly snapshot at-or-before its own ts — the
    // leak-free feature-join shape; DuckDB's native ASOF LEFT JOIN is the
    // oracle, so the semantics (inclusive boundary, left-join nulls,
    // latest-match) are pinned engine-to-engine
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts", "value")
      val dim = ev.groupBy(col("user_id"),
          expr("date_trunc('hour', ts)").as("snap_ts"))
        .agg(expr("count(1)").as("hr_events"),
          expr("sum(CAST(round(value * 100) AS LONG))").as("hr_value_cents"))
      graft.operators.AsOf.asOfJoin(
        ev.select("event_id", "user_id", "ts"), dim,
        on = Seq("user_id"), leftTs = "ts", rightTs = "snap_ts",
        payload = Seq("hr_events", "hr_value_cents"))
    }),
    // forward as-of: EARLIEST right row at or after each event ("next
    // snapshot after") — DuckDB's ASOF with the inequality flipped is
    // the native oracle; same one-exchange union+window plan, ts order
    // reversed
    "q_asof_fwd" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts", "value")
      val dim = ev.groupBy(col("user_id"),
          expr("date_trunc('hour', ts)").as("snap_ts"))
        .agg(expr("count(1)").as("hr_events"),
          expr("sum(CAST(round(value * 100) AS LONG))").as("hr_value_cents"))
      graft.operators.AsOf.asOfJoin(
        ev.select("event_id", "user_id", "ts"), dim,
        on = Seq("user_id"), leftTs = "ts", rightTs = "snap_ts",
        payload = Seq("hr_events", "hr_value_cents"),
        direction = "forward")
    }),
    // as-of with tolerance: stale matches (latest snapshot older than 30
    // minutes) null out — the kdb wj / pandas merge_asof tolerance
    // contract, previously spec-only; the oracle is the plain-SQL argmin
    // with the same staleness filter
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts", "value")
      val dim = ev.groupBy(col("user_id"),
          expr("date_trunc('hour', ts)").as("snap_ts"))
        .agg(expr("count(1)").as("hr_events"),
          expr("sum(CAST(round(value * 100) AS LONG))").as("hr_value_cents"))
      graft.operators.AsOf.asOfJoin(
        ev.select("event_id", "user_id", "ts"), dim,
        on = Seq("user_id"), leftTs = "ts", rightTs = "snap_ts",
        payload = Seq("hr_events", "hr_value_cents"),
        toleranceMs = Some(30L * 60 * 1000))
    }),
    // nearest as-of: closer of the two directions, equidistant ties break
    // backward — DuckDB has no native nearest ASOF, but the semantics are
    // exactly expressible as an argmin over (|delta|, forward-flag), so
    // the row is fully oracle-gated (not spec-only)
    "q_asof_nearest" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts", "value")
      val dim = ev.groupBy(col("user_id"),
          expr("date_trunc('hour', ts)").as("snap_ts"))
        .agg(expr("count(1)").as("hr_events"),
          expr("sum(CAST(round(value * 100) AS LONG))").as("hr_value_cents"))
      graft.operators.AsOf.asOfJoin(
        ev.select("event_id", "user_id", "ts"), dim,
        on = Seq("user_id"), leftTs = "ts", rightTs = "snap_ts",
        payload = Seq("hr_events", "hr_value_cents"),
        direction = "nearest")
    }),
    // bucketed interval (range) join: every event lands in exactly its
    // own session's [start, end] window — a plain inequality join in the
    // DuckDB oracle, a hash join on (user, time-bucket) + residual filter
    // here (never a nested-loop; plan pinned in PlanShapeSpec)
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val sessions = graft.streaming.Events.sessionizeBatch(ev)
      graft.operators.AsOf.rangeJoin(
        ev.select("event_id", "user_id", "ts"), sessions,
        on = Seq("user_id"), pointTs = "ts",
        startCol = "session_start", endCol = "session_end",
        payload = Seq("session_seq", "n_events"))
        .select("event_id", "user_id", "session_seq", "n_events")
    }),
    // skew-safe two-phase (salted) aggregation: the result is
    // salt-invariant, so the plain GROUP BY is its exact oracle
    "q_skew_agg" -> ((s, dir) =>
      graft.operators.Skew.twoPhaseAgg(
        events(s, dir).select("user_id", "value"), Seq("user_id"), saltFactor = 8,
        partial = Seq(expr("count(1)").as("__c"),
          expr("sum(CAST(round(value * 100) AS LONG))").as("__s")),
        merge = Seq(expr("sum(__c)").as("n_events"),
          expr("sum(__s)").as("value_cents")))),

    // JSON payload extraction over event props
    "q_events_json" -> ((s, dir) => {
      val e = Json.extracted(events(s, dir), "props", Map("k" -> ("$.k", "bigint")))
      e.groupBy(col("event_type")).agg(
        expr("count(k)").as("n_with_k"),
        expr("sum(k)").as("sum_k"),
        expr("max(k)").as("max_k"))
    }),

    // JSON auto-flatten via sampled schema inference (the OSS answer to
    // schema_of_json_agg)
    "q_json_flatten" -> ((s, dir) =>
      Json.flatten(events(s, dir).select("event_id", "props"), "props")
        .select("event_id", "k")),

    // ------- multimodal plumbing (deterministic stub decode, oracle-backed:
    // every selected feature is derivable from the fake header contract;
    // the rolling checksum stays engine-side, value-tested in OperatorsSpec)
    "q_multimodal_decode" -> ((s, dir) =>
      Multimodal.decode(Multimodal.fakeMediaFromDocs(docs(s, dir)))
        .select(col("media_id"), col("n_bytes"),
          col("meta.mime"), col("meta.width"), col("meta.height"), col("meta.n_frames"))),
    // REAL WebP container walk, oracle-backed: synthetic VP8L / VP8 /
    // VP8X-animated containers whose headers are arithmetic on doc_id —
    // the engine parses actual RIFF bytes (signature checks, 14-bit
    // packed dims, 24-bit canvas, ANMF frame count) while DuckDB
    // recomputes mime/dims/frames/length from the generator contract
    "q_webp_decode" -> ((s, dir) =>
      Multimodal.decode(Multimodal.syntheticWebpFromDocs(docs(s, dir)))
        .select(col("media_id"), col("n_bytes"),
          col("meta.mime"), col("meta.width"), col("meta.height"), col("meta.n_frames"))),
    // compressed-audio header metadata (r15): REAL FLAC STREAMINFO /
    // MP3 frame-header (+ID3v2 syncsafe skip) / OGG-Vorbis page walks
    // over doc_id-arithmetic containers — the majority of crawl audio,
    // same row-local zero-shuffle posture as q_webp_decode
    "q_audio_formats" -> ((s, dir) =>
      Multimodal.decode(Multimodal.syntheticAudioFormatsFromDocs(docsPar(s, dir)))
        .select(col("media_id"), col("n_bytes"),
          col("meta.mime"), col("meta.width"), col("meta.height"), col("meta.n_frames"))),
    "q_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decode(Multimodal.fakeMediaFromDocs(docs(s, dir))))
        .select("media_id", "frame_index")),
    // REAL codec round-trip, oracle-backed: each doc_id becomes a
    // solid-color PNG encoded with ImageIO per-partition, then
    // decodePixels (ImageIO again) extracts dims + per-channel means —
    // solid + lossless means every statistic is exactly derivable from
    // doc_id in SQL, so DuckDB can gate a genuine encode→decode cycle
    "q_pixel_stats" -> ((s, dir) =>
      Multimodal.decodePixels(Multimodal.syntheticImagesFromDocs(docsPar(s, dir)))
        .select(col("media_id"), col("decode_ok"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"),
          expr("round(mean_luma, 6)").as("mean_luma"))),
    // image near-dup dedup (LAION-style): REAL PNGs with planted one-cell
    // perturbations → real ImageIO decode → box-average 9×8 luma grid →
    // 64-bit dHash → Hamming-band pair relation. The generator's cell
    // values are md5-derivable from doc_id, so DuckDB recomputes the
    // EXACT pair relation (grid → gradient bits → band join → popcount)
    // without decoding a byte — the hash gate pins the full decode →
    // resize → hash → band-join chain cross-engine
    "q_image_dedup" -> ((s, dir) =>
      Multimodal.imageDupPairs(
        Multimodal.syntheticGridImagesFromDocs(docsPar(s, dir)), maxHamming = 8)
        .select("id_a", "id_b", "hamming")),
    // REAL RIFF/WAVE decode, oracle-backed: each doc_id becomes a real
    // PCM16 WAV (md5-derivable samples; planted silence window, planted
    // clipping, and a LIST junk chunk for ids % 5 = 0 so a fixed-offset
    // 44-byte reader would misparse) — wavStats chunk-walks and streams
    // the samples; DuckDB recomputes every exact-integer statistic from
    // doc_id without touching a byte, pinning the full WAV encode →
    // chunk-walk → streaming-decode cycle cross-engine
    "q_audio_stats" -> ((s, dir) =>
      Audio.wavStats(Audio.syntheticWavFromDocs(docsPar(s, dir)))
        .select("media_id", "decode_ok", "sample_rate", "n_channels",
          "n_samples", "duration_ms", "peak_abs", "sum_abs", "sum_sq",
          "clip_count", "n_windows", "silent_windows")),
    // FineWeb line-shape quality gate (Penedo et al. 2024): the three
    // post-Gopher/C4 heuristics plus the newline/word ratio, all exact
    // integer cross-multiplications in one zero-shuffle projection
    "q_fineweb_rules" -> ((s, dir) =>
      TextAnalysis.fineWebRules(docs(s, dir))),
    // HTML → text boilerplate extraction (jusText/trafilatura family):
    // the engine parses REAL synthetic markup (script/style skip,
    // comments, entities, nav/footer/latin plants each failing exactly
    // one keep rule, an inline anchor for doc_id % 4 = 0) in one
    // zero-shuffle codegen projection; the oracle re-derives every
    // column from the generator contract without an HTML parser
    "q_html_extract" -> ((s, dir) =>
      TextAnalysis.htmlExtract(
        TextAnalysis.syntheticHtmlFromDocs(docsPar(s, dir)))),
    // profile-dispatched HTML extraction: lang cycles the 10 stopword
    // profiles by doc_id arithmetic; the kept block is the assigned
    // language's own stopword sentence and the cross-language plant
    // fails exactly the stopword rule (disjointness spec-pinned), so a
    // broken dispatch flips the hash in both directions; the fixture
    // also plants the r15 scanner rules (quoted '>' in an href, a
    // decoy </scripts> close, a self-closing anchor)
    "q_html_extract_multi" -> ((s, dir) =>
      TextAnalysis.htmlExtractLang(
        TextAnalysis.syntheticHtmlMultiFromDocs(docsPar(s, dir)))),
    // WARC ingest — the crawl front door: doc_id-arithmetic synthetic
    // WARC files (warcinfo/request/response/metadata records, a gzip
    // member every 3rd doc, a truncated tail record every 5th, garbage
    // bytes every 11th≡4) → record walk → HTTP envelope → html_extract
    // over the response body; zero-shuffle projection chain
    "q_warc_extract" -> ((s, dir) => Warc.warcExtractQuery(docsPar(s, dir))),
    // deterministic global shuffle → fixed-size training shards: the
    // tokenBudget two-pass prefix-sum discipline with weight 1 (one
    // range shuffle + a #partitions-sized driver exchange — never the
    // unpartitioned row_number window); the oracle states the semantics
    // as the window form DuckDB can afford single-node
    "q_shard_plan" -> ((s, dir) =>
      Packing.shardPlan(docs(s, dir), shardSize = 1000L)))

  /** Fitted IVF indexes per dataset dir — train once, probe many (the
    * FAISS IVF usage contract; see [[graft.operators.Similarity.ivfFit]]).
    * The cell-assigned corpus is persisted so repeated probes touch the
    * cached assignment, not a re-clustering job. Per the IvfIndex
    * lifecycle contract, this map owns the persist and would own the
    * matching [[graft.operators.Similarity.IvfIndex.close]]; it is
    * process-lifetime BY DESIGN — the driver harness (Verify/Bench) runs
    * a bounded query set and exits, and one cached assignment per dataset
    * dir is the point of the memoization. A long-lived service embedding
    * this pattern should evict with `remove(dir).close()`. A bare persist,
    * not `Materialize.cache`, so no query's scope frees it.
    */
  private val ivfIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Similarity.IvfIndex]()
  private def ivfIndex(s: SparkSession, dir: String): graft.operators.Similarity.IvfIndex =
    ivfIndexes.computeIfAbsent(dir, d => {
      // nLists = 0: corpus-size-derived (autoNLists) — 16 at the driver
      // SFs (< 2048 vectors), scaling with occupancy bounded beyond.
      // targetOccupancy 128, not the 256 default: every consumer's
      // candidate volume is occupancy-linear (SemDeDup pairs ∝
      // occupancy × probes × n; ANN probe ∝ occupancy × nProbe per
      // query), so halving occupancy halves the suite's pair work while
      // probes/nProbe cover a LARGER cell fraction — recall can only
      // improve. Measured at sf1 (BENCH_local_sf1.json): q_semantic_dedup
      // 5.27 (r10) → 3.14 s, still oracle-exact at every tested SF.
      val idx = Similarity.ivfFit(embeds(s, d),
        nLists = 0, seed = 42L, fitSampleFraction = 0.5,
        targetOccupancy = 128)
      idx.copy(assigned = idx.assigned.persist())
    })

  /** Staged bounded-stream source dirs per dataset (the source files are
    * immutable; only the checkpoint/sink must be fresh per run, and
    * runAvailableNow creates those per invocation).
    */
  private val stagedCdcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The q_cdc_merge change waves — upserts (%5, seq 2), deletes (%7,
    * seq 3), inserts (%13, fresh ids, seq 1) — each with a deterministic
    * event-time column (`ts` = 2024-01-01 + seq minutes) so the same
    * relation serves both the batch fold (ts dropped) and the streaming
    * twin's watermark.
    */
  private def cdcWaves(d: DataFrame): Seq[DataFrame] = {
    val ups = d.filter(expr("doc_id % 5 = 0"))
      .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"))
    val dels = d.filter(expr("doc_id % 7 = 0"))
      .select(col("doc_id"), lit(3L).as("seq"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
    val ins = d.filter(expr("doc_id % 13 = 0"))
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        lit(1L).as("seq"), lit("upsert").as("op"),
        concat(lit("ins "), col("text")).as("text"))
    Seq(ups, dels, ins)
      .map(_.withColumn("ts", expr("timestamp_seconds(1704067200 + seq * 60)")))
  }

  private val stagedScd2Dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The q_scd2 change waves — base load (seq 1), %5 upserts (seq 2),
    * %7 deletes (seq 3), %10 re-upserts (seq 4) — each with the same
    * deterministic seq-derived event time as [[cdcWaves]].
    */
  private def scd2Waves(d: DataFrame): Seq[DataFrame] = {
    val v1 = d.select(col("doc_id"), lit(1L).as("seq"),
      lit("upsert").as("op"), col("text"))
    val ups = d.filter(expr("doc_id % 5 = 0"))
      .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"))
    val dels = d.filter(expr("doc_id % 7 = 0"))
      .select(col("doc_id"), lit(3L).as("seq"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
    val re = d.filter(expr("doc_id % 10 = 0"))
      .select(col("doc_id"), lit(4L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" v4")).as("text"))
    Seq(v1, ups, dels, re)
      .map(_.withColumn("ts", expr("timestamp_seconds(1704067200 + seq * 60)")))
  }

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), String]()
  private def stagedDir(s: SparkSession, dir: String, sentinel: Boolean): String =
    stagedDirs.computeIfAbsent((dir, sentinel), { case (d, sn) =>
      graft.streaming.Events.stageStreamDir(s, s"$d/events.parquet", closeSentinel = sn)
    })

  /** Adaptive scan-parallelism floor (r16, guide §2/§6): repartitions to
    * the session's core count ONLY when the input's physical partitioning
    * is below it. Every real multi-file corpus already carries more
    * partitions than cores — there the condition is false and the plan is
    * untouched (an unconditional repartition would shuffle the whole
    * corpus for nothing). The driver fixtures are SINGLE ROW-GROUP parquet
    * files, and parquet cannot split inside a row group, so no
    * `maxPartitionBytes` / `minPartitionNum` setting can raise their scan
    * parallelism: every scan-rooted stage ran as ONE task (measured: the
    * entire q_bpe_tokens_large BPE encode on 1 of 32 cores, 0.81 s of a
    * 1.1 s query). The floor buys the cores back for one bounded shuffle.
    *
    * OPT-IN per query via [[docsPar]], not the default reader: the full
    * before/after bench showed the floor wins ~2-4× on CPU-BOUND per-row
    * operators (BPE encode, image synth+dHash, audio/pixel byte walks,
    * profile scoring) but COSTS 0.3-0.5 s on light or aggregation-bound
    * queries (the 1-partition map side pre-collapses groups maximally
    * before the exchange; a repartition forfeits that and adds a stage).
    * The width is memoized per dataset dir and core count — `df.rdd`
    * materializes a physical plan, too heavy to re-run per pass.
    */
  private val floorWidths =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Integer]()
  /** The floor as a width: the session core count when the documents
    * fixture has fewer physical partitions than that, else 0. Operators
    * that take a parallelism knob instead of a repartitioned input (the
    * jaccardPrefixPairs verify spread) read it directly.
    */
  private def floorPar(s: SparkSession, dir: String): Int = {
    val cores = s.sparkContext.defaultParallelism
    floorWidths.computeIfAbsent((dir, cores),
      _ => if (docs(s, dir).rdd.getNumPartitions >= cores) 0 else cores)
  }
  /** The documents fixture spread to [[floorPar]]. `pinned` also pins the
    * spread rows (lazily) — for the gate-FILTER chains only
    * (curate/clean): the optimizer pushes Filters (and with them the
    * whole projection feeding the filter columns) through a bare
    * Repartition, which sank q_curate_corpus's entire
    * page-synthesis+gate wave back into the 1-task scan stage — measured
    * as two 1.2 s single-task jobs (the subtree has two consumers).
    * Nothing pushes into an RDD scan, so the heavy per-row work runs
    * ABOVE the floor, parallel, computed once. Not for the
    * pure-projection floor queries: the pin's checkpoint job costs
    * ~0.1-0.25 s and they have no filter to sink.
    */
  private def docsPar(s: SparkSession, dir: String, pinned: Boolean = false): DataFrame = {
    val par = floorPar(s, dir)
    if (par == 0) docs(s, dir)
    else if (pinned) graft.core.Materialize.pin(docs(s, dir).repartition(par))
    else docs(s, dir).repartition(par)
  }
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.core.Parquet.read(s, s"$dir/documents.parquet")
  private def embeds(s: SparkSession, dir: String): DataFrame =
    graft.core.Parquet.read(s, s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.readEvents(s, s"$dir/events.parquet")

  /** Planted dirty-text suffixes for q_unicode_clean (the q_pii_scrub /
    * q_url_canon planted-input discipline — the fixture is pure ASCII, so
    * the normalization paths need constructed input). One Scala constant
    * feeds BOTH engines: the Spark side as `lit` columns, the oracle as
    * SQL literals via [[sqlStr]] — they cannot drift. Shapes by
    * doc_id % 5: decomposed accents (NFC composes), the zero-width
    * family, C0 controls + CRLF/CR, precomposed accents (NFC no-op
    * on non-ASCII — the false-positive path), untouched ASCII. Only
    * Unicode-stable codepoints (normalization stability policy), so
    * Java's and utf8proc's NFC agree byte-for-byte.
    */
  private val uncleanSuffixes: Seq[String] = Seq(
    " café naïve rôle",
    " zero​width‌join‍er ﻿bom",
    " bellalertvt line\r\nnext\rend",
    " café déjà vu",
    "")

  /** SQL string literal with quote doubling — raw codepoints ride the
    * oracle JSON (Verify escapes controls; everything else is UTF-8).
    */
  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** q_fuzzy_vocab planted-typo derivation — ONE set of expression
    * templates instantiated for both engines (the c4Page discipline);
    * the only dialect split is the integer-division spelling (`DIV` in
    * Spark, `//` in DuckDB), injected as `div`. Expects a staged
    * `__h = md5('fz' || doc_id)` column; every other primitive (instr,
    * substr, length, concat, CASE) parses identically in both dialects.
    * The typo is ONE edit (insert after / delete at / substitute at a
    * hash-derived position) applied to a hash-picked frequent base word,
    * so every planted word is within Levenshtein 1 of its canonical —
    * and the plant gates on `doc_id % m = 0` with m derived from the
    * corpus count (the q_embed_recall_bounds fixed-size-anchor
    * discipline): ~2000 planted docs at ANY scale, keeping each typo
    * type's frequency under the rare ceiling as the corpus grows.
    */
  private object FuzzyTypo {
    /** Base words: top fixture tokens, all ≥ 4 chars and frequent at
      * every SF (frequency checked in OperatorsSpec at sf0.001).
      */
    val bases = Seq("table", "window", "stream", "filter",
      "column", "customer", "query", "batch")
    private def hv(k: Int) =
      s"(instr('0123456789abcdef', substr(__h, $k, 1)) - 1)"
    /** Uniform value in [0, 16^6) from the first six md5 hex digits. */
    val hex6: String = (2 to 6).foldLeft(hv(1)) {
      case (acc, k) => s"($acc * 16 + ${hv(k)})"
    }
    val base: String = bases.zipWithIndex.map {
      case (w, i) => s"WHEN $i THEN '$w'"
    }.mkString("CASE CAST(__hv % 8 AS INT) ", " ", " END")
    def op(div: String): String = s"CAST((__hv $div 8) % 3 AS INT)"
    def pos(div: String): String =
      s"CAST((__hv $div 24) % length(__base) AS INT) + 1"
    def letter(div: String): String =
      s"substr('abcdefghijklmnopqrstuvwxyz', CAST((__hv $div 240) % 26 AS INT) + 1, 1)"
    val typo: String =
      """CASE __op
        | WHEN 0 THEN concat(substr(__base, 1, __pos), __letter, substr(__base, __pos + 1))
        | WHEN 1 THEN concat(substr(__base, 1, __pos - 1), substr(__base, __pos + 1))
        | ELSE concat(substr(__base, 1, __pos - 1), __letter, substr(__base, __pos + 1))
        |END""".stripMargin
  }

  /** The q_fuzzy_vocab base-word list, exposed for the fixture-frequency
    * guard in OperatorsSpec (a driver fixture regen that drops one below
    * canonMin would otherwise thin the gate silently).
    */
  private[graft] def fuzzyBases: Seq[String] = FuzzyTypo.bases

  /** DuckDB mirror of the SimHash pair query ([[graft.operators.Dedup
    * .simhash]] / [[graft.operators.Dedup.simhashPairs]]) — the q_winnow
    * discipline applied to XXH64: the token hash is Spark's xxhash64
    * (standard XXH64, seed 42), re-implemented arithmetic-for-arithmetic
    * in ONE DuckDB statement so the whole pair relation crosses the hash
    * gate (graduating q_simhash_pairs from its accuracy envelope, VERDICT
    * r9 #1).
    *
    * 64-bit wrap-around arithmetic is emulated in HUGEINT: a mod-2^64
    * multiply splits the left operand into 32-bit limbs so no
    * intermediate exceeds 2^97; rotations are (x·2^r mod 2^64) + x>>64−r
    * (disjoint bit ranges, so + is |); xor/bit_count come native. Each
    * fold step lives in its OWN nested subquery — DuckDB inlines lateral
    * column aliases by textual substitution, so chaining steps through
    * aliases in one SELECT re-expands every predecessor exponentially.
    * The short-input path (< 32 bytes: ≤3 8-byte chunks, one optional
    * 4-byte chunk, ≤3 tail bytes — statically unrolled CASEs) covers all
    * fixture tokens (max 10 ASCII bytes; `unicode(c)` = UTF-8 byte only
    * for ASCII, which the fixtures are). Signatures are carried as two
    * 32-bit halves so banding/Hamming stay in BIGINT; token-less docs
    * keep signature 0 via the left join, matching the engine's all-zero
    * vote fold.
    */
  /** Shared DuckDB XXH64 (seed 42, Spark's `xxhash64`) machine-generated
    * HUGEINT arithmetic — the [[SimhashOracleSql]] pipeline factored out
    * so every oracle needing the engine token hash (SimHash pairs, DSIR
    * hashed-n-gram buckets) mirrors the SAME arithmetic from one
    * generator.
    */
  private object XxhOracleSql {
    val M = "18446744073709551616"
    private val P1 = "11400714785074694791"
    private val P2 = "14029467366897019727"
    private val P3 = "1609587929392839161"
    private val P4 = "9650029242287828579"
    private val P5 = "2870177450012600261"
    def pow2(r: Int): String = java.math.BigInteger.TWO.pow(r).toString
    private def mul64(a: String, b: String): String =
      s"((($a) % 4294967296) * ($b) + " +
        s"((($a) // 4294967296) * ($b)) % 4294967296 * 4294967296) % $M"
    private def rotl(x: String, r: Int): String =
      s"((($x) * ${pow2(r)}) % $M + ($x) // ${pow2(64 - r)})"
    def xor(a: String, b: String): String =
      s"xor(CAST($a AS HUGEINT), CAST($b AS HUGEINT))"

    /** LOUD oracle precondition on a (doc_id, w) relation: the unrolled
      * XXH64 below assumes ASCII tokens (unicode(c) = UTF-8 byte only
      * below 0x80) under 32 bytes (no >=32-byte accumulator path). A
      * fixture change violating either must fail with this message, not
      * an opaque hash divergence downstream.
      */
    def asciiGuard(inner: String, what: String, unit: String = "token"): String =
      s"""SELECT doc_id, CASE
            WHEN strlen(w) >= 32 OR strlen(w) != length(w)
            THEN error('$what oracle precondition violated ($unit must be ASCII and < 32 bytes): ' || w)
            ELSE w END AS w
          FROM $inner"""

    /** Nested-subquery pipeline: (doc_id, w) → (doc_id, w, hash). */
    def tokenHash: String = {
      def le8(i: Int): String =
        (0 until 8).map(j => s"bl[${i * 8 + j + 1}] * ${pow2(8 * j)}").mkString(" + ")
      val le4 =
        (0 until 4).map(j => s"bl[n8*8+${j + 1}] * ${pow2(8 * j)}").mkString(" + ")
      val tl0 = "n8*8 + CASE WHEN n - n8*8 >= 4 THEN 4 ELSE 0 END"
      val layers = scala.collection.mutable.ArrayBuffer[String]()
      layers += ("SELECT doc_id, w, strlen(w) AS n, strlen(w) // 8 AS n8, " +
        "list_transform(string_split(w,''), c -> CAST(unicode(c) AS HUGEINT)) AS bl " +
        "FROM @TOKS@")
      layers += ("SELECT doc_id, w, n, n8, " +
        (0 until 3).map(i =>
          s"CASE WHEN n8 >= ${i + 1} THEN ${le8(i)} ELSE 0 END AS k${i + 1}").mkString(", ") +
        s", CASE WHEN n - n8*8 >= 4 THEN $le4 ELSE 0 END AS k4" +
        s", $tl0 AS tl0, " +
        (0 until 3).map(j =>
          s"CASE WHEN n > $tl0 + $j THEN bl[$tl0 + ${j + 1}] ELSE 0 END AS tb${j + 1}")
          .mkString(", ") +
        s", CAST(42 + $P5 + n AS HUGEINT) AS h0 FROM (@INNER@)")
      var h = "h0"
      for (i <- 0 until 3) {
        val rr = mul64(rotl(mul64(s"k${i + 1}", P2), 31), P1)
        val step = s"(${mul64(rotl(xor(h, rr), 27), P1)} + $P4) % $M"
        layers += s"SELECT *, CASE WHEN n8 >= ${i + 1} THEN $step ELSE $h END AS h${i + 1} FROM (@INNER@)"
        h = s"h${i + 1}"
      }
      val step4 = s"(${mul64(rotl(xor(h, mul64("k4", P1)), 23), P2)} + $P3) % $M"
      layers += s"SELECT *, CASE WHEN n - n8*8 >= 4 THEN $step4 ELSE $h END AS h4s FROM (@INNER@)"
      h = "h4s"
      for (j <- 0 until 3) {
        val stepb = mul64(rotl(xor(h, mul64(s"tb${j + 1}", P5)), 11), P1)
        layers += s"SELECT *, CASE WHEN n > tl0 + $j THEN $stepb ELSE $h END AS hb${j + 1} FROM (@INNER@)"
        h = s"hb${j + 1}"
      }
      layers += s"SELECT *, ${xor(h, s"$h // ${pow2(33)}")} AS a1 FROM (@INNER@)"
      layers += s"SELECT *, ${mul64("a1", P2)} AS a2 FROM (@INNER@)"
      layers += s"SELECT *, ${xor("a2", s"a2 // ${pow2(29)}")} AS a3 FROM (@INNER@)"
      layers += s"SELECT *, ${mul64("a3", P3)} AS a4 FROM (@INNER@)"
      layers += s"SELECT doc_id, w, ${xor("a4", s"a4 // ${pow2(32)}")} AS hash FROM (@INNER@)"
      layers.tail.foldLeft(layers.head)((inner, l) => l.replace("@INNER@", inner))
    }
  }

  private object SimhashOracleSql {
    import XxhOracleSql._

    /** The full q_simhash_pairs oracle statement. */
    def sql: String = {
      val votes = (0 until 64).map(b =>
        s"sum(CASE WHEN (hash // ${pow2(b)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b")
        .mkString(", ")
      val lo = (0 until 32).map(b =>
        s"CASE WHEN v$b > 0 THEN ${pow2(b)} ELSE 0 END").mkString(" + ")
      val hi = (0 until 32).map(b =>
        s"CASE WHEN v${b + 32} > 0 THEN ${pow2(b)} ELSE 0 END").mkString(" + ")
      s"""WITH toks0 AS (
          SELECT doc_id, unnest(list_filter(string_split(lower(text),' '), t -> t != '')) AS w
          FROM documents WHERE lower(text) IS NOT NULL),
        toks AS (${asciiGuard("toks0", "simhash")}),
        th AS (${tokenHash.replace("@TOKS@", "toks")}),
        v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
        sg AS (SELECT doc_id, CAST($lo AS BIGINT) AS lo, CAST($hi AS BIGINT) AS hi FROM v),
        sig AS (
          SELECT d.doc_id, coalesce(sg.lo, 0) AS lo, coalesce(sg.hi, 0) AS hi
          FROM (SELECT doc_id FROM documents WHERE lower(text) IS NOT NULL) d
          LEFT JOIN sg USING (doc_id)),
        rep AS (SELECT lo, hi, min(doc_id) AS rep FROM sig GROUP BY 1, 2),
        classes AS (
          SELECT r.rep AS doc_a, s.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
          FROM sig s JOIN rep r ON r.lo = s.lo AND r.hi = s.hi
          WHERE s.doc_id != r.rep),
        band AS (
          SELECT rep AS doc_id, lo, hi,
            unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bucket,
            unnest([0, 1, 2, 3]) AS band
          FROM rep)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            AS INTEGER) AS hamming
        FROM band a JOIN band b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 8
        UNION ALL SELECT doc_a, doc_b, hamming FROM classes"""
    }
  }

  /** DuckDB mirror of [[graft.operators.Selection]] (DSIR importance
    * weights + Gumbel top-k sample): unigrams + space-joined bigrams
    * through the shared XXH64 pipeline, bucket = hash mod 4096 (HUGEINT
    * is unsigned, so plain `%` equals the engine's signed `& 4095`),
    * per-bucket log-ratio micro-quantized exactly as the engine does
    * (round(1e6·ln-ratio) — the only `ln`s on either side run once per
    * BUCKET), per-doc sums in exact HUGEINT, one emitting division. The
    * Gumbel key reuses the q_split md5-bucket16 arithmetic.
    *
    * Precondition note: the asciiGuard here sees space-joined BIGRAMS,
    * so the <32-byte XXH64 stripe bounds each individual token at
    * (31 - 1) / 2 = 15 bytes — tighter than the simhash path's 31. The
    * driver fixture vocabulary is well inside that; the guard fails
    * loudly (naming the gram) rather than silently mis-hashing.
    */
  private object DsirOracleSql {
    import XxhOracleSql._

    /** CTE chain ending in `sc` = (doc_id, n_grams, sm). */
    private def scoreCtes: String = "WITH " + scoreCtesFrom("documents")

    /** The same chain WITHOUT the leading WITH and over an arbitrary
      * base relation (must carry doc_id, lang, text) — embeddable after
      * other CTEs (q_curate_corpus runs it over the curated survivors).
      */
    /** The hashed-gram prefix alone: tl → … → bc = (doc_id, b, n), the
      * shared (doc, bucket) count relation both the DSIR model and the
      * NB classifier consume (mirroring the engine, where both operators
      * fit off the same bucketCounts exchange).
      */
    def gramCtesFrom(base: String): String =
      s"""tl AS (
          SELECT doc_id, (lang = 'en') AS tgt,
            list_filter(string_split(lower(text), ' '), t -> t != '') AS ts
          FROM $base),
        uni AS (SELECT doc_id, unnest(ts) AS w FROM tl),
        big AS (
          SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS w
          FROM tl, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        grams0 AS (SELECT doc_id, w FROM uni UNION ALL SELECT doc_id, w FROM big),
        grams AS (${asciiGuard("grams0", "dsir", "gram")}),
        th AS (${tokenHash.replace("@TOKS@", "grams")}),
        bc AS (SELECT doc_id, hash % 4096 AS b, count(*) AS n
               FROM th GROUP BY 1, 2)"""

    def scoreCtesFrom(base: String): String =
      s"""${gramCtesFrom(base)},
        model AS (
          SELECT b, sum(CASE WHEN t.tgt THEN n ELSE 0 END) AS ct, sum(n) AS cr
          FROM bc JOIN tl t USING (doc_id) GROUP BY 1),
        tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM model),
        mw AS (
          SELECT b, CAST(round(1e6 * (ln(ct + 1.0) - ln(cr + 1.0)
            + ln(nr + 4096.0) - ln(nt + 4096.0))) AS HUGEINT) AS lw
          FROM model, tot),
        sc AS (
          SELECT doc_id, sum(n) AS n_grams, sum(CAST(n AS HUGEINT) * lw) AS sm
          FROM bc JOIN mw USING (b) GROUP BY 1)"""

    def weightsSql: String =
      s"""$scoreCtes
        SELECT d.doc_id,
          coalesce(CAST(sc.n_grams AS BIGINT), 0) AS n_grams,
          coalesce(CAST(sc.sm AS DOUBLE) / 1e6, 0.0) AS log_weight
        FROM documents d LEFT JOIN sc USING (doc_id)"""

    def sampleSql(k: Int): String = s"$scoreCtes${gumbelTail("documents", k)}"

    /** Naive-Bayes target-vs-rest classifier over the same hashed-gram
      * relation: class-conditional counts, add-1-smoothed per-bucket llr
      * micro-quantized as HUGEINT, whole-corpus class doc-count prior,
      * exact integer per-document sums — the arithmetic mirror of
      * `Selection.nbQuality` (λ = 1, B = 4096).
      */
    def nbSql: String =
      s"""WITH ${gramCtesFrom("documents")},
        model AS (
          SELECT b, sum(CASE WHEN t.tgt THEN n ELSE 0 END) AS ct,
            sum(CASE WHEN NOT t.tgt THEN n ELSE 0 END) AS cf
          FROM bc JOIN tl t USING (doc_id) GROUP BY 1),
        tot AS (SELECT sum(ct) AS nt, sum(cf) AS nf FROM model),
        prior AS (
          SELECT CAST(round(1e6 * (ln(td + CAST(1 AS DOUBLE))
            - ln(fd + CAST(1 AS DOUBLE)))) AS HUGEINT) AS pm
          FROM (SELECT
              sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS td,
              sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS fd
            FROM tl WHERE doc_id IS NOT NULL)),
        mw AS (
          SELECT b, CAST(round(1e6 * (ln(ct + 1.0) - ln(nt + 1.0 * 4096)
            - ln(cf + 1.0) + ln(nf + 1.0 * 4096))) AS HUGEINT) AS llr
          FROM model, tot),
        sc AS (
          SELECT doc_id, sum(n) AS n_grams, sum(CAST(n AS HUGEINT) * llr) AS sm
          FROM bc JOIN mw USING (b) GROUP BY 1)
        SELECT d.doc_id,
          coalesce(CAST(sc.n_grams AS BIGINT), 0) AS n_grams,
          CAST((coalesce(sc.sm, CAST(0 AS HUGEINT)) + prior.pm) AS DOUBLE) / 1e6
            AS log_odds,
          (coalesce(sc.sm, CAST(0 AS HUGEINT)) + prior.pm) > 0 AS pred_target
        FROM documents d LEFT JOIN sc USING (doc_id), prior"""

    /** Gumbel top-k tail after [[scoreCtesFrom]] (same base relation). */
    def gumbelTail(base: String, k: Int): String =
      s""",
        wsc AS (
          SELECT d.doc_id, coalesce(sc.sm, CAST(0 AS HUGEINT)) AS sm
          FROM $base d LEFT JOIN sc USING (doc_id)),
        gm AS (
          SELECT doc_id, sm, md5(CAST(doc_id AS VARCHAR)) AS m FROM wsc),
        gk AS (
          SELECT doc_id, sm + CAST(round(1e6 * -ln(-ln((
            ((((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1))
            + 0.5) / 65536.0))) AS HUGEINT) AS key_micro
          FROM gm)
        SELECT doc_id, CAST(key_micro AS DOUBLE) / 1e6 AS key
        FROM gk ORDER BY key_micro DESC, doc_id ASC LIMIT $k"""
  }

  /** Shared by q_cdc_merge and q_cdc_merge_stream (the stream compaction
    * folds to the identical final image, so one oracle serves both).
    */
  private val cdcMergeOracle: String =
    """WITH ch AS (
          SELECT doc_id, 2 AS seq, 'upsert' AS op, text || ' v2' AS text
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id, 3, 'delete', NULL FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 1000000, 1, 'upsert', 'ins ' || text
          FROM documents WHERE doc_id % 13 = 0),
        w AS (
          SELECT doc_id, op, text FROM (
            SELECT doc_id, op, text,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY seq DESC, op DESC, text DESC NULLS LAST) AS rn
            FROM ch)
          WHERE rn = 1)
        SELECT coalesce(b.doc_id, w.doc_id) AS doc_id,
          CASE WHEN w.doc_id IS NOT NULL THEN w.text ELSE b.text END AS text,
          CASE WHEN w.doc_id IS NULL THEN 'kept'
               WHEN b.doc_id IS NULL THEN 'inserted'
               ELSE 'updated' END AS origin
        FROM documents b FULL OUTER JOIN w ON b.doc_id = w.doc_id
        WHERE NOT (w.doc_id IS NOT NULL AND w.op = 'delete')"""

  /** Shared by q_attribution_multitouch and its streaming twin (the
    * watermark-closed stream emission equals the batch credit split).
    */
  private val multiTouchOracle: String =
    """WITH m AS (
          SELECT c.event_id AS click_id, p.event_id AS purchase_id,
            p.user_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
            CAST(round(p.value * 100) AS BIGINT) AS value_cents
          FROM events c JOIN events p
            ON c.user_id = p.user_id
            AND c.event_type = 'click' AND p.event_type = 'purchase'
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
        r AS (
          SELECT *,
            row_number() OVER (PARTITION BY purchase_id
              ORDER BY click_ts, click_id) AS pos,
            count(*) OVER (PARTITION BY purchase_id) AS n
          FROM m),
        wgt AS (
          SELECT *,
            CASE WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN pos = 1 OR pos = n THEN 400000
                 ELSE 200000 // (n - 2) END AS weight_micro
          FROM r)
        SELECT purchase_id, click_id, user_id,
          CAST(n AS BIGINT) AS n_clicks, CAST(pos AS INT) AS touch_pos,
          CAST(weight_micro AS BIGINT) AS weight_micro,
          CAST((value_cents * weight_micro) // 1000000 AS BIGINT)
            AS attributed_cents
        FROM wgt"""

  /** Shared by q_scd2 and q_scd2_stream (the stream epoch frames fold to
    * the identical version history).
    */
  private val scd2Oracle: String =
    """WITH log AS (
          SELECT doc_id, 1 AS seq, 'upsert' AS op, text FROM documents
          UNION ALL
          SELECT doc_id, 2, 'upsert', text || ' v2'
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id, 3, 'delete', NULL FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id, 4, 'upsert', text || ' v4'
          FROM documents WHERE doc_id % 10 = 0),
        o AS (
          SELECT doc_id, seq, op, text,
            lead(seq) OVER (PARTITION BY doc_id ORDER BY seq, op, text)
              AS nxt
          FROM log)
        SELECT doc_id, text, seq AS valid_from_seq, nxt AS valid_to_seq,
          (nxt IS NULL) AS is_current
        FROM o WHERE op = 'upsert'"""

  /** DuckDB equivalents over the same parquet tables. */
  def oracleSql: Map[String, String] = Map(
    "q_lineitem_enriched" ->
      """SELECT l.l_orderkey, l.l_linenumber,
          (l.l_extendedprice - l.l_tax - l.l_discount) * 100 AS net_price,
          CASE WHEN l.l_returnflag = 'R' THEN 0.0
               ELSE (l.l_extendedprice - l.l_tax - l.l_discount) * 100 END AS net_price_no_returns,
          c.c_name AS c_name,
          n2.n_name AS c_n_name,
          r.r_name AS r_name,
          p.p_type AS part_type,
          s.s_name AS supp_name,
          CONCAT(l.l_orderkey, '|', l.l_linenumber) AS order_line_key,
          strftime(o.o_orderdate, '%Y%m') AS order_ym
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        LEFT JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        LEFT JOIN region r ON ns.n_regionkey = r.r_regionkey
        LEFT JOIN part p ON l.l_partkey = p.p_partkey""",
    // C9: the emitted-SQL execution path shares the planner row's oracle.
    "q_lineitem_enriched_sql" ->
      """SELECT l.l_orderkey, l.l_linenumber,
          (l.l_extendedprice - l.l_tax - l.l_discount) * 100 AS net_price,
          CASE WHEN l.l_returnflag = 'R' THEN 0.0
               ELSE (l.l_extendedprice - l.l_tax - l.l_discount) * 100 END AS net_price_no_returns,
          c.c_name AS c_name,
          n2.n_name AS c_n_name,
          r.r_name AS r_name,
          p.p_type AS part_type,
          s.s_name AS supp_name,
          CONCAT(l.l_orderkey, '|', l.l_linenumber) AS order_line_key,
          strftime(o.o_orderdate, '%Y%m') AS order_ym
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        LEFT JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        LEFT JOIN region r ON ns.n_regionkey = r.r_regionkey
        LEFT JOIN part p ON l.l_partkey = p.p_partkey""",
    "q_customer_aggs" ->
      """SELECT c.c_custkey,
          coalesce(a.cnt, 0) AS order_cnt,
          a.total AS total_spent_cents,
          n.n_name AS nation_name
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(o_orderkey) cnt,
                          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) total
                   FROM orders GROUP BY o_custkey) a ON c.c_custkey = a.o_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""",
    // A4 envelope: exact count oracled; the sketch bound is engine-side.
    "q_approx_bounds" ->
      """SELECT c.c_custkey, coalesce(a.cnt, 0) AS order_cnt, TRUE AS approx_ok
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(o_orderkey) cnt
                   FROM orders GROUP BY o_custkey) a ON c.c_custkey = a.o_custkey""",
    "q_nation_suppliers" ->
      """SELECT n.n_nationkey, n.n_name,
          coalesce(a.cnt, 0) AS supplier_cnt,
          a.bal AS supplier_acctbal_cents
        FROM nation n
        LEFT JOIN (SELECT s_nationkey, count(s_suppkey) cnt,
                          CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) bal
                   FROM supplier GROUP BY s_nationkey) a ON n.n_nationkey = a.s_nationkey""",
    "q_customer_percentiles" ->
      """SELECT c.c_custkey,
          a.med AS median_order,
          a.p25 AS p25_order,
          coalesce(array_to_string(a.sts, ','), '') AS statuses,
          coalesce(a.open, FALSE) AS has_open_order
        FROM customer c
        LEFT JOIN (SELECT o_custkey,
                     median(o_totalprice) med,
                     quantile_cont(o_totalprice, 0.25) p25,
                     list_sort(list(DISTINCT o_orderstatus)) sts,
                     bool_or(o_orderstatus = 'O') open
                   FROM orders GROUP BY o_custkey) a ON c.c_custkey = a.o_custkey""",
    "q_orders_window" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
          CAST(rank() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS price_rank_in_cust
        FROM orders""",
    "q_self_theta" ->
      """SELECT a.o_orderkey, b.o_orderpriority AS self_prio,
          p.cnt AS n_prior_orders,
          p.cents AS prior_spent_cents
        FROM orders a
        LEFT JOIN orders b ON a.o_orderkey = b.o_orderkey
        LEFT JOIN (
          SELECT a2.o_orderkey AS k,
                 count(b2.o_orderkey) AS cnt,
                 CAST(sum(CAST(round(b2.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM orders a2 LEFT JOIN orders b2
            ON a2.o_custkey = b2.o_custkey AND b2.o_orderdate < a2.o_orderdate
          GROUP BY a2.o_orderkey) p ON a.o_orderkey = p.k""",
    "q_solo_order" ->
      """SELECT c.c_custkey, o.o_orderpriority AS solo_order_prio
        FROM customer c LEFT JOIN
          (SELECT o_custkey, o_orderpriority,
                  count(*) OVER (PARTITION BY o_custkey) = 1 AS uv
           FROM orders) o
        ON c.c_custkey = o.o_custkey AND o.uv""",
    "q_struct_keys" ->
      """SELECT event_id,
          CAST(props->>'$.k' AS BIGINT) AS pk,
          CAST(props->>'$.k' AS BIGINT) AS meta_k
        FROM events""",
    "q_struct_output" ->
      """SELECT event_id,
          CAST(props->>'$.k' AS BIGINT) AS k_out,
          event_type AS et
        FROM events""",
    "q_part_decimal" ->
      """SELECT p_partkey,
          CAST(CAST(CAST(round(p_retailprice * 100) AS BIGINT) AS DECIMAL(38,12)) AS VARCHAR) AS retail_cents_str,
          CAST(p_size AS VARCHAR) AS size_str,
          CAST(CAST(CAST(round(p_retailprice * 100) AS BIGINT) * 3 AS DECIMAL(38,12)) AS VARCHAR) AS retail_x3_str
        FROM part""",
    "q_feature_customer" ->
      """SELECT c.c_name AS customer,
          strftime(o.o_orderdate, '%Y%m') AS ship_ym,
          CAST(sum(CAST(round((l.l_extendedprice - l.l_tax - l.l_discount) * 100) AS BIGINT))
               AS BIGINT) AS net_price_100
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_shipdate BETWEEN '1993-01-01' AND '1998-12-31'
        GROUP BY c.c_name, strftime(o.o_orderdate, '%Y%m')""",
    // S3 materialized-hub path: same result contract as the lazy plan.
    "q_feature_customer_mat" ->
      """SELECT c.c_name AS customer,
          strftime(o.o_orderdate, '%Y%m') AS ship_ym,
          CAST(sum(CAST(round((l.l_extendedprice - l.l_tax - l.l_discount) * 100) AS BIGINT))
               AS BIGINT) AS net_price_100
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_shipdate BETWEEN '1993-01-01' AND '1998-12-31'
        GROUP BY c.c_name, strftime(o.o_orderdate, '%Y%m')""",
    "q_party_summary" ->
      """SELECT c_name AS party_name, c_mktsegment AS party_type,
          c_acctbal AS acctbal, c_nationkey AS nation_key
        FROM customer
        UNION ALL
        SELECT s_name, CAST(null AS VARCHAR), s_acctbal, s_nationkey
        FROM supplier""",
    // S4/S6 file-sink round trip shares the planner row's oracle.
    "q_party_summary_file" ->
      """SELECT c_name AS party_name, c_mktsegment AS party_type,
          c_acctbal AS acctbal, c_nationkey AS nation_key
        FROM customer
        UNION ALL
        SELECT s_name, CAST(null AS VARCHAR), s_acctbal, s_nationkey
        FROM supplier""",
    "q_order_stats" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
          count(DISTINCT o_custkey) AS n_customers,
          count(o_orderkey) AS n_orders,
          max(o_totalprice) AS max_price,
          min(o_totalprice) AS min_price
        FROM orders
        GROUP BY 1""",
    "q_text_stats" ->
      """SELECT doc_id,
          CAST(length(text) AS INTEGER) AS n_chars,
          CAST(len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) AS INTEGER) AS n_tokens,
          CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE) AS alpha_ratio,
          CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS DOUBLE) AS punct_ratio,
          CAST(length(replace(text, ' ', '')) AS DOUBLE)
            / CAST(len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) AS DOUBLE) AS avg_token_len
        FROM documents""",
    "q_lang_id" ->
      s"""SELECT doc_id,
          ${TextAnalysis.langPredCaseDuck} AS lang_pred
        FROM (
          SELECT doc_id, text,
            ${TextAnalysis.langScoresDuck}
          FROM (SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
                FROM documents))""",
    "q_token_counts" ->
      """SELECT doc_id,
          CAST(len(list_filter(string_split_regex(lower(text), ' +'), t -> t != '')) AS INTEGER) AS ws_tokens,
          CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INTEGER) AS bpe_tokens
        FROM documents""",
    "q_quality" ->
      s"""SELECT doc_id,
          round(
            least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
            (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE)) * 0.4 +
            least(CAST(len(list_filter(tk, t -> t IN
                (${TextAnalysis.allStopDuck}))) AS DOUBLE)
               / CAST(len(tk) AS DOUBLE) * 5.0, 1.0) * 0.2
          , 6) AS quality
        FROM (SELECT doc_id, text,
                list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
              FROM documents)""",
    // Gopher rules: identical integer counts and IEEE ratio divisions;
    // symbol counts via length-difference (never regex), lines split on
    // chr(10) ('\n' is an escape in Spark SQL literals, a literal
    // backslash-n in DuckDB), NULL measurements fail rules via coalesce.
    "q_gopher_rules" ->
      """WITH base AS (
          SELECT doc_id,
            coalesce(list_filter(string_split_regex(lower(text), ' +'), t -> t != ''),
                     CAST([] AS VARCHAR[])) AS ts,
            coalesce(list_filter(string_split(text, chr(10)), l -> trim(l) != ''),
                     CAST([] AS VARCHAR[])) AS ls,
            text
          FROM documents),
        m AS (
          SELECT doc_id,
            CAST(len(ts) AS BIGINT) AS nw,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts) END AS mwl,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) / len(ts) END AS hr,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST((length(text) - length(replace(text, '...', ''))) // 3
                + (length(text) - length(replace(text, '…', ''))) AS DOUBLE) / len(ts) END AS er,
            CASE WHEN len(ls) = 0 THEN NULL ELSE
              CAST(len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('•','‣','▪','-','*'))) AS DOUBLE)
                / len(ls) END AS br,
            CASE WHEN len(ls) = 0 THEN NULL ELSE
              CAST(len(list_filter(ls, l -> right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…')) AS DOUBLE)
                / len(ls) END AS elr,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(ts) END AS ar,
            CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
              s -> list_contains(ts, s))) AS BIGINT) AS sh
          FROM base)
        SELECT doc_id,
          nw AS n_words,
          round(mwl, 6) AS mean_word_len,
          round(hr, 6) AS hash_word_ratio,
          round(er, 6) AS ellipsis_word_ratio,
          round(br, 6) AS bullet_line_ratio,
          round(elr, 6) AS ellipsis_line_ratio,
          round(ar, 6) AS alpha_word_ratio,
          sh AS n_stop_hits,
          (nw >= 50 AND nw <= 100000) AS r_word_count,
          coalesce(mwl >= 3.0 AND mwl <= 10.0, false) AS r_word_len,
          coalesce(hr <= 0.1 AND er <= 0.1, false) AS r_symbol,
          coalesce(br <= 0.9, false) AS r_bullet,
          coalesce(elr <= 0.3, false) AS r_ellipsis,
          coalesce(ar >= 0.8, false) AS r_alpha,
          (sh >= 2) AS r_stop,
          ((nw >= 50 AND nw <= 100000)
            AND coalesce(mwl >= 3.0 AND mwl <= 10.0, false)
            AND coalesce(hr <= 0.1 AND er <= 0.1, false)
            AND coalesce(br <= 0.9, false)
            AND coalesce(elr <= 0.3, false)
            AND coalesce(ar >= 0.8, false)
            AND sh >= 2) AS gopher_keep
        FROM m""",
    // C4 rules: same discipline as the Gopher mirror — lines split on
    // chr(10) and space-trimmed, word floors on the shared ' +' split,
    // sentence counts via length-difference, page gates coalesce to
    // false on NULL text. text_clean is hashed too, pinning the exact
    // line-rewrite semantics cross-engine.
    "q_c4_rules" ->
      s"""WITH pages AS (
          SELECT doc_id, $c4Page AS text FROM documents),
        base AS (
          SELECT doc_id, text,
            coalesce(list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> l != ''), CAST([] AS VARCHAR[])) AS ls
          FROM pages),
        k AS (
          SELECT doc_id, text, ls,
            list_filter(ls, l ->
              right(l, 1) IN ('.', '!', '?', '"', '”')
              AND len(list_filter(string_split_regex(lower(l), ' +'), t -> t != '')) >= 5
              AND NOT contains(lower(l), 'javascript')
              AND NOT (contains(lower(l), 'terms of use') OR contains(lower(l), 'privacy policy')
                OR contains(lower(l), 'cookie policy') OR contains(lower(l), 'uses cookies')
                OR contains(lower(l), 'use of cookies') OR contains(lower(l), 'use cookies'))) AS ks
          FROM base),
        m AS (
          SELECT doc_id, text,
            CAST(len(ls) AS BIGINT) AS nl,
            CAST(len(ks) AS BIGINT) AS nk,
            coalesce(array_to_string(ks, chr(10)), '') AS tc
          FROM k),
        s AS (
          SELECT doc_id, text, nl, nk, tc,
            CAST((length(tc) - length(replace(tc, '.', '')))
              + (length(tc) - length(replace(tc, '!', '')))
              + (length(tc) - length(replace(tc, '?', ''))) AS BIGINT) AS ns
          FROM m)
        SELECT doc_id,
          nl AS n_lines,
          nk AS n_kept_lines,
          ns AS n_sentences,
          tc AS text_clean,
          (ns >= 3) AS r_sentences,
          coalesce(NOT contains(lower(text), 'lorem ipsum'), false) AS r_lorem,
          coalesce(NOT contains(text, '{'), false) AS r_brace,
          ((ns >= 3)
            AND coalesce(NOT contains(lower(text), 'lorem ipsum'), false)
            AND coalesce(NOT contains(text, '{'), false)) AS c4_keep
        FROM s""",
    "q_fingerprint" ->
      """SELECT doc_id,
          md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS fp_md5
        FROM documents""",
    "q_pii_scrub" ->
      """SELECT doc_id, text_scrubbed, (text_scrubbed != text) AS has_pii
        FROM (SELECT doc_id, text,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
            '\+?\d[\d() -]{7,}\d', '<PHONE>', 'g') AS text_scrubbed
        FROM (SELECT doc_id,
                text || ' mail u' || CAST(doc_id AS VARCHAR) || '@ex.org ip 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555'
                  || CAST(1000000 + doc_id AS VARCHAR) AS text
              FROM documents))""",
    "q_domain_stats" ->
      """WITH aug AS (
          SELECT doc_id,
            text || ' see https://Ex' || CAST(doc_id % 20 AS VARCHAR)
              || '.org/p/' || CAST(doc_id AS VARCHAR) AS text
          FROM documents),
        u AS (
          SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r/]+[^ \t\n\x0B\f\r]*')) AS url
          FROM aug)
        SELECT lower(regexp_extract(url, 'https?://([^/:?#]+)', 1)) AS domain,
          count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        FROM u GROUP BY 1""",
    // URL canonicalization: every primitive mirrored function-for-
    // function (regexp_extract with coalesce'd no-match, split/filter/
    // sort/join on params, md5 of the canonical form; NULL propagates
    // through the non-http route in both engines)
    "q_url_canon" ->
      """WITH u AS (
          SELECT doc_id,
            CASE CAST(doc_id % 4 AS INT)
              WHEN 0 THEN 'HTTP://Ex' || CAST(doc_id % 20 AS VARCHAR)
                || '.ORG:80/P/' || CAST(doc_id AS VARCHAR) || '?utm_source=feed&b=2&a=1#top'
              WHEN 1 THEN 'https://ex' || CAST(doc_id % 20 AS VARCHAR)
                || '.org/p/' || CAST(doc_id AS VARCHAR) || '/?gclid='
                || CAST(doc_id AS VARCHAR) || '&z=9&a=1&a=0'
              WHEN 2 THEN 'HTTPS://EX' || CAST(doc_id % 20 AS VARCHAR)
                || '.org:8443?fbclid=abc&utm_campaign=x'
              ELSE 'ftp://ex' || CAST(doc_id AS VARCHAR) || '.org/skip'
            END AS url
          FROM documents),
        p1 AS (
          SELECT doc_id, url,
            lower(coalesce(regexp_extract(url, '^([a-zA-Z]+)://', 1), '')) AS scheme,
            coalesce(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1), '') AS hostport,
            coalesce(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^#]*)', 1), '') AS rest
          FROM u),
        p2 AS (
          SELECT doc_id, url, scheme, hostport,
            lower(coalesce(regexp_extract(hostport, '^([^:]*)', 1), '')) AS host,
            coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS port,
            coalesce(regexp_extract(rest, '^([^?]*)', 1), '') AS path,
            coalesce(regexp_extract(rest, '[?](.*)$', 1), '') AS q
          FROM p1),
        p3 AS (
          SELECT *, list_sort(list_filter(string_split(q, '&'),
              p -> p != '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=.*)?$')))
            AS params
          FROM p2),
        canon AS (
          SELECT doc_id, url,
            CASE WHEN scheme IN ('http', 'https') AND hostport != '' THEN
              scheme || '://' || host
              || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443') THEN ''
                      ELSE ':' || port END
              || CASE WHEN path = '' THEN '/' ELSE path END
              || CASE WHEN len(params) > 0
                      THEN '?' || array_to_string(params, '&') ELSE '' END
            ELSE NULL END AS url_canon
          FROM p3)
        SELECT doc_id, url, url_canon, md5(url_canon) AS url_key FROM canon""",
    // Unicode normalization: the planted suffixes come from the SAME
    // Scala constant as the Spark side (sqlStr-embedded); each step is
    // mirrored function-for-function (regexp_replace needs DuckDB's 'g'
    // flag — Spark replaces all matches by default), the regex classes
    // are the shared Java/RE2-common-subset constants, and nfc_normalize
    // (utf8proc) mirrors text_nfc (java.text.Normalizer) — both UAX #15,
    // identical on Unicode-stable codepoints. length() counts codepoints
    // in both engines, so the per-step deltas are exact.
    "q_unicode_clean" ->
      s"""WITH aug AS (
          SELECT doc_id, text || CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN ${sqlStr(uncleanSuffixes(0))}
            WHEN 1 THEN ${sqlStr(uncleanSuffixes(1))}
            WHEN 2 THEN ${sqlStr(uncleanSuffixes(2))}
            WHEN 3 THEN ${sqlStr(uncleanSuffixes(3))}
            ELSE '' END AS text
          FROM documents),
        t1 AS (SELECT doc_id, text,
          regexp_replace(regexp_replace(text, ${sqlStr("\r\n")}, ${sqlStr("\n")}, 'g'),
            ${sqlStr("\r")}, ${sqlStr("\n")}, 'g') AS a
          FROM aug),
        t2 AS (SELECT *, regexp_replace(a, '${graft.operators.TextAnalysis.zeroWidthClass}', '', 'g') AS b FROM t1),
        t3 AS (SELECT *, regexp_replace(b, '${graft.operators.TextAnalysis.controlClass}', '', 'g') AS c FROM t2)
        SELECT doc_id, nfc_normalize(c) AS text_norm,
          length(text) - length(a) AS n_crlf_fixed,
          length(a) - length(b) AS n_zero_width,
          length(b) - length(c) AS n_control,
          nfc_normalize(c) != c AS was_denormalized,
          nfc_normalize(c) != text AS changed
        FROM t3""",
    // SymSpell fuzzy vocabulary map: the typo plant reuses the SAME
    // FuzzyTypo expression templates as the Spark side (only the
    // integer-division spelling differs); tokenization/vocab mirror
    // q_vocabulary; deletion variants via generate_series (i = 0 keeps
    // the word — the SymSpell losslessness trick); exact levenshtein
    // verify; argmax tie-break as max-freq rejoin + min(canon).
    "q_fuzzy_vocab" ->
      s"""WITH nn AS (SELECT greatest(1, count(*) // 2000) AS m FROM documents),
        hh AS (SELECT doc_id, text,
          md5(concat('fz', CAST(doc_id AS VARCHAR))) AS __h FROM documents),
        s1 AS (SELECT doc_id, text, ${FuzzyTypo.hex6} AS __hv FROM hh),
        s2 AS (SELECT *, ${FuzzyTypo.base} AS __base FROM s1),
        s3 AS (SELECT *, ${FuzzyTypo.op("//")} AS __op, ${FuzzyTypo.pos("//")} AS __pos,
          ${FuzzyTypo.letter("//")} AS __letter FROM s2),
        s4 AS (SELECT doc_id, CASE WHEN doc_id % (SELECT m FROM nn) = 0
          THEN concat(text, ' ', ${FuzzyTypo.typo}) ELSE text END AS text FROM s3),
        tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), ' +'),
                              t -> t != '')) AS token
          FROM s4),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM tk GROUP BY 1, 2),
        vocab AS (SELECT token AS word, CAST(sum(tf_doc) AS BIGINT) AS freq
          FROM pd GROUP BY 1),
        vf AS (SELECT word, freq FROM vocab
          WHERE regexp_matches(word, '^[a-z]+${"$"}') AND length(word) >= 4),
        rv AS (SELECT DISTINCT word, freq,
            CASE WHEN i = 0 THEN word
                 ELSE substr(word, 1, i - 1) || substr(word, i + 1) END AS v
          FROM vf, unnest(generate_series(0, length(word))) AS u(i)
          WHERE freq <= 2),
        cv AS (SELECT DISTINCT word AS canon, freq AS canon_freq,
            CASE WHEN i = 0 THEN word
                 ELSE substr(word, 1, i - 1) || substr(word, i + 1) END AS v
          FROM vf, unnest(generate_series(0, length(word))) AS u(i)
          WHERE freq >= 10),
        cand AS (SELECT DISTINCT r.word, r.freq, c.canon, c.canon_freq
          FROM rv r JOIN cv c ON r.v = c.v AND r.word != c.canon
          WHERE levenshtein(r.word, c.canon) <= 1),
        best AS (SELECT word, max(canon_freq) AS mf FROM cand GROUP BY 1)
        SELECT c.word AS word, c.freq AS freq, min(c.canon) AS canon,
          c.canon_freq AS canon_freq
        FROM cand c JOIN best b ON c.word = b.word AND c.canon_freq = b.mf
        GROUP BY c.word, c.freq, c.canon_freq""",
    "q_split" ->
      """WITH h AS (
          SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        b AS (
          SELECT doc_id,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h)
        SELECT doc_id,
          CASE WHEN bucket < 52429 THEN 'train'
               WHEN bucket < 58982 THEN 'val'
               ELSE 'test' END AS split
        FROM b""",
    // weighted sample mirrored: same md5-bucket arithmetic as q_split,
    // same all-integer keep predicate, W_total from a 1-row scalar
    "q_weighted_sample" ->
      """WITH w AS (
          SELECT doc_id, text, lang, source, n_chars,
            CAST(n_chars AS BIGINT) AS wv,
            md5(CAST(doc_id AS VARCHAR)) AS m
          FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        t AS (SELECT sum(wv) AS wt FROM w),
        b AS (
          SELECT w.*,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM w)
        SELECT doc_id, text, lang, source, n_chars FROM b, t
        WHERE bucket * wt < 65536 * 300 * wv""",
    "q_token_histogram" ->
      """WITH t AS (
          SELECT len(list_filter(string_split_regex(lower(text), ' +'),
                     t -> t != '')) AS n_tokens
          FROM documents)
        SELECT CAST(n_tokens // 16 AS INTEGER) AS bucket,
          count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
          CAST(n_tokens // 16 AS INTEGER) * 16 AS bucket_lo
        FROM t GROUP BY 1, 4""",
    "q_vocabulary" ->
      """WITH tk AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), ' +'),
                                t -> t != '')) AS token
          FROM documents),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM tk GROUP BY 1, 2)
        SELECT token, CAST(sum(tf_doc) AS BIGINT) AS tf, count(*) AS df
        FROM pd GROUP BY 1""",
    "q_surprise" ->
      """WITH tk AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), ' +'),
                                t -> t != '')) AS token
          FROM documents),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM tk GROUP BY 1, 2),
        tot AS (SELECT token, CAST(sum(tf_doc) AS BIGINT) AS tf FROM pd GROUP BY 1),
        n AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM tot),
        q AS (
          SELECT pd.doc_id, pd.tf_doc,
            CAST(round(1e6 * CAST(n.n AS DOUBLE) / CAST(tot.tf AS DOUBLE)) AS DECIMAL(38,0)) AS ip_micro
          FROM pd JOIN tot USING (token) CROSS JOIN n)
        SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_tokens,
          round(CAST(sum(tf_doc * ip_micro) AS DOUBLE)
            / (1e6 * CAST(sum(tf_doc) AS DOUBLE)), 6) AS surprise
        FROM q GROUP BY 1""",
    "q_top_terms" ->
      """WITH tk AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), ' +'),
                                t -> t != '')) AS token
          FROM documents),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM tk GROUP BY 1, 2),
        v AS (SELECT token, count(*) AS df FROM pd GROUP BY 1),
        sc AS (
          SELECT pd.doc_id, pd.token,
            round(CAST(pd.tf_doc AS DOUBLE)
              * CAST((SELECT count(*) FROM documents) AS DOUBLE)
              / CAST(v.df AS DOUBLE), 6) AS score
          FROM pd JOIN v USING (token))
        SELECT doc_id, token, score, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, token) AS rn FROM sc)
        WHERE rn <= 5""",
    "q_repetition" ->
      """WITH tk AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), ' +'),
                                t -> t != '')) AS token
          FROM documents),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM tk GROUP BY 1, 2),
        agg AS (
          SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_tokens,
                 count(*) AS n_distinct, max(tf_doc) AS mx
          FROM pd GROUP BY 1)
        SELECT doc_id, n_tokens, n_distinct,
          round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            AS repetition_ratio,
          round(CAST(mx AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS top_token_share
        FROM agg""",
    "q_json_flatten" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events""",
    "q_multimodal_decode" ->
      """SELECT doc_id AS media_id,
          CAST(octet_length(encode(text)) + 8 AS INTEGER) AS n_bytes,
          'image/fake' AS mime,
          CAST(n_chars % 65536 AS INTEGER) AS width,
          CAST(64 AS INTEGER) AS height,
          CAST(n_chars % 7 + 1 AS INTEGER) AS n_frames
        FROM documents""",
    // WebP: the generator contract (Multimodal.syntheticWebpFromDocs) in
    // arithmetic — variant doc_id % 3 (VP8L 26 B / VP8 30 B / VP8X
    // animated 30 + 8·frames B), dims doc_id % 300 + 1 × doc_id % 200 + 1
    "q_webp_decode" ->
      """SELECT doc_id AS media_id,
          CAST(CASE doc_id % 3 WHEN 0 THEN 26 WHEN 1 THEN 30
            ELSE 30 + 8 * (doc_id % 5 + 1) END AS INTEGER) AS n_bytes,
          'image/webp' AS mime,
          CAST(doc_id % 300 + 1 AS INTEGER) AS width,
          CAST(doc_id % 200 + 1 AS INTEGER) AS height,
          CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 5 + 1 ELSE 1 END
            AS INTEGER) AS n_frames
        FROM documents""",
    // compressed audio: the generator contract
    // (Multimodal.syntheticAudioFormatsFromDocs) in arithmetic — variant
    // doc_id % 3 (FLAC 42 B / MP3 kbps·125·seconds (+20 ID3 when
    // doc_id % 6 = 4) / OGG 87 B), fields driven by k = doc_id // 3
    "q_audio_formats" ->
      """WITH base AS (
          SELECT doc_id, doc_id % 3 AS v, doc_id // 3 AS k FROM documents),
        m AS (
          SELECT doc_id, v, k,
            list_value(8000, 16000, 22050, 24000, 32000, 44100, 48000)[CAST(k % 7 AS INT) + 1] AS arate,
            list_value(32, 40, 48, 56, 64)[CAST(k % 5 AS INT) + 1] AS kbps,
            CAST(k % 2 + 1 AS INTEGER) AS seconds,
            list_value(44100, 48000, 32000)[CAST(k % 3 AS INT) + 1] AS mrate
          FROM base)
        SELECT doc_id AS media_id,
          CAST(CASE v WHEN 0 THEN 42
            WHEN 1 THEN kbps * 125 * seconds
              + CASE WHEN doc_id % 6 = 4 THEN 20 ELSE 0 END
            ELSE 87 END AS INTEGER) AS n_bytes,
          CASE v WHEN 0 THEN 'audio/flac' WHEN 1 THEN 'audio/mpeg'
            ELSE 'audio/ogg' END AS mime,
          CAST(CASE v WHEN 1 THEN mrate ELSE arate END AS INTEGER) AS width,
          CAST(CASE v WHEN 1 THEN (CASE WHEN k % 2 = 1 THEN 1 ELSE 2 END)
            ELSE k % 2 + 1 END AS INTEGER) AS height,
          CAST(CASE v WHEN 0 THEN doc_id % 90000 + 1000
            WHEN 1 THEN seconds
            ELSE doc_id % 50000 + 500 END AS INTEGER) AS n_frames
        FROM m""",
    "q_frame_sample" ->
      """WITH m AS (
          SELECT doc_id AS media_id, CAST(n_chars % 7 + 1 AS INTEGER) AS n_frames
          FROM documents),
        f AS (SELECT media_id, n_frames, unnest(range(0, least(n_frames, 4))) AS i
              FROM m)
        SELECT media_id,
          CAST(floor(CAST(i AS DOUBLE)
            * greatest(CAST(n_frames AS DOUBLE) / 4.0, 1.0)) AS INTEGER) AS frame_index
        FROM f""",
    "q_pixel_stats" ->
      """SELECT doc_id AS media_id,
          TRUE AS decode_ok,
          CAST(doc_id % 16 + 1 AS INTEGER) AS width,
          CAST(doc_id % 8 + 1 AS INTEGER) AS height,
          CAST((doc_id * 37) % 256 AS DOUBLE) AS mean_r,
          CAST((doc_id * 59) % 256 AS DOUBLE) AS mean_g,
          CAST((doc_id * 83) % 256 AS DOUBLE) AS mean_b,
          round(0.299 * CAST((doc_id * 37) % 256 AS DOUBLE)
              + 0.587 * CAST((doc_id * 59) % 256 AS DOUBLE)
              + 0.114 * CAST((doc_id * 83) % 256 AS DOUBLE), 6) AS mean_luma
        FROM documents""",
    // image near-dup: the oracle rebuilds each doc's 9×8 grid from the
    // generator contract (md5 hex pairs, cell-0 flip for doc_id ≡ 1 mod
    // 50), derives the 64 gradient bits, packs 4 × 16-bit bands, joins on
    // shared bands, and popcounts the xor — the identical deterministic
    // relation the engine computes from real decoded pixels
    "q_image_dedup" ->
      """WITH ids AS (
          SELECT doc_id AS d,
            CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END AS base
          FROM documents),
        cells AS (
          SELECT d, c, CASE WHEN d % 50 = 1 AND c = 0 THEN 255 - v ELSE v END AS v
          FROM (
            SELECT d, c,
              (instr('0123456789abcdef', substr(m, (c % 16) * 2 + 1, 1)) - 1) * 16
                + (instr('0123456789abcdef', substr(m, (c % 16) * 2 + 2, 1)) - 1) AS v
            FROM (
              SELECT d, u.c,
                md5(CAST(base AS VARCHAR) || ':' || CAST(c // 16 AS VARCHAR)) AS m
              FROM ids, unnest(generate_series(0, 71)) AS u(c)))),
        bits AS (
          SELECT a.d, (a.c // 9) * 8 + (a.c % 9) AS bit
          FROM cells a JOIN cells b ON b.d = a.d AND b.c = a.c + 1
          WHERE a.c % 9 < 8 AND b.v > a.v),
        bagg AS (
          SELECT d, bit // 16 AS k, sum(CAST(1 AS BIGINT) << (bit % 16)) AS band
          FROM bits GROUP BY 1, 2),
        bands AS (
          SELECT i.d, u.k, coalesce(b.band, 0) AS band
          FROM ids i CROSS JOIN unnest(generate_series(0, 3)) AS u(k)
          LEFT JOIN bagg b ON b.d = i.d AND b.k = u.k),
        sigs AS (
          SELECT d,
            max(CASE WHEN k = 0 THEN band END) AS b0,
            max(CASE WHEN k = 1 THEN band END) AS b1,
            max(CASE WHEN k = 2 THEN band END) AS b2,
            max(CASE WHEN k = 3 THEN band END) AS b3
          FROM bands GROUP BY 1),
        rep AS (SELECT b0, b1, b2, b3, min(d) AS rep
                FROM sigs GROUP BY 1, 2, 3, 4),
        classes AS (
          SELECT r.rep AS id_a, s.d AS id_b, CAST(0 AS INTEGER) AS hamming
          FROM sigs s JOIN rep r USING (b0, b1, b2, b3)
          WHERE s.d != r.rep),
        rbands AS (
          SELECT rep AS d, unnest([b0, b1, b2, b3]) AS band,
            unnest([0, 1, 2, 3]) AS k
          FROM rep),
        pairs AS (
          SELECT DISTINCT a.d AS id_a, b.d AS id_b
          FROM rbands a JOIN rbands b ON a.k = b.k AND a.band = b.band AND a.d < b.d)
        SELECT p.id_a, p.id_b,
          CAST(sum(bit_count(xor(x.band, y.band))) AS INTEGER) AS hamming
        FROM pairs p
        JOIN rbands x ON x.d = p.id_a
        JOIN rbands y ON y.d = p.id_b AND y.k = x.k
        GROUP BY 1, 2
        HAVING sum(bit_count(xor(x.band, y.band))) <= 8
        UNION ALL SELECT id_a, id_b, hamming FROM classes""",
    "q_mix_report" ->
      """SELECT lang, source, count(*) AS n_docs,
          CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
          round(CAST(count(*) AS DOUBLE)
            / CAST((SELECT count(*) FROM documents) AS DOUBLE) * 100.0, 6) AS pct_docs
        FROM documents GROUP BY 1, 2""",
    "q_mix_rollup" ->
      """SELECT lang, source, count(*) AS n_docs,
          CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
          CAST(GROUPING(lang, source) AS INTEGER) AS level
        FROM documents GROUP BY ROLLUP(lang, source)""",
    "q_dedup_exact" ->
      """SELECT doc_id,
          min(doc_id) OVER (PARTITION BY h) AS canonical_id,
          count(*) OVER (PARTITION BY h) AS dup_count,
          doc_id = min(doc_id) OVER (PARTITION BY h) AS is_canonical
        FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')))) AS h
              FROM documents)""",
    "q_line_dedup" ->
      """WITH d AS (
          SELECT doc_id, text || chr(10) || 'SHARED FOOTER ' || CAST(doc_id % 3 AS VARCHAR)
              || CASE WHEN doc_id % 250 = 0 THEN chr(10) || 'PAIR LINE' ELSE '' END AS text
          FROM documents),
        p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d),
        l AS (SELECT doc_id, i AS idx, parts[i + 1] AS line
              FROM p, LATERAL (SELECT unnest(range(len(parts))) AS i) g),
        f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1),
        m AS (SELECT l.doc_id, l.idx, l.line, f.df >= 2 AS hot
              FROM l JOIN f USING (line))
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_lines,
          CAST(sum(CASE WHEN NOT hot THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
          coalesce(string_agg(CASE WHEN NOT hot THEN line END, chr(10) ORDER BY idx), '')
            AS text_deduped
        FROM m GROUP BY 1""",
    "q_clean_corpus" ->
      s"""WITH tk AS (
          SELECT doc_id, text,
            list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        dd AS (
          SELECT doc_id,
            min(doc_id) OVER (PARTITION BY h) AS canonical_id,
            count(*) OVER (PARTITION BY h) AS dup_count
          FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))) AS h
                FROM documents)),
        qual AS (
          SELECT doc_id,
            round(
              least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
              (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE)) * 0.4 +
              least(CAST(len(list_filter(tk, t -> t IN
                  (${TextAnalysis.allStopDuck}))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE) * 5.0, 1.0) * 0.2
            , 6) AS quality
          FROM tk),
        lang AS (
          SELECT doc_id,
            ${TextAnalysis.langPredCaseDuck} AS lang_pred
          FROM (
            SELECT doc_id, text,
              ${TextAnalysis.langScoresDuck}
            FROM tk)),
        st AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens FROM tk)
        SELECT d.doc_id, lang.lang_pred, qual.quality, st.n_tokens, d.dup_count
        FROM dd d
        JOIN qual USING (doc_id)
        JOIN lang USING (doc_id)
        JOIN st USING (doc_id)
        WHERE d.doc_id = d.canonical_id
          AND qual.quality >= 0.3
          AND st.n_tokens >= 8
          AND lang.lang_pred IN (${TextAnalysis.keepLangsDuck})""",
    // Near-dup-aware cleaning: WITH RECURSIVE closure over the exact pair
    // relation (== the MinHash pair relation, proven by q_minhash_pairs)
    // for component canonicals, plus the q_clean_corpus floors.
    "q_clean_neardup" ->
      s"""WITH RECURSIVE toks AS (
          SELECT doc_id, text,
            list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        prs AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
                  UNION SELECT doc_b, doc_a FROM prs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a),
        comp AS (
          SELECT d.doc_id,
            least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id),
        qual AS (
          SELECT doc_id,
            round(
              least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
              (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE)) * 0.4 +
              least(CAST(len(list_filter(tk, t -> t IN
                  (${TextAnalysis.allStopDuck}))) AS DOUBLE)
                 / CAST(len(tk) AS DOUBLE) * 5.0, 1.0) * 0.2
            , 6) AS quality
          FROM toks),
        lang AS (
          SELECT doc_id,
            ${TextAnalysis.langPredCaseDuck} AS lang_pred
          FROM (
            SELECT doc_id, text,
              ${TextAnalysis.langScoresDuck}
            FROM toks)),
        st AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens FROM toks)
        SELECT c.doc_id, lang.lang_pred, qual.quality, st.n_tokens
        FROM comp c
        JOIN qual USING (doc_id)
        JOIN lang USING (doc_id)
        JOIN st USING (doc_id)
        WHERE c.doc_id = c.component_id
          AND qual.quality >= 0.3
          AND st.n_tokens >= 8
          AND lang.lang_pred IN (${TextAnalysis.keepLangsDuck})""",
    // Curation chain: the gate mirrors are q_gopher_rules (minWords=10)
    // and q_c4_rules reduced to their keep booleans over the SAME planted
    // page; exact dedup is the q_exact_dedup md5 canonical as a window
    // min; near-dup pairs are the exact-Jaccard inverted index
    // (value-equal to the engine's MinHash pairs — the q_minhash_pairs /
    // q_clean_neardup precedent, over a SUBSET where shingle frequencies
    // only drop); components are the recursive-CTE min-label closure;
    // selection re-embeds the full DSIR mirror over the survivors.
    // pages/ex/canon are AS MATERIALIZED: each is referenced by several
    // downstream chains, and DuckDB otherwise INLINES them — the pair
    // self-join and recursion get re-planned inside every gram pipeline
    // and the single query exceeds a 100 GB spill at sf3; materialized,
    // the whole chain runs in ~70 s there (each stage is survivor-sized).
    "q_curate_corpus" ->
      s"""WITH RECURSIVE pages AS MATERIALIZED (
          SELECT doc_id, lang, text, $c4Page AS page FROM documents),
        gb AS (
          SELECT doc_id, page,
            coalesce(list_filter(string_split_regex(lower(page), ' +'), t -> t != ''),
                     CAST([] AS VARCHAR[])) AS ts,
            coalesce(list_filter(string_split(page, chr(10)), l -> trim(l) != ''),
                     CAST([] AS VARCHAR[])) AS ls
          FROM pages),
        gmeas AS (
          SELECT doc_id,
            CAST(len(ts) AS BIGINT) AS nw,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE) / len(ts) END AS mwl,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(length(page) - length(replace(page, '#', '')) AS DOUBLE) / len(ts) END AS hr,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST((length(page) - length(replace(page, '...', ''))) // 3
                + (length(page) - length(replace(page, '…', ''))) AS DOUBLE) / len(ts) END AS er,
            CASE WHEN len(ls) = 0 THEN NULL ELSE
              CAST(len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('•','‣','▪','-','*'))) AS DOUBLE)
                / len(ls) END AS br,
            CASE WHEN len(ls) = 0 THEN NULL ELSE
              CAST(len(list_filter(ls, l -> right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…')) AS DOUBLE)
                / len(ls) END AS elr,
            CASE WHEN len(ts) = 0 THEN NULL ELSE
              CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / len(ts) END AS ar,
            CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
              s -> list_contains(ts, s))) AS BIGINT) AS sh
          FROM gb),
        gkeep AS (
          SELECT doc_id,
            ((nw >= 10 AND nw <= 100000)
              AND coalesce(mwl >= 3.0 AND mwl <= 10.0, false)
              AND coalesce(hr <= 0.1 AND er <= 0.1, false)
              AND coalesce(br <= 0.9, false)
              AND coalesce(elr <= 0.3, false)
              AND coalesce(ar >= 0.8, false)
              AND sh >= 2) AS keep
          FROM gmeas),
        cb AS (
          SELECT doc_id, page,
            coalesce(list_filter(list_transform(string_split(page, chr(10)), l -> trim(l)),
                     l -> l != ''), CAST([] AS VARCHAR[])) AS ls
          FROM pages),
        ck AS (
          SELECT doc_id, page,
            coalesce(array_to_string(list_filter(ls, l ->
              right(l, 1) IN ('.', '!', '?', '"', '”')
              AND len(list_filter(string_split_regex(lower(l), ' +'), t -> t != '')) >= 5
              AND NOT contains(lower(l), 'javascript')
              AND NOT (contains(lower(l), 'terms of use') OR contains(lower(l), 'privacy policy')
                OR contains(lower(l), 'cookie policy') OR contains(lower(l), 'uses cookies')
                OR contains(lower(l), 'use of cookies') OR contains(lower(l), 'use cookies'))),
              chr(10)), '') AS tc
          FROM cb),
        ckeep AS (
          SELECT doc_id,
            ((CAST((length(tc) - length(replace(tc, '.', '')))
                + (length(tc) - length(replace(tc, '!', '')))
                + (length(tc) - length(replace(tc, '?', ''))) AS BIGINT) >= 3)
              AND coalesce(NOT contains(lower(page), 'lorem ipsum'), false)
              AND coalesce(NOT contains(page, '{'), false)) AS keep
          FROM ck),
        gated AS (
          SELECT p.doc_id, p.lang, p.text FROM pages p
          JOIN gkeep g2 USING (doc_id) JOIN ckeep c2 USING (doc_id)
          WHERE g2.keep AND c2.keep),
        ex AS MATERIALIZED (
          SELECT doc_id, lang, text FROM (
            SELECT doc_id, lang, text,
              min(doc_id) OVER (PARTITION BY coalesce(
                md5(lower(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))), '__NULL_TEXT__')) AS can
            FROM gated)
          WHERE doc_id = can),
        jtoks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM ex),
        jsh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM jtoks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        jsizes AS (SELECT doc_id, count(*) AS n_sh FROM jsh GROUP BY doc_id),
        jcapped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM jsh)
          WHERE f <= 100),
        jprs AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM jcapped a JOIN jcapped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN jsizes sa ON sa.doc_id = doc_a
          JOIN jsizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM jprs
                  UNION SELECT doc_b, doc_a FROM jprs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a),
        comp AS (
          SELECT e2.doc_id, least(e2.doc_id, coalesce(min(r.b), e2.doc_id)) AS component_id
          FROM ex e2 LEFT JOIN reach r ON r.a = e2.doc_id
          GROUP BY e2.doc_id),
        canon AS MATERIALIZED (
          SELECT e3.doc_id, e3.lang, e3.text FROM ex e3 JOIN comp c3 USING (doc_id)
          WHERE c3.doc_id = c3.component_id),
        ${DsirOracleSql.scoreCtesFrom("canon")}${DsirOracleSql.gumbelTail("canon", 100)}""",
    "q_ngram_jaccard" ->
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5""",
    "q_contamination" ->
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 1000)
        SELECT c.doc_id, p.doc_id AS probe_id, count(*) AS overlap_ngrams
        FROM capped c JOIN sh p ON c.shingle = p.shingle AND p.doc_id < 25
        WHERE c.doc_id != p.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 3""",
    // the prefilter is exact-confirmed, so the exact form's SQL is the
    // oracle verbatim
    "q_contamination_bloom" ->
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 1000)
        SELECT c.doc_id, p.doc_id AS probe_id, count(*) AS overlap_ngrams
        FROM capped c JOIN sh p ON c.shingle = p.shingle AND p.doc_id < 25
        WHERE c.doc_id != p.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 3""",
    // q_dup_components' recursive closure labels each doc with its
    // component minimum; the split CASE is q_split's md5 arithmetic
    // keyed on that component id
    "q_split_leakage" ->
      """WITH RECURSIVE toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        prs AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
                  UNION SELECT doc_b, doc_a FROM prs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a),
        comp AS (
          SELECT d.doc_id,
            least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id),
        h AS (
          SELECT doc_id, md5(CAST(component_id AS VARCHAR)) AS m FROM comp),
        b AS (
          SELECT doc_id,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h)
        SELECT doc_id,
          CASE WHEN bucket < 52429 THEN 'train'
               WHEN bucket < 58982 THEN 'val'
               ELSE 'test' END AS split
        FROM b""",
    // bin = min(B-1, floor(B*cumBefore/n)) over the score histogram —
    // DuckDB runs the identical exact-integer arithmetic
    "q_quality_bins" ->
      """WITH h AS (
          SELECT CAST(n_chars AS BIGINT) AS score, count(*) AS cnt
          FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        c AS (
          SELECT score,
            coalesce(sum(cnt) OVER (ORDER BY score ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
          FROM h),
        n AS (SELECT sum(cnt) AS total FROM h),
        m AS (
          SELECT score,
            CAST(least(9, (10 * cumb) // total) AS INTEGER) AS bin
          FROM c, n)
        SELECT d.doc_id, d.n_chars, m.bin
        FROM documents d JOIN m ON CAST(d.n_chars AS BIGINT) = m.score""",
    // k smallest md5 buckets per source, doc_id tie-break — the exact
    // window form is the oracle for the salted two-phase plan
    "q_group_sample" ->
      """WITH h AS (
          SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
        b AS (
          SELECT doc_id, source,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h),
        r AS (
          SELECT source, doc_id,
            row_number() OVER (PARTITION BY source ORDER BY bucket ASC, doc_id ASC) AS rnk
          FROM b)
        SELECT source, doc_id, rnk FROM r WHERE rnk <= 5""",
    // q_dup_components' recursive closure + a per-component quality
    // window: keep = rank 1 by (n_chars DESC, doc_id ASC)
    "q_dedup_quality" ->
      """WITH RECURSIVE toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        prs AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
                  UNION SELECT doc_b, doc_a FROM prs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a),
        comp AS (
          SELECT d.doc_id, d.n_chars,
            least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id, d.n_chars),
        ranked AS (
          SELECT doc_id, component_id,
            row_number() OVER (PARTITION BY component_id
              ORDER BY CAST(n_chars AS BIGINT) DESC, doc_id ASC) AS rnk
          FROM comp)
        SELECT doc_id, component_id, rnk = 1 AS keep FROM ranked""",
    "q_event_transitions" ->
      """WITH e AS (
          SELECT user_id, ts, event_id, event_type FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        t AS (
          SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
          FROM e)
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2""",
    // streaming transitions emit the identical pair multiset on a
    // bounded in-order run — same oracle text as q_event_transitions
    "q_event_transitions_stream" ->
      """WITH e AS (
          SELECT user_id, ts, event_id, event_type FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        t AS (
          SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
          FROM e)
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2""",
    // lower median = min score with 2*cum >= n, per group, over the
    // (group, score) histogram — identical arithmetic in DuckDB
    "q_grouped_median" ->
      """WITH h AS (
          SELECT lang, CAST(n_chars AS BIGINT) AS score, count(*) AS cnt
          FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        c AS (
          SELECT lang, score,
            sum(cnt) OVER (PARTITION BY lang ORDER BY score ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY lang) AS total
          FROM h)
        SELECT lang, CAST(min(score) AS BIGINT) AS median,
          CAST(min(total) AS BIGINT) AS n_rows
        FROM c WHERE cum * 2 >= total GROUP BY 1""",
    "q_corpus_diff" ->
      """WITH oldd AS (
          SELECT doc_id,
            CASE WHEN doc_id % 7 = 0 THEN text || ' LEGACY' ELSE text END AS text
          FROM documents WHERE doc_id % 10 != 3),
        newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 != 7),
        o AS (SELECT doc_id, coalesce(md5(text), '__null_text__') AS h, true AS in_old FROM oldd),
        n AS (SELECT doc_id, coalesce(md5(text), '__null_text__') AS h, true AS in_new FROM newd)
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
          CASE WHEN o.in_old IS NULL THEN 'added'
               WHEN n.in_new IS NULL THEN 'removed'
               WHEN o.h = n.h THEN 'unchanged'
               ELSE 'changed' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""",
    // same change-log derivation; last-writer-wins = max (seq, op, text):
    // the payload joins the tie-break (NULLS LAST = Spark's null-smallest
    // struct order) so duplicate (id, seq, op) rows with different
    // payloads resolve identically in both engines
    "q_cdc_merge" -> cdcMergeOracle,
    // the streaming twin's micro-batched compaction frames fold to the
    // SAME final image — one oracle serves both rows
    "q_cdc_merge_stream" -> cdcMergeOracle,
    // SCD2 intervals mirrored: same 4-wave log, same lead window; the
    // (seq, op, text) tie order never fires (seq is unique per id in the
    // synthetic log) but is written identically in both engines
    "q_scd2" -> scd2Oracle,
    // the streaming twin's quiescence-epoch frames fold to the SAME
    // version history — one oracle serves both rows
    "q_scd2_stream" -> scd2Oracle,
    // UNCAPPED brute-force quadratic Jaccard — the losslessness gate for
    // the prefix-filtered candidate generation
    "q_jaccard_prefix" ->
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.7""",
    "q_ri_audit" -> Seq(
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("events->customer", "events", "user_id", "customer", "c_custkey"))
      .map { case (name, c, fk, p, pk) =>
        s"""SELECT '$name' AS relation,
          (SELECT count(*) FROM $c) AS child_rows,
          (SELECT count(*) FROM $c WHERE $fk IS NULL) AS null_fk_rows,
          (SELECT count(*) FROM $c ch LEFT JOIN $p pr ON ch.$fk = pr.$pk
            WHERE ch.$fk IS NOT NULL AND pr.$pk IS NULL) AS orphan_rows,
          (SELECT count(DISTINCT $fk) FROM $c
            WHERE $fk IS NOT NULL
              AND $fk NOT IN (SELECT $pk FROM $p)) AS orphan_keys,
          (SELECT count(DISTINCT $pk) FROM $p) AS parent_keys,
          (SELECT count(*) FROM (
            SELECT $pk FROM $p
            EXCEPT SELECT DISTINCT $fk FROM $c WHERE $fk IS NOT NULL) t
          ) AS unreferenced_parent_keys"""
      }.mkString("", "\nUNION ALL\n", ""),
    "q_pk_audit" -> Seq(
        ("orders(o_orderkey)", "orders", Seq("o_orderkey")),
        ("customer(c_custkey)", "customer", Seq("c_custkey")),
        ("lineitem(l_orderkey,l_linenumber)", "lineitem",
          Seq("l_orderkey", "l_linenumber")),
        ("documents(doc_id)", "documents", Seq("doc_id")),
        ("events(event_id)", "events", Seq("event_id")),
        ("events(user_id)", "events", Seq("user_id")))
      .map { case (name, tbl, ks) =>
        val nullPred = ks.map(k => s"$k IS NULL").mkString(" OR ")
        s"""SELECT '$name' AS relation,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
          count(*) AS n_keys,
          count(*) FILTER (WHERE c > 1) AS dup_keys,
          CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup_rows,
          CAST(coalesce(max(c), 0) AS BIGINT) AS max_multiplicity,
          CAST(coalesce(sum(n), 0) AS BIGINT) AS null_key_rows
        FROM (SELECT count(*) AS c,
                sum(CASE WHEN $nullPred THEN 1 ELSE 0 END) AS n
              FROM $tbl GROUP BY ${ks.mkString(", ")}) g"""
      }.mkString("", "\nUNION ALL\n", ""),
    // skew audit mirrored: same frequency histogram, same tie-grouped
    // rank closed form, same lockstep-double gini
    "q_skew_audit" -> Seq(
        ("events", "user_id", "events(user_id)"),
        ("lineitem", "l_orderkey", "lineitem(l_orderkey)"),
        ("orders", "o_custkey", "orders(o_custkey)"))
      .map { case (tbl, kc, name) =>
        s"""SELECT '$name' AS relation, CAST(t.n AS BIGINT) AS n_rows,
          CAST(t.nk AS BIGINT) AS n_keys, CAST(t.maxf AS BIGINT) AS max_freq,
          CAST((1000000 * t.maxf) // t.n AS BIGINT) AS top1_share_micro,
          p.p99 AS p99_freq,
          round(CAST(2 * t.s - (t.nk + 1) * t.n AS DOUBLE)
            / CAST(t.nk * t.n AS DOUBLE), 6) AS gini
        FROM (
          SELECT sum(f * k) AS n, sum(k) AS nk, max(f) AS maxf,
            sum(f * (k * cumb + (k * (k + 1)) // 2)) AS s
          FROM (
            SELECT f, k, COALESCE(sum(k) OVER (ORDER BY f ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
            FROM (SELECT f, count(*) AS k FROM
              (SELECT $kc, count(*) AS f FROM $tbl GROUP BY 1) kf
              GROUP BY 1) h) st0) t
        CROSS JOIN (
          SELECT CAST(min(f) AS BIGINT) AS p99
          FROM (
            SELECT f, k, COALESCE(sum(k) OVER (ORDER BY f ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
            FROM (SELECT f, count(*) AS k FROM
              (SELECT $kc, count(*) AS f FROM $tbl GROUP BY 1) kf
              GROUP BY 1) h) st1
          CROSS JOIN (
            SELECT sum(k) AS nk FROM
              (SELECT f, count(*) AS k FROM
                (SELECT $kc, count(*) AS f FROM $tbl GROUP BY 1) kf
                GROUP BY 1) h2) tk
          WHERE (cumb + k) * 100 >= 99 * tk.nk) p"""
      }.mkString("", "\nUNION ALL\n", ""),
    // per-column profile mirrored: one SELECT per (relation, column) —
    // the naive per-column form the Spark side's single-scan stack
    // aggregation replaces
    "q_profile" -> Seq(
        ("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority")),
        ("documents", Seq("doc_id", "lang", "source", "n_chars")))
      .flatMap { case (tbl, cs) => cs.map { c =>
        s"""SELECT '$tbl' AS relation, '$c' AS column_name,
          count(*) AS n_rows, count(*) - count($c) AS n_nulls,
          count(DISTINCT $c) AS n_distinct,
          CAST(min($c) AS VARCHAR) AS min_str,
          CAST(max($c) AS VARCHAR) AS max_str
        FROM $tbl"""
      } }.mkString("", "\nUNION ALL\n", ""),
    // the same five binary-magic-numbers spread steps, staged as CTEs
    "q_zorder" ->
      """WITH b AS (
          SELECT event_id,
            user_id & 2147483647 AS x,
            (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000)
              & 2147483647 AS y
          FROM events),
        s1 AS (SELECT event_id,
          (x | (x << 16)) & 281470681808895 AS x,
          (y | (y << 16)) & 281470681808895 AS y FROM b),
        s2 AS (SELECT event_id,
          (x | (x << 8)) & 71777214294589695 AS x,
          (y | (y << 8)) & 71777214294589695 AS y FROM s1),
        s3 AS (SELECT event_id,
          (x | (x << 4)) & 1085102592571150095 AS x,
          (y | (y << 4)) & 1085102592571150095 AS y FROM s2),
        s4 AS (SELECT event_id,
          (x | (x << 2)) & 3689348814741910323 AS x,
          (y | (y << 2)) & 3689348814741910323 AS y FROM s3),
        s5 AS (SELECT event_id,
          (x | (x << 1)) & 6148914691236517205 AS x,
          (y | (y << 1)) & 6148914691236517205 AS y FROM s4)
        SELECT event_id, x | (y << 1) AS z FROM s5""",
    // mirrors RelationAudit over the raw tables (hub row sets are the raw
    // rows; the sample-project join attrs are raw columns)
    "q_relation_audit" -> Seq(
        ("[tpch_lineitem]- orderkey -[tpch_orders]", "M-1", true,
          "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("[tpch_orders]- custkey -[tpch_customer]", "M-1", true,
          "orders", "o_custkey", "customer", "c_custkey"),
        ("[tpch_customer]- nationkey -[tpch_nation]", "M-1", true,
          "customer", "c_nationkey", "nation", "n_nationkey"),
        ("[tpch_nation]- regionkey -[tpch_region]", "M-1", true,
          "nation", "n_regionkey", "region", "r_regionkey"),
        ("[tpch_nation]- nationkey -[tpch_supplier]", "1-M", false,
          "nation", "n_nationkey", "supplier", "s_nationkey"),
        ("[tpch_lineitem]- partkey -[tpch_part]", "M-1", true,
          "lineitem", "l_partkey", "part", "p_partkey"),
        ("[tpch_lineitem]- suppkey -[tpch_supplier]", "M-1", true,
          "lineitem", "l_suppkey", "supplier", "s_suppkey"))
      .map { case (name, card, oneRelated, st, sk, rt, rk) =>
        val viol = if (oneRelated) "count(*) FILTER (WHERE m > 1)"
          else "CAST(0 AS BIGINT)"
        s"""SELECT '$name' AS relation, '$card' AS cardinality,
          count(*) AS source_rows,
          count(*) FILTER (WHERE m = 0) AS unmatched_source_rows,
          count(*) FILTER (WHERE m > 1) AS multi_match_source_rows,
          CAST(coalesce(max(m), 0) AS BIGINT) AS max_matches,
          $viol AS cardinality_violations
        FROM (SELECT coalesce(g.c, 0) AS m
              FROM $st s LEFT JOIN (
                SELECT $rk AS k, count(*) AS c FROM $rt GROUP BY 1) g
              ON s.$sk = g.k) t"""
      }.mkString("", "\nUNION ALL\n", ""),
    "q_random_projection" -> {
      val signs = for (j <- 0 until 8; i <- 0 until 64)
        yield s"($i, $j, ${Similarity.projSign(i, j)})"
      s"""WITH s(i, j, sgn) AS (VALUES ${signs.mkString(", ")}),
        ex AS (
          SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS i,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS um
          FROM embeddings)
        SELECT ex.vec_id, s.j AS dim, CAST(sum(ex.um * s.sgn) AS BIGINT) AS p_micro
        FROM ex JOIN s ON s.i = ex.i
        GROUP BY 1, 2"""
    },
    "q_dup_components" ->
      """WITH RECURSIVE toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        prs AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
                  UNION SELECT doc_b, doc_a FROM prs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a)
        SELECT d.doc_id AS id,
          least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component_id
        FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id""",
    // PageRank over the identical edge derivation, 3 unrolled
    // all-integer damped iterations (same truncating division order)
    "q_pagerank" ->
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS MATERIALIZED (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS MATERIALIZED (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        prs AS MATERIALIZED (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5),
        e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM prs
              UNION ALL SELECT doc_b, doc_a FROM prs),
        deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY 1),
        r0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS r FROM documents),
        c1 AS (SELECT e.dst AS id, sum(r0.r // deg.d) AS s
               FROM e JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
               GROUP BY 1),
        r1 AS (SELECT r0.id, 150000 + ((85 * coalesce(c1.s, 0)) // 100) AS r
               FROM r0 LEFT JOIN c1 USING (id)),
        c2 AS (SELECT e.dst AS id, sum(r1.r // deg.d) AS s
               FROM e JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
               GROUP BY 1),
        r2 AS (SELECT r1.id, 150000 + ((85 * coalesce(c2.s, 0)) // 100) AS r
               FROM r1 LEFT JOIN c2 USING (id)),
        c3 AS (SELECT e.dst AS id, sum(r2.r // deg.d) AS s
               FROM e JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
               GROUP BY 1),
        r3 AS (SELECT r2.id, 150000 + ((85 * coalesce(c3.s, 0)) // 100) AS r
               FROM r2 LEFT JOIN c3 USING (id))
        SELECT id, CAST(r AS BIGINT) AS rank_micro FROM r3""",
    "q_similarity_topk" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT query_id, match_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""",
    "q_similarity_topk_q8" ->
      """WITH z AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
            list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
          FROM embeddings),
        qz AS (
          SELECT vec_id,
            CASE WHEN mx > 0 THEN list_transform(e, x -> round(x * 127.0 / mx))
                 ELSE list_transform(e, x -> CAST(0 AS DOUBLE)) END AS q
          FROM z),
        sc AS (
          SELECT a.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(a.q, c.q)
              / (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(c.q, c.q))), 6) AS cosine
          FROM (SELECT * FROM qz WHERE vec_id < 16) a, qz c
          WHERE a.vec_id != c.vec_id)
        SELECT query_id, match_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""",
    "q_q8_recall_bounds" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT count(*) AS n_brute_rows, TRUE AS recall_ok
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""",
    // SimHash pair relation, exact: XXH64 re-implemented in DuckDB —
    // machine-generated nested-subquery SQL (see SimhashOracleSql).
    "q_simhash_pairs" -> SimhashOracleSql.sql,
    // SimHash envelope: the exact-pair count is the same relation as
    // q_ngram_jaccard; the two accuracy booleans are engine-side claims the
    // oracle states as literals (a violated floor breaks the hash match).
    "q_simhash_bounds" ->
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT count(*) AS n_exact_pairs,
          TRUE AS precision_ok, TRUE AS recall_ok, TRUE AS no_null_jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5""",
    // Exhaustive LSH probe shares the brute-force top-k oracle.
    "q_similarity_topk_lsh_full" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT query_id, match_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""",
    // LSH recall envelope: the brute-force row count is the oracle's half;
    // the recall floor is the engine-side claim stated as a literal.
    "q_lsh_recall_bounds" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT count(*) AS n_brute_rows, TRUE AS recall_ok
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""",
    // Exhaustive IVF probe shares the brute-force top-k oracle.
    "q_similarity_topk_ivf_full" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
        sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS match_id,
            round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6) AS cosine
          FROM q, embeddings c
          WHERE q.vec_id != c.vec_id)
        SELECT query_id, match_id, cosine, CAST(rn AS INTEGER) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, match_id) AS rn FROM sc)
        WHERE rn <= 5""",
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
          count(*) AS n_events,
          count(DISTINCT user_id) AS n_users,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events
        GROUP BY 1, 2""",
    "q_skew_agg" ->
      """SELECT user_id, count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events GROUP BY 1""",
    "q_asof_join" ->
      """WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        d AS (
          SELECT user_id, date_trunc('hour', ts) AS snap_ts,
            count(*) AS hr_events,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hr_value_cents
          FROM e GROUP BY 1, 2)
        SELECT e.event_id, e.user_id, e.ts, d.hr_events, d.hr_value_cents
        FROM e ASOF LEFT JOIN d
          ON e.user_id = d.user_id AND e.ts >= d.snap_ts""",
    "q_asof_fwd" ->
      """WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        d AS (
          SELECT user_id, date_trunc('hour', ts) AS snap_ts,
            count(*) AS hr_events,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hr_value_cents
          FROM e GROUP BY 1, 2)
        SELECT e.event_id, e.user_id, e.ts, d.hr_events, d.hr_value_cents
        FROM e ASOF LEFT JOIN d
          ON e.user_id = d.user_id AND e.ts <= d.snap_ts""",
    "q_asof_tolerance" ->
      """WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        d AS (
          SELECT user_id, date_trunc('hour', ts) AS snap_ts,
            count(*) AS hr_events,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hr_value_cents
          FROM e GROUP BY 1, 2),
        best AS (
          SELECT e.event_id, b.hr_events, b.hr_value_cents
          FROM e JOIN LATERAL (
            SELECT d.hr_events, d.hr_value_cents
            FROM d
            WHERE d.user_id = e.user_id AND d.snap_ts <= e.ts
              AND epoch_us(e.ts) - epoch_us(d.snap_ts) <= 1800000000
            ORDER BY d.snap_ts DESC LIMIT 1) b ON TRUE)
        SELECT e.event_id, e.user_id, e.ts, best.hr_events, best.hr_value_cents
        FROM e LEFT JOIN best USING (event_id)""",
    "q_asof_nearest" ->
      """WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        d AS (
          SELECT user_id, date_trunc('hour', ts) AS snap_ts,
            count(*) AS hr_events,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hr_value_cents
          FROM e GROUP BY 1, 2)
        SELECT event_id, user_id, ts, hr_events, hr_value_cents
        FROM (
          SELECT e.event_id, e.user_id, e.ts, d.hr_events, d.hr_value_cents,
            row_number() OVER (PARTITION BY e.event_id ORDER BY
              abs(epoch_us(e.ts) - epoch_us(d.snap_ts)),
              CASE WHEN d.snap_ts <= e.ts THEN 0 ELSE 1 END) AS rn
          FROM e JOIN d USING (user_id))
        WHERE rn = 1""",
    "q_range_join" ->
      """WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        t AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                 THEN 1 ELSE 0 END AS ns
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT user_id,
            CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_seq,
            ts
          FROM t),
        sess AS (
          SELECT user_id, session_seq,
            min(ts) AS session_start, max(ts) AS session_end,
            count(*) AS n_events
          FROM s GROUP BY 1, 2)
        SELECT e.event_id, e.user_id, sess.session_seq, sess.n_events
        FROM e JOIN sess
          ON e.user_id = sess.user_id
         AND e.ts >= sess.session_start AND e.ts <= sess.session_end""",
    "q_events_json" ->
      """SELECT event_type,
          count(CAST(props->>'$.k' AS BIGINT)) AS n_with_k,
          CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
          max(CAST(props->>'$.k' AS BIGINT)) AS max_k
        FROM events
        GROUP BY 1""",
    "q_sessionize" ->
      """WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        t AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                 THEN 1 ELSE 0 END AS ns
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_seq
          FROM t)
        SELECT user_id, session_seq,
          min(ts) AS session_start, max(ts) AS session_end,
          count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM s GROUP BY 1, 2""",
    // MinHash-LSH pairs are exact-verified, so the exact inverted-index
    // sibling (same SQL as q_ngram_jaccard) is the oracle.
    "q_minhash_pairs" ->
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        capped AS (
          SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS f FROM sh)
          WHERE f <= 100),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5""",
    // Bipartite exact sibling of the incremental (batch-vs-corpus) MinHash
    // dedup: full-set Jaccard over batch×corpus shingle matches.
    "q_incremental_dedup" ->
      """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)
          WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT b.doc_id AS doc_a, c.doc_id AS doc_b, count(*) AS inter
          FROM sh b JOIN sh c ON b.shingle = c.shingle
          WHERE b.doc_id < 100 AND c.doc_id >= 100
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
          round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.5""",
    // Sampled-exact recall envelope: the oracle computes the identical
    // fixed-size anchor set (modulus greatest(5, n/2000) from the same
    // corpus count — integer floor division in both engines, n ≥ 0) and
    // the identical anchored exact pair count; the floor is the
    // engine-side claim stated as a literal.
    "q_embed_recall_bounds" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT greatest(5, count(*) // 2000) AS md FROM e),
        a AS (SELECT e.* FROM e, m WHERE vec_id % m.md = 0),
        p AS (
          SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
            greatest(a.vec_id, b.vec_id) AS id_b
          FROM a JOIN e b ON a.vec_id != b.vec_id
          WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9)
        SELECT count(*) AS n_exact_sampled, TRUE AS recall_ok FROM p""",
    // Sign-LSH near-dup pairs are exact-cosine-verified; the DuckDB
    // all-pairs brute force is the exact sibling (empty at 0.9 on the
    // driver fixtures — independently certified by the oracle itself;
    // where real pairs exist the recall envelope above is the gate).
    "q_embed_dup_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9""",
    // Global brute-force keep/drop: is_kept iff no smaller-id vector is a
    // cosine≥0.9 near-duplicate (coincides with the within-cluster
    // criterion because the corpus has no such pairs — see query comment).
    "q_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id, NOT EXISTS (
            SELECT 1 FROM e b WHERE b.vec_id < a.vec_id
              AND round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
          ) AS is_kept
        FROM e a""",
    // Identical md5-bucket arithmetic as the engine's stratifiedSampleHash
    // (and q_split): bucket = first 4 md5 hex digits of 'doc_id|lang'.
    "q_stratified_sample" ->
      """WITH h AS (
          SELECT doc_id, lang,
            md5(CAST(doc_id AS VARCHAR) || '|' || lang) AS m
          FROM documents),
        b AS (
          SELECT doc_id, lang,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h)
        SELECT doc_id, lang FROM b
        WHERE bucket < CASE lang
          WHEN 'de' THEN 16384 WHEN 'en' THEN 32768 WHEN 'es' THEN 16384
          WHEN 'fr' THEN 16384 WHEN 'zh' THEN 6554 ELSE 0 END""",
    // BM25: the identical arithmetic chain (rational idf, every literal
    // CAST to DOUBLE to stay out of decimal-literal typing, per-term
    // micro-units summed as exact integers). Same k1=1.2 / b=0.75.
    "q_bm25" ->
      """WITH base AS (
          SELECT doc_id, len(tk) AS dl,
            len(list_filter(tk, t -> t = 'vector')) AS tf0,
            len(list_filter(tk, t -> t = 'hash')) AS tf1,
            len(list_filter(tk, t -> t = 'spark')) AS tf2
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
                FROM documents)),
        stats AS (
          SELECT count(*) AS n,
            CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
            sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
            sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
            sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
          FROM base),
        sc AS (
          SELECT doc_id,
            (CASE WHEN tf0 > 0 THEN CAST(round(
                1e6 * ((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(df0 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                    * (CAST(tf0 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                    / (CAST(tf0 AS DOUBLE)
                       + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))
              ) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END
             + CASE WHEN tf1 > 0 THEN CAST(round(
                1e6 * ((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(df1 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                    * (CAST(tf1 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                    / (CAST(tf1 AS DOUBLE)
                       + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))
              ) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END
             + CASE WHEN tf2 > 0 THEN CAST(round(
                1e6 * ((CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(df2 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                    * (CAST(tf2 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                    / (CAST(tf2 AS DOUBLE)
                       + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))
              ) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS micro
          FROM base CROSS JOIN stats)
        SELECT doc_id, round(CAST(micro AS DOUBLE) / 1e6, 6) AS score
        FROM sc WHERE micro > 0
        ORDER BY score DESC, doc_id LIMIT 100""",
    // Bigram surprise: plain-join form of the frequency-routed plan
    // (routing never changes answers); same micro-unit quantization as
    // q_surprise, conditional probability = prefix count / bigram count.
    "q_bigram_surprise" ->
      """WITH tl AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        bg AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(tk)),
              i -> tk[i] || ' ' || tk[i + 1])) AS token
          FROM tl WHERE len(tk) >= 2),
        pd AS (SELECT doc_id, token, count(*) AS tf_doc FROM bg GROUP BY 1, 2),
        tot AS (SELECT token, CAST(sum(tf_doc) AS BIGINT) AS tf_big FROM pd GROUP BY 1),
        pref AS (
          SELECT split_part(token, ' ', 1) AS w1,
            CAST(sum(tf_doc) AS BIGINT) AS tf_prefix
          FROM pd GROUP BY 1),
        q AS (
          SELECT pd.doc_id, pd.tf_doc,
            CAST(round(1e6 * CAST(pref.tf_prefix AS DOUBLE)
              / CAST(tot.tf_big AS DOUBLE)) AS DECIMAL(38,0)) AS ip_micro
          FROM pd
          JOIN tot USING (token)
          JOIN pref ON split_part(pd.token, ' ', 1) = pref.w1)
        SELECT doc_id, CAST(sum(tf_doc) AS BIGINT) AS n_bigrams,
          round(CAST(sum(tf_doc * ip_micro) AS DOUBLE)
            / (1e6 * CAST(sum(tf_doc) AS DOUBLE)), 6) AS surprise2
        FROM q GROUP BY 1""",
    // windowed PMI mirrored: DuckDB list slice tk[i+1:i+3] == Spark
    // slice(t, i+1, 3); same marginal derivation, same (n/c1)*(N/c2)
    // association order
    "q_pmi" ->
      """WITH tl AS (
          SELECT list_filter(string_split_regex(lower(text), ' +'),
            t -> t != '') AS tk
          FROM documents),
        p AS (
          SELECT unnest(flatten(list_transform(range(1, len(tk)),
            i -> list_transform(tk[i+1:i+3], u -> tk[i] || ' ' || u))))
            AS token
          FROM tl WHERE len(tk) >= 2),
        pc AS (
          SELECT token, count(*) AS n_pair,
            split_part(token, ' ', 1) AS w1,
            split_part(token, ' ', 2) AS w2
          FROM p GROUP BY 1),
        c1 AS (SELECT w1, sum(n_pair) AS c1 FROM pc GROUP BY 1),
        c2 AS (SELECT w2, sum(n_pair) AS c2 FROM pc GROUP BY 1),
        t AS (SELECT sum(n_pair) AS n FROM pc)
        SELECT token, CAST(n_pair AS BIGINT) AS n_pair,
          CAST(CAST(round(1e6 * ((CAST(n_pair AS DOUBLE) / CAST(c1 AS DOUBLE))
            * (CAST(n AS DOUBLE) / CAST(c2 AS DOUBLE))))
            AS DECIMAL(38,0)) AS VARCHAR) AS pmi_ratio_micro
        FROM pc JOIN c1 USING (w1) JOIN c2 USING (w2), t
        WHERE n_pair >= 5""",
    // Winnowing: identical rolling-hash fold ((acc*257 + c) mod 2^31-1,
    // seeded with the first codepoint — list_reduce semantics), w-window
    // minima, sorted distinct. All integer arithmetic — exact.
    "q_winnow" ->
      """WITH cs AS (
          SELECT doc_id,
            list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT)) AS cp
          FROM documents),
        h AS (
          SELECT doc_id,
            list_transform(range(1, len(cp) - 20 + 2),
              i -> list_reduce(cp[i:i+19], (acc, c) -> (acc * 257 + c) % 2147483647)) AS hs
          FROM cs WHERE len(cp) >= 20),
        wn AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, greatest(1, len(hs) - 16 + 1) + 1),
              j -> list_min(hs[j:j+15]))) AS fps
          FROM h)
        SELECT doc_id, unnest(fps) AS fp FROM wn""",
    "q_winnow_pairs" ->
      """WITH cs AS (
          SELECT doc_id,
            list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT)) AS cp
          FROM documents),
        h AS (
          SELECT doc_id,
            list_transform(range(1, len(cp) - 20 + 2),
              i -> list_reduce(cp[i:i+19], (acc, c) -> (acc * 257 + c) % 2147483647)) AS hs
          FROM cs WHERE len(cp) >= 20),
        wn AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, greatest(1, len(hs) - 16 + 1) + 1),
              j -> list_min(hs[j:j+15]))) AS fps
          FROM h),
        f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
        hot AS (SELECT fp FROM f GROUP BY fp HAVING count(*) > 100),
        cool AS (SELECT * FROM f WHERE fp NOT IN (SELECT fp FROM hot))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
        FROM cool a JOIN cool b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3""",
    // ExactSubstr spans: per-position 40-grams (char semantics — length/
    // substr, matching Spark's length/substring), grams appearing > 1
    // time corpus-wide, covered windows merged gaps-and-islands
    // (adjacent windows fuse: break only when a position clears the
    // running coverage end by more than one char).
    "q_substring_dedup" ->
      """WITH mx AS (SELECT coalesce(max(length(text)), 0) AS m FROM documents),
        nums AS (SELECT unnest(range(1, (SELECT m + 1 FROM mx))) AS i),
        pos AS (
          SELECT doc_id, CAST(i AS BIGINT) AS i, substr(text, CAST(i AS BIGINT), 40) AS gram
          FROM documents CROSS JOIN nums
          WHERE i <= length(text) - 39),
        dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) > 1),
        dp AS (SELECT doc_id, i FROM pos WHERE gram IN (SELECT gram FROM dup)),
        isl AS (
          SELECT doc_id, i,
            CASE WHEN i > coalesce(max(i + 39) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1000000) + 1
              THEN 1 ELSE 0 END AS brk
          FROM dp),
        grp AS (SELECT doc_id, i,
            sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
          FROM isl)
        SELECT doc_id, min(i) AS span_start, max(i) + 39 AS span_end,
          max(i) + 39 - min(i) + 1 AS span_len
        FROM grp GROUP BY doc_id, g""",
    // Chunking: same integer window arithmetic (stride 28 = 32 - 4;
    // nChunks = max(1, ceil((n - overlap)/stride)); 1-based clamped
    // slices rejoined with single spaces).
    "q_chunk" ->
      """WITH tl AS (
          SELECT doc_id,
            list_filter(string_split_regex(trim(text), ' +'), t -> t != '') AS tk
          FROM documents),
        n AS (
          SELECT doc_id, tk, greatest(1, (len(tk) - 4 + 27) // 28) AS nc
          FROM tl WHERE len(tk) >= 1),
        c AS (SELECT doc_id, tk, unnest(range(0, nc)) AS chunk_id FROM n)
        SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
          array_to_string(list_slice(tk, chunk_id * 28 + 1, chunk_id * 28 + 32), ' ')
            AS chunk_text,
          CAST(len(list_slice(tk, chunk_id * 28 + 1, chunk_id * 28 + 32)) AS INTEGER)
            AS n_tokens
        FROM c""",
    // Trigram repetition: same rollup as q_repetition, one n-gram level
    // up; docs under 3 tokens emit no row (no trigrams exist).
    "q_trigram_repetition" ->
      """WITH tl AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), ' +'), t -> t != '') AS tk
          FROM documents),
        ng AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(tk) - 1),
              i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
          FROM tl WHERE len(tk) >= 3),
        pd AS (SELECT doc_id, g, count(*) AS tf FROM ng GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_ngrams,
          count(*) AS n_distinct,
          round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6)
            AS dup_ngram_ratio,
          round(CAST(max(tf) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6)
            AS top_ngram_share
        FROM pd GROUP BY 1""",
    // DSIR: the shared XXH64 generator hashes unigrams+bigrams, bucket
    // model + micro-quantized log-ratios mirrored arithmetic-for-
    // arithmetic (see DsirOracleSql).
    "q_dsir_weights" -> DsirOracleSql.weightsSql,
    "q_nb_quality" -> DsirOracleSql.nbSql,
    // Kneser-Ney trigram cross-entropy: trigrams from '<s> <s> … </s>'
    // padded token lists (the oracle carries (w1,w2,w3) columns — the
    // space-join is injective since tokens contain no spaces); all model
    // statistics are exact integer TYPE counts; the KN probability is
    // the identical IEEE DOUBLE expression operation-for-operation; the
    // only ln runs per trigram type and is micro-quantized before the
    // exact HUGEINT per-document sum (mirrors DECIMAL(38,0)).
    "q_kn_perplexity" ->
      """WITH tl AS (
          SELECT doc_id, (lang = 'en') AS tgt,
            list_concat(list_concat(['<s>', '<s>'],
              coalesce(list_filter(string_split_regex(lower(text), ' +'), t -> t != ''),
                       CAST([] AS VARCHAR[]))), ['</s>']) AS pd
          FROM documents),
        tri AS (
          SELECT doc_id, tgt, pd[i] AS w1, pd[i + 1] AS w2, pd[i + 2] AS w3
          FROM tl, unnest(generate_series(1, len(pd) - 2)) AS u(i)),
        perdoc AS (
          SELECT doc_id, tgt, w1, w2, w3, count(*) AS tf
          FROM tri GROUP BY 1, 2, 3, 4, 5),
        types AS (
          SELECT w1, w2, w3,
            sum(CASE WHEN tgt THEN tf ELSE 0 END) AS c3t
          FROM perdoc GROUP BY 1, 2, 3),
        tt AS (SELECT * FROM types WHERE c3t > 0),
        ctx AS (SELECT w1, w2, sum(c3t) AS c2ctx, count(*) AS n1p2 FROM tt GROUP BY 1, 2),
        tailt AS (SELECT w2, w3, count(*) AS cont2 FROM tt GROUP BY 1, 2),
        midt AS (SELECT w2, count(*) AS n1p_mid FROM tt GROUP BY 1),
        folt AS (SELECT w2, count(*) AS n1p_follow FROM tailt GROUP BY 1),
        unig AS (SELECT w3, count(*) AS n1p_prec FROM tailt GROUP BY 1),
        tot AS (SELECT (SELECT count(*) FROM tailt) AS n1p_all,
                       (SELECT count(*) FROM unig) AS v1),
        sc AS (
          SELECT t.w1, t.w2, t.w3,
            CAST(round(1e6 * ln(
              CASE WHEN c.c2ctx IS NULL THEN
                (CASE WHEN m.n1p_mid IS NULL THEN
                   (CAST(coalesce(g.n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                     / (CAST(tot.n1p_all AS DOUBLE) + CAST(tot.v1 AS DOUBLE) + CAST(1 AS DOUBLE))
                 ELSE
                   greatest(CAST(coalesce(a.cont2, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                     / CAST(m.n1p_mid AS DOUBLE)
                   + ((CAST(0.75 AS DOUBLE) * CAST(f.n1p_follow AS DOUBLE) / CAST(m.n1p_mid AS DOUBLE))
                      * ((CAST(coalesce(g.n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                         / (CAST(tot.n1p_all AS DOUBLE) + CAST(tot.v1 AS DOUBLE) + CAST(1 AS DOUBLE))))
                 END)
              ELSE
                greatest(CAST(t.c3t AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                  / CAST(c.c2ctx AS DOUBLE)
                + ((CAST(0.75 AS DOUBLE) * CAST(c.n1p2 AS DOUBLE) / CAST(c.c2ctx AS DOUBLE))
                   * (CASE WHEN m.n1p_mid IS NULL THEN
                        (CAST(coalesce(g.n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                          / (CAST(tot.n1p_all AS DOUBLE) + CAST(tot.v1 AS DOUBLE) + CAST(1 AS DOUBLE))
                      ELSE
                        greatest(CAST(coalesce(a.cont2, 0) AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                          / CAST(m.n1p_mid AS DOUBLE)
                        + ((CAST(0.75 AS DOUBLE) * CAST(f.n1p_follow AS DOUBLE) / CAST(m.n1p_mid AS DOUBLE))
                           * ((CAST(coalesce(g.n1p_prec, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                              / (CAST(tot.n1p_all AS DOUBLE) + CAST(tot.v1 AS DOUBLE) + CAST(1 AS DOUBLE))))
                      END))
              END)) AS HUGEINT) AS lp
          FROM types t
          LEFT JOIN ctx c ON t.w1 = c.w1 AND t.w2 = c.w2
          LEFT JOIN tailt a ON t.w2 = a.w2 AND t.w3 = a.w3
          LEFT JOIN midt m ON t.w2 = m.w2
          LEFT JOIN folt f ON t.w2 = f.w2
          LEFT JOIN unig g ON t.w3 = g.w3
          CROSS JOIN tot),
        agg AS (
          SELECT p.doc_id, sum(p.tf) AS n_events,
            sum(CAST(p.tf AS HUGEINT) * s.lp) AS sm
          FROM perdoc p
          JOIN sc s ON p.w1 = s.w1 AND p.w2 = s.w2 AND p.w3 = s.w3
          GROUP BY 1)
        SELECT doc_id,
          CAST(n_events AS BIGINT) AS n_events,
          CAST(sm AS DOUBLE) / 1e6 AS logprob,
          -CAST(sm AS DOUBLE) / (1e6 * CAST(n_events AS DOUBLE)) AS xent_nats
        FROM agg""",
    "q_dsir_sample" -> DsirOracleSql.sampleSql(1000),
    // token-budget selection: the oracle states the SEMANTICS as the
    // single-node window cumsum the engine deliberately avoids (the
    // md5 tie makes the order total, so RANGE peers never share a
    // prefix); budget = total tokens // 10, derived from the same
    // count in both engines
    "q_token_budget" ->
      """WITH t AS (
          SELECT doc_id, n_chars AS score,
            CAST(len(list_filter(string_split_regex(lower(text), ' +'),
                                 x -> x != '')) AS BIGINT) AS n_tokens,
            md5(concat('tb', CAST(doc_id AS VARCHAR))) AS __tie
          FROM documents),
        b AS (SELECT CAST(sum(n_tokens) // 10 AS BIGINT) AS budget FROM t),
        c AS (SELECT doc_id, score, n_tokens,
            CAST(sum(n_tokens) OVER (ORDER BY score DESC, __tie ASC)
                 AS BIGINT) AS cum_tokens
          FROM t)
        SELECT doc_id, score, n_tokens, cum_tokens
        FROM c, b WHERE cum_tokens <= b.budget""",
    // Target-mix resample: thresholds derived from counts + the same
    // DOUBLE-cast weight literals, selection via the q_split md5-bucket
    // arithmetic over 'doc_id|lang'.
    "q_mix_resample" ->
      """WITH c AS (
          SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        w AS (
          SELECT lang, c,
            CASE lang
              WHEN 'en' THEN CAST(0.4 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE))
              WHEN 'de' THEN CAST(0.2 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE))
              WHEN 'fr' THEN CAST(0.2 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE))
              WHEN 'es' THEN CAST(0.2 AS DOUBLE) / (CAST(0.4 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE) + CAST(0.2 AS DOUBLE))
            END AS w
          FROM c),
        t AS (
          SELECT lang,
            CAST(round(min(CAST(c AS DOUBLE) / w) OVER () * w
              / CAST(c AS DOUBLE) * 65536) AS INTEGER) AS thresh
          FROM w WHERE w IS NOT NULL),
        h AS (
          SELECT doc_id, lang,
            md5(CAST(doc_id AS VARCHAR) || '|' || lang) AS m
          FROM documents),
        b AS (
          SELECT doc_id, lang,
            (((instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(m, 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(m, 4, 1)) - 1) AS bucket
          FROM h)
        SELECT b.doc_id, b.lang FROM b JOIN t USING (lang)
        WHERE b.bucket < t.thresh""",
    // Conservation + FFD invariants: n_docs/n_tokens computed directly
    // over the corpus; the boolean invariants must hold by construction.
    "q_pack_invariants" ->
      """SELECT count(*) AS n_docs,
          CAST(sum(len(list_filter(string_split_regex(lower(text), ' +'), t -> t != ''))) AS BIGINT) AS n_tokens,
          TRUE AS fill_consistent, TRUE AS max_fill_ok,
          TRUE AS bins_lower_ok, TRUE AS underfull_ok
        FROM documents""",
    // Streaming forms are value-identical to the batch forms, so the batch
    // oracles apply (minus n_users / session_seq, which the streaming
    // shapes do not emit).
    "q_events_hourly_stream" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
          count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events
        GROUP BY 1, 2""",
    "q_stream_dedup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
          CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events""",
    // Quantile-sketch envelope: exact group counts + TRUE gates (the
    // sketch must land inside the exact p ± 0.01 value envelope).
    "q_quantile_bounds" ->
      """SELECT l_returnflag, count(*) AS n_rows,
          TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p95_ok
        FROM lineitem GROUP BY 1""",
    // BPE token counting: oracle chain generated from the SAME merge
    // table as the Spark expression (TextAnalysis.bpeOracleSql).
    "q_bpe_tokens" -> TextAnalysis.bpeOracleSql(),
    // staged CTE layers: DuckDB's binder caps one nested chain at 128
    // recursion depth, so the large-table oracle applies 50 rules per
    // layer — identical semantics, any table size
    "q_bpe_tokens_large" ->
      TextAnalysis.bpeOracleSqlStaged(TextAnalysis.largeBpeMerges),
    // GPT-2 split + staged chain, generated from the SAME pattern and
    // merge table as the Spark side (sentinel pre-pass in RE2 form);
    // input = documents text + profile sentence + non-ASCII plant so
    // the \p{L} classes are hash-gated cross-engine on every row
    "q_bpe_tokens_gpt2" -> TextAnalysis.bpeGpt2OracleSqlStaged(
      docsrcSql = TextAnalysis.gpt2MultiDocsrcSql),
    // generated from the SAME 4-merge prefix as the Spark side
    "q_bpe_merges" ->
      TextAnalysis.bpeMergeOracleSql(
        TextAnalysis.defaultBpeMerges.take(4), topN = 25),
    // piece vocabulary, chain generated from the same full merge table
    "q_bpe_pieces" -> TextAnalysis.bpePieceOracleSql(),
    // Hopping windows: each event contributes to the 4 windows whose
    // epoch-aligned starts are bucket15(ts) - k*15min, k = 0..3.
    "q_hop_window" ->
      """WITH e AS (
          SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        w AS (
          SELECT make_timestamp(
              (CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900 * 1000000)
              AS win_start,
            event_type, cents
          FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) t)
        SELECT win_start, event_type, count(*) AS n_events,
          CAST(sum(cents) AS BIGINT) AS value_cents
        FROM w GROUP BY 1, 2""",
    // session_window semantics: windows that overlap OR touch merge, so
    // only a gap STRICTLY greater than the window size breaks (> in the
    // oracle — spec-pinned against Spark), and session_end is last event
    // + gap. Microsecond-exact integer gap comparison.
    "q_session_window" ->
      """WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        t AS (
          SELECT user_id, ts, cents,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts)
                      > 1800000000 THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          FROM t)
        SELECT user_id, min(ts) AS session_start,
          max(ts) + INTERVAL 30 MINUTE AS session_end,
          count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, sid""",
    // identical centroid construction (micro-unit sums → round 6 →
    // FLOAT[]) and the same fold-order cosine as the Spark codegen kernel
    "q_label_outliers" ->
      """WITH ex AS (
          SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS um
          FROM embeddings),
        c AS (
          SELECT label, dim,
            round(CAST(sum(um) AS DOUBLE) / count(*) / 1000000.0, 6) AS ct
          FROM ex GROUP BY 1, 2),
        ca AS (
          SELECT label, CAST(list(ct ORDER BY dim) AS FLOAT[]) AS cent
          FROM c GROUP BY 1)
        SELECT e.vec_id, e.label,
          round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(ca.cent AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(ca.cent AS DOUBLE[]), CAST(ca.cent AS DOUBLE[])))), 6)
            AS centroid_cos
        FROM embeddings e JOIN ca USING (label)
        WHERE round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(ca.cent AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(ca.cent AS DOUBLE[]), CAST(ca.cent AS DOUBLE[])))), 6) < 0.0""",
    // integer 120%-of-mean activity cut over exact streaming counts
    "q_activity_outliers_stream" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                     count(*) AS n FROM c)
        SELECT user_id, CAST(cnt AS BIGINT) AS cnt
        FROM c, t WHERE cnt * n * 5 > total * 6""",
    // streaming session_window emits the identical session set on a
    // bounded close-sentinel run — same gaps-and-islands oracle
    "q_session_window_stream" ->
      """WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        t AS (
          SELECT user_id, ts, cents,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts)
                      > 1800000000 THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          FROM t)
        SELECT user_id, min(ts) AS session_start,
          max(ts) + INTERVAL 30 MINUTE AS session_end,
          count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, sid""",
    // Attribution: both the batch (bucketed range join) and the
    // stream-stream (watermarked inner self-join) forms equal this plain
    // inequality join — inclusive window ends on both engines.
    "q_attribution" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
          CAST(c.ts AS TIMESTAMP) AS click_ts,
          CAST(p.ts AS TIMESTAMP) AS purchase_ts,
          CAST(round(p.value * 100) AS BIGINT) AS value_cents
        FROM events c JOIN events p
          ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""",
    // multi-touch mirrored: same matched pairs, same (click_ts,
    // click_id) touch order, same U-shaped CASE and truncating division
    "q_attribution_multitouch" -> multiTouchOracle,
    // the streaming twin's watermark-closed emission converges to the
    // identical credited-touch relation — one oracle serves both
    "q_attribution_multitouch_stream" -> multiTouchOracle,
    "q_attribution_stream" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
          CAST(c.ts AS TIMESTAMP) AS click_ts,
          CAST(p.ts AS TIMESTAMP) AS purchase_ts,
          CAST(round(p.value * 100) AS BIGINT) AS value_cents
        FROM events c JOIN events p
          ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""",
    "q_sessionize_stream" ->
      """WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        t AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                 THEN 1 ELSE 0 END AS ns
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_seq
          FROM t)
        SELECT user_id,
          min(ts) AS session_start, max(ts) AS session_end,
          count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, session_seq""",
    // Stats family. q_heavy_hitters is FULLY hash-gated even though it
    // consults a sketch: the emitted relation is the exact integer-
    // threshold set, and freqItems' no-false-negative guarantee forces
    // `covered` to TRUE for every exact hitter — so the oracle asserts
    // the constant (the q_approx_bounds envelope pattern, folded into
    // one row).
    "q_heavy_hitters" ->
      """WITH tk AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), ' +'),
                        t -> t != '')) AS token
          FROM documents),
        c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
        t AS (SELECT sum(cnt) AS total FROM c)
        SELECT token, CAST(cnt AS BIGINT) AS cnt, TRUE AS covered
        FROM c, t WHERE cnt * 60 > total""",
    "q_cms_bounds" ->
      """WITH tk AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), ' +'),
                        t -> t != '')) AS token
          FROM documents),
        c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
        t AS (SELECT sum(cnt) AS total FROM c)
        SELECT token, CAST(cnt AS BIGINT) AS cnt, TRUE AS cms_within
        FROM c, t WHERE cnt * 60 > total""",
    // Exact fixed-point moments (micro-units in DECIMAL) — identical
    // quantize-then-sum arithmetic on both engines; `mean` derived from
    // the exact sums by the same double expression.
    "q_embed_dim_stats" ->
      """WITH ex AS (
          SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
              AS DECIMAL(19,0)) AS um
          FROM embeddings)
        SELECT dim, count(*) AS n,
          CAST(CAST(sum(um) AS DECIMAL(38,0)) AS VARCHAR) AS sum_micro_str,
          CAST(CAST(sum(um * um) AS DECIMAL(38,0)) AS VARCHAR) AS sumsq_micro_str,
          CAST(min(um) AS BIGINT) AS min_micro,
          CAST(max(um) AS BIGINT) AS max_micro,
          round(CAST(CAST(sum(um) AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean
        FROM ex GROUP BY 1""",
    // Pearson r from the five exact DECIMAL moments; the corr expression
    // is kept in LOCKSTEP with Stats.groupedCorrelation — same casts,
    // same association order, same rounding.
    "q_grouped_corr" ->
      """WITH st AS (
          SELECT l_returnflag,
            CAST(CAST(round(l_quantity * 100) AS BIGINT) AS DECIMAL(19,0)) AS x,
            CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0)) AS y
          FROM lineitem),
        m AS (
          SELECT l_returnflag, count(*) AS n,
            CAST(sum(x) AS DECIMAL(38,0)) AS sum_x,
            CAST(sum(y) AS DECIMAL(38,0)) AS sum_y,
            CAST(sum(x * x) AS DECIMAL(38,0)) AS sum_xx,
            CAST(sum(y * y) AS DECIMAL(38,0)) AS sum_yy,
            CAST(sum(x * y) AS DECIMAL(38,0)) AS sum_xy
          FROM st GROUP BY 1)
        SELECT l_returnflag, n,
          CAST(sum_x AS VARCHAR) AS sum_x_str,
          CAST(sum_y AS VARCHAR) AS sum_y_str,
          CAST(sum_xx AS VARCHAR) AS sum_xx_str,
          CAST(sum_yy AS VARCHAR) AS sum_yy_str,
          CAST(sum_xy AS VARCHAR) AS sum_xy_str,
          round(
            (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
              - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(sum_xx AS DOUBLE)
              - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE) * CAST(sum_yy AS DOUBLE)
              - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE)), 6) AS corr
        FROM m""",
    // RANGE frame ordered by the bare micros (peers included — SQL RANGE
    // CURRENT ROW means "last peer", identical in both engines); the lag
    // window totally ordered by (us, event_id). DuckDB's sum(BIGINT) is
    // HUGEINT — cast back so both sides render as int64.
    "q_rolling_features" ->
      """WITH e AS (
          SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
            CAST(round(value * 100) AS BIGINT) AS value_cents
          FROM events)
        SELECT event_id, user_id, value_cents,
          count(*) OVER w_range AS roll_n,
          CAST(sum(value_cents) OVER w_range AS BIGINT) AS roll_cents,
          lag(value_cents) OVER w_row AS prev_cents,
          us - lag(us) OVER w_row AS gap_us
        FROM e
        WINDOW
          w_range AS (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
          w_row AS (PARTITION BY user_id ORDER BY us, event_id)""",
    // the streaming form emits the identical per-event feature set on a
    // bounded run — same oracle text as q_rolling_features
    "q_rolling_features_stream" ->
      """WITH e AS (
          SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
            CAST(round(value * 100) AS BIGINT) AS value_cents
          FROM events)
        SELECT event_id, user_id, value_cents,
          count(*) OVER w_range AS roll_n,
          CAST(sum(value_cents) OVER w_range AS BIGINT) AS roll_cents,
          lag(value_cents) OVER w_row AS prev_cents,
          us - lag(us) OVER w_row AS gap_us
        FROM e
        WINDOW
          w_range AS (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
          w_row AS (PARTITION BY user_id ORDER BY us, event_id)""",
    // chi-square contribution kept in LOCKSTEP with
    // Stats.categoricalDrift — same casts, association order, rounding
    "q_drift" ->
      """WITH a AS (
          SELECT source, count(*) AS n_a FROM documents
          WHERE doc_id % 2 = 0 GROUP BY 1),
        b AS (
          SELECT source, count(*) AS n_b FROM documents
          WHERE doc_id % 2 = 1 GROUP BY 1),
        j AS (
          SELECT COALESCE(a.source, b.source) AS source,
            COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM a FULL OUTER JOIN b ON a.source = b.source),
        t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM j)
        SELECT source, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          round(
            pow(CAST(n_a AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
              * CAST(tot_a AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 2)
            / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE))
            + pow(CAST(n_b AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
              * CAST(tot_b AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 2)
            / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_b AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 6) AS chi2_term
        FROM j, t""",
    // median/MAD outliers mirrored: the q_grouped_median lower-median
    // CTE twice (score, then absolute deviation), same planted spikes,
    // same integer cut
    "q_mad_outliers" ->
      """WITH spiked AS (
          SELECT doc_id, lang,
            n_chars + CASE WHEN doc_id % 211 = 0 THEN 5000 ELSE 0 END
              AS n_chars
          FROM documents),
        h AS (
          SELECT lang, CAST(n_chars AS BIGINT) AS score, count(*) AS cnt
          FROM spiked WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        c AS (
          SELECT lang, score,
            sum(cnt) OVER (PARTITION BY lang ORDER BY score ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY lang) AS total
          FROM h),
        med AS (
          SELECT lang, CAST(min(score) AS BIGINT) AS med
          FROM c WHERE cum * 2 >= total GROUP BY 1),
        d AS (
          SELECT d0.lang, d0.doc_id, CAST(d0.n_chars AS BIGINT) AS score,
            abs(CAST(d0.n_chars AS BIGINT) - med.med) AS dev
          FROM spiked d0 JOIN med USING (lang)
          WHERE d0.n_chars IS NOT NULL),
        h2 AS (SELECT lang, dev, count(*) AS cnt FROM d GROUP BY 1, 2),
        c2 AS (
          SELECT lang, dev,
            sum(cnt) OVER (PARTITION BY lang ORDER BY dev ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            sum(cnt) OVER (PARTITION BY lang) AS total
          FROM h2),
        mad AS (
          SELECT lang, CAST(min(dev) AS BIGINT) AS mad
          FROM c2 WHERE cum * 2 >= total GROUP BY 1)
        SELECT d.lang, d.doc_id, d.score, d.dev AS abs_dev, mad.mad
        FROM d JOIN mad USING (lang)
        WHERE d.dev > 5 * mad.mad""",
    // numeric drift mirrored: identical cumBefore edge derivation,
    // identical count-of-edges bin assignment, identical chi2 text
    "q_numeric_drift" ->
      """WITH sa AS (
          SELECT CAST(n_chars AS BIGINT) AS s FROM documents
          WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        sb AS (
          SELECT CAST(n_chars + 20 AS BIGINT) AS s FROM documents
          WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        h AS (SELECT s, count(*) AS c FROM sa GROUP BY 1),
        cum AS (
          SELECT s, COALESCE(sum(c) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
          FROM h),
        n AS (SELECT sum(c) AS n FROM h),
        e AS (
          SELECT bin, min(s) AS edge FROM (
            SELECT s, least(9, (10 * cumb) // n) AS bin FROM cum, n) q
          WHERE bin >= 1 GROUP BY 1),
        ba AS (SELECT (SELECT count(*) FROM e WHERE edge <= sa.s) AS bin
          FROM sa),
        bb AS (SELECT (SELECT count(*) FROM e WHERE edge <= sb.s) AS bin
          FROM sb),
        a2 AS (SELECT bin, count(*) AS n_a FROM ba GROUP BY 1),
        b2 AS (SELECT bin, count(*) AS n_b FROM bb GROUP BY 1),
        j AS (
          SELECT COALESCE(a2.bin, b2.bin) AS bin,
            COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM a2 FULL OUTER JOIN b2 ON a2.bin = b2.bin),
        t AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b FROM j)
        SELECT CAST(bin AS INT) AS bin,
          CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          round(
            pow(CAST(n_a AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
              * CAST(tot_a AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 2)
            / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_a AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE))
            + pow(CAST(n_b AS DOUBLE) - (CAST(n_a + n_b AS DOUBLE)
              * CAST(tot_b AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 2)
            / (CAST(n_a + n_b AS DOUBLE) * CAST(tot_b AS DOUBLE)
              / CAST(tot_a + tot_b AS DOUBLE)), 6) AS chi2_term
        FROM j, t""",
    // single-window reference form: the salted two-phase plan must emit
    // the identical relation (rank ties broken by doc_id on both sides)
    "q_top_per_group" ->
      """WITH r AS (
          SELECT source, doc_id, n_chars,
            row_number() OVER (PARTITION BY source
              ORDER BY CAST(n_chars AS BIGINT) DESC, doc_id) AS rnk
          FROM documents)
        SELECT source, doc_id, n_chars, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3""",
    // exact integer weeks (micros DIV week-micros); the join-free Spark
    // plan and this join-shaped reference compute the same matrix
    "q_retention" ->
      """WITH uw AS (
          SELECT user_id,
            CAST(floor(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
              / 604800000000) AS BIGINT) AS week
          FROM events GROUP BY 1, 2),
        c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
        SELECT cohort_week, week - cohort_week AS week_offset,
          count(*) AS n_users
        FROM uw JOIN c USING (user_id) GROUP BY 1, 2""",
    // greedy-earliest funnel chain in lockstep: each stage joins the
    // previous stage's (user, min-ts) and advances on strict >
    "q_funnel" ->
      """WITH s0 AS (
          SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t
          FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL
            AND ts IS NOT NULL
          GROUP BY 1),
        s1 AS (
          SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
          FROM events e JOIN s0 ON e.user_id = s0.user_id
          WHERE e.event_type = 'click'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s0.t
          GROUP BY 1),
        s2 AS (
          SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s1.t
          GROUP BY 1)
        SELECT 0 AS stage_idx, 'view' AS stage,
          (SELECT count(*) FROM s0) AS n_users
        UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)""",
    // streaming funnel emits the identical stage counts on a bounded run
    // — same oracle text as q_funnel
    // — same oracle text as q_retention (the streaming path is
    // value-identical on a bounded run; only the state machine differs)
    "q_retention_stream" ->
      """WITH uw AS (
          SELECT user_id,
            CAST(floor(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
              / 604800000000) AS BIGINT) AS week
          FROM events GROUP BY 1, 2),
        c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
        SELECT cohort_week, week - cohort_week AS week_offset,
          count(*) AS n_users
        FROM uw JOIN c USING (user_id) GROUP BY 1, 2""",
    "q_funnel_stream" ->
      """WITH s0 AS (
          SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t
          FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL
            AND ts IS NOT NULL
          GROUP BY 1),
        s1 AS (
          SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
          FROM events e JOIN s0 ON e.user_id = s0.user_id
          WHERE e.event_type = 'click'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s0.t
          GROUP BY 1),
        s2 AS (
          SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s1.t
          GROUP BY 1)
        SELECT 0 AS stage_idx, 'view' AS stage,
          (SELECT count(*) FROM s0) AS n_users
        UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)""",
    // exact micro-unit centroid sums as VARCHAR digits; centroid double
    // derived in lockstep with Stats.labelCentroids
    // centroid + 0: DuckDB round() preserves IEEE -0.0 (a tiny negative
    // sum rounding to zero — first hit at sf10, label 3 dim 47) while
    // Spark ROUND goes through BigDecimal which has no signed zero; the
    // +0 canonicalizes to +0.0, matching the engine on every value
    "q_label_centroids" ->
      """WITH ex AS (
          SELECT label,
            CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
            CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
              AS DECIMAL(19,0)) AS um
          FROM embeddings)
        SELECT label, dim, count(*) AS n,
          CAST(CAST(sum(um) AS DECIMAL(38,0)) AS VARCHAR) AS sum_micro_str,
          round(CAST(CAST(sum(um) AS DECIMAL(38,0)) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) / 1000000.0, 6) + 0 AS centroid
        FROM ex GROUP BY 1, 2""",
    // histogram-threshold top-fraction: cutoff = highest score whose
    // from-the-top cumulative count reaches ceil(frac*n); ties kept
    "q_top_fraction" ->
      """WITH h AS (
          SELECT CAST(n_chars AS BIGINT) AS score, count(*) AS cnt
          FROM documents GROUP BY 1),
        c AS (
          SELECT score, sum(cnt) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM h),
        n AS (SELECT sum(cnt) AS total FROM h),
        k AS (
          SELECT max(score) AS cutoff FROM c, n
          WHERE cum >= CAST(ceil(0.2 * CAST(total AS DOUBLE)) AS BIGINT))
        SELECT doc_id, n_chars FROM documents, k
        WHERE CAST(n_chars AS BIGINT) >= cutoff""",
    // audio: samples recomputed from the generator contract — md5 hex
    // pairs as little-endian int16 (8 per block), silence plant (frames
    // 0..63 for d % 23 = 3), then clipping plant (every 50th frame for
    // d % 37 = 2, clip wins on overlap) — then the identical integer
    // aggregates the engine computes from real decoded WAV bytes
    "q_audio_stats" ->
      """WITH p AS (
          SELECT doc_id AS d, CAST(doc_id % 120 + 40 AS BIGINT) AS n,
            CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS INTEGER) AS rate
          FROM documents),
        idx AS (
          SELECT d, n, rate, u.i FROM p, unnest(generate_series(0, n - 1)) AS u(i)),
        s AS (
          SELECT d, i,
            CASE
              WHEN d % 37 = 2 AND i % 50 = 0 THEN 32767
              WHEN d % 23 = 3 AND i < 64 THEN 0
              ELSE CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
            END AS v
          FROM (
            SELECT d, i,
              ( (instr('0123456789abcdef', substr(h, (i % 8) * 4 + 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(h, (i % 8) * 4 + 2, 1)) - 1) )
              + 256 * ( (instr('0123456789abcdef', substr(h, (i % 8) * 4 + 3, 1)) - 1) * 16
                      + (instr('0123456789abcdef', substr(h, (i % 8) * 4 + 4, 1)) - 1) ) AS raw
            FROM (
              SELECT d, i,
                md5(CAST(d AS VARCHAR) || ':' || CAST(i // 8 AS VARCHAR)) AS h
              FROM idx))),
        w AS (
          SELECT d, i // 64 AS win, max(abs(v)) AS wmax FROM s GROUP BY 1, 2),
        agg AS (
          SELECT d,
            CAST(max(abs(v)) AS BIGINT) AS peak_abs,
            CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
            CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
            CAST(sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END) AS BIGINT)
              AS clip_count
          FROM s GROUP BY 1),
        wagg AS (
          SELECT d, CAST(count(*) AS BIGINT) AS n_windows,
            CAST(sum(CASE WHEN wmax < 512 THEN 1 ELSE 0 END) AS BIGINT)
              AS silent_windows
          FROM w GROUP BY 1)
        SELECT p.d AS media_id, TRUE AS decode_ok, p.rate AS sample_rate,
          CAST(1 AS INTEGER) AS n_channels, p.n AS n_samples,
          p.n * 1000 // p.rate AS duration_ms,
          agg.peak_abs, agg.sum_abs, agg.sum_sq, agg.clip_count,
          wagg.n_windows, wagg.silent_windows
        FROM p
        JOIN agg ON agg.d = p.d
        JOIN wagg ON wagg.d = p.d""",
    // fineweb: trimmed non-empty lines, duplicate-occurrence chars per
    // exact line value, whitespace words, per-mille integer thresholds —
    // primitive-for-primitive the engine's projection
    "q_fineweb_rules" ->
      """WITH raw AS (SELECT doc_id AS d, text FROM documents),
        lines AS (
          SELECT d, trim(u.l) AS l
          FROM raw, unnest(string_split(text, chr(10))) AS u(l)
          WHERE trim(u.l) != ''),
        lm AS (
          SELECT d,
            CAST(count(*) AS BIGINT) AS n_lines,
            CAST(sum(CASE WHEN right(l, 1) IN ('.', '''', '"', '!', '?')
              THEN 1 ELSE 0 END) AS BIGINT) AS punct_lines,
            CAST(sum(CASE WHEN length(l) < 30 THEN 1 ELSE 0 END) AS BIGINT)
              AS short_lines,
            CAST(sum(length(l)) AS BIGINT) AS line_chars
          FROM lines GROUP BY 1),
        dups AS (
          SELECT d,
            CAST(coalesce(sum(CASE WHEN cnt > 1 THEN len * (cnt - 1) ELSE 0 END), 0)
              AS BIGINT) AS dup_line_chars
          FROM (SELECT d, l, length(l) AS len, count(*) AS cnt
                FROM lines GROUP BY 1, 2, 3)
          GROUP BY 1),
        m AS (
          SELECT r.d,
            coalesce(lm.n_lines, 0) AS n_lines,
            coalesce(lm.punct_lines, 0) AS punct_lines,
            coalesce(lm.short_lines, 0) AS short_lines,
            coalesce(lm.line_chars, 0) AS line_chars,
            coalesce(dups.dup_line_chars, 0) AS dup_line_chars,
            CAST(len(list_filter(regexp_split_to_array(r.text, '[ \t\n\x0B\f\r]+'),
              t -> t != '')) AS BIGINT) AS n_words,
            CAST(length(r.text) - length(replace(r.text, chr(10), '')) AS BIGINT)
              AS n_newlines
          FROM raw r
          LEFT JOIN lm ON lm.d = r.d
          LEFT JOIN dups ON dups.d = r.d)
        SELECT d AS doc_id, n_lines, punct_lines, short_lines, line_chars,
          dup_line_chars, n_words, n_newlines,
          coalesce(punct_lines * 1000 >= 120 * n_lines, false) AS r_punct,
          coalesce(short_lines * 1000 < 670 * n_lines, false) AS r_short,
          coalesce(dup_line_chars * 1000 < 10 * line_chars OR line_chars = 0,
            false) AS r_dup_lines,
          coalesce(NOT (n_newlines * 1000 > 300 * n_words), false) AS r_newline,
          coalesce(punct_lines * 1000 >= 120 * n_lines, false)
            AND coalesce(short_lines * 1000 < 670 * n_lines, false)
            AND coalesce(dup_line_chars * 1000 < 10 * line_chars
              OR line_chars = 0, false)
            AND coalesce(NOT (n_newlines * 1000 > 300 * n_words), false)
            AS fineweb_keep
        FROM m""",
    // HTML extraction: the oracle re-derives every column from the
    // syntheticHtmlFromDocs generator contract — plant literals for the
    // title/nav/latin/footer blocks (each dropped by exactly one rule),
    // per-line keep arithmetic on the raw document text, inline-anchor
    // link chars for doc_id % 4 = 0 — no HTML parser on the oracle side
    "q_html_extract" ->
      ("""WITH raw AS (
          SELECT doc_id, coalesce(text, '') AS text FROM documents),
        lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM raw),
        l AS (
          SELECT doc_id, u.i - 1 AS i, ls[u.i] AS lraw,
            trim(ls[u.i], ' ' || chr(9) || chr(11) || chr(12) || chr(13)) AS t
          FROM lx, unnest(generate_series(1, len(ls))) AS u(i)),
        lc AS (
          SELECT doc_id, i, t,
            CAST(length(t) AS BIGINT) AS nc,
            CASE WHEN doc_id % 4 = 0 AND i = 0 AND length(lraw) > 0
                  AND substr(lraw, 1, 1) != ' '
              THEN CAST(length(regexp_replace(string_split(lraw, ' ')[1],
                '[\t\x0B\f\r]', '', 'g')) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS lk,
            CAST(len(list_filter(regexp_split_to_array(t, '[ \t\n\x0B\f\r]+'),
              x -> x != '')) AS BIGINT) AS words,
            CAST(len(list_filter(regexp_split_to_array(t, '[ \t\n\x0B\f\r]+'),
              x -> lower(x) IN (""" +
      graft.functions.StopwordProfiles.table.head._2.map(
        w => "'" + w + "'").mkString(", ") +
      """))) AS BIGINT) AS stops
          FROM l WHERE t != ''),
        lk2 AS (
          SELECT doc_id, i, t, nc, lk,
            (nc >= 25 AND lk * 1000 <= 300 * nc
              AND (stops * 1000 >= 100 * words OR nc >= 200)) AS keep
          FROM lc),
        agg AS (
          SELECT doc_id,
            CAST(count(*) AS BIGINT) AS nb,
            CAST(sum(nc) AS BIGINT) AS line_chars,
            CAST(sum(lk) AS BIGINT) AS line_link,
            CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nk,
            CAST(coalesce(sum(CASE WHEN keep THEN nc END), 0) AS BIGINT)
              AS kept_chars,
            coalesce(string_agg(CASE WHEN keep THEN t END, chr(10) ORDER BY i),
              '') AS text_extracted
          FROM lk2 GROUP BY 1)
        SELECT r.doc_id,
          coalesce(a.text_extracted, '') AS text_extracted,
          CAST(4 + coalesce(a.nb, 0) AS INTEGER) AS n_blocks,
          CAST(coalesce(a.nk, 0) AS INTEGER) AS n_kept,
          CAST(length('d' || CAST(r.doc_id AS VARCHAR))
            + length('home page link about the team pages contact and support desk')
            + length('lorem ipsum dolor sit amet consectetur adipiscing elit vestibulum')
            + length('&copy; 2031 example site')
            + coalesce(a.line_chars, 0) AS BIGINT) AS chars_raw,
          CAST(coalesce(a.kept_chars, 0) AS BIGINT) AS chars_kept,
          CAST(length(replace('home page link', ' ', ''))
            + length(replace('about the team pages', ' ', ''))
            + length(replace('contact and support desk', ' ', ''))
            + coalesce(a.line_link, 0) AS BIGINT) AS link_chars
        FROM raw r LEFT JOIN agg a USING (doc_id)"""),
    // profile-dispatched HTML extraction: generated from the SAME
    // StopwordProfiles table as the engine kernel (plant literals +
    // per-line stop counts dispatched by the same doc_id%10 CASE)
    "q_html_extract_multi" -> TextAnalysis.htmlMultiOracleSql,
    // WARC ingest: generated from the SAME page literals and profile
    // table as the fixture — every field recomputed from doc_id
    // arithmetic + the raw text, no WARC/HTML parsing in the oracle
    "q_warc_extract" -> Warc.warcOracleSql,
    // shard plan: the oracle is the single-node window form of the
    // engine's distributed two-pass ordinal — identical strict total
    // order (md5 shuffle key, id tiebreak), identical shard arithmetic
    "q_shard_plan" ->
      """WITH o AS (
          SELECT doc_id,
            md5('sh' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
            CAST(row_number() OVER (
              ORDER BY md5('sh' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) - 1
              AS BIGINT) AS ordinal
          FROM documents)
        SELECT doc_id, shuffle_key, ordinal,
          CAST(ordinal // 1000 AS BIGINT) AS shard,
          CAST(ordinal % 1000 AS BIGINT) AS pos_in_shard
        FROM o""")
}
