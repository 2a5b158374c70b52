package graft.queries

import graft.SampleProject
import graft.analyze.Compiler
import graft.exec.{Runner, Runners}
import graft.operators.{Integrity, Stats}
import graft.queries.Fixtures._
import org.apache.spark.sql.functions.{coalesce, col, expr, lit}

/** TPC-H hub and output queries through the compiled sample project
  * (implicit and explicit join paths, materialized hubs, file sinks, the
  * emitted SQL path), the YAML-routed runtime project, and the integrity
  * audits over the same warehouse.
  */
object HubQueries {
  /** Shared by q_lineitem_enriched and q_lineitem_enriched_sql. */
  private val lineitemEnrichedOracle: String =
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
        LEFT JOIN part p ON l.l_partkey = p.p_partkey"""

  /** Shared by q_feature_customer and q_feature_customer_mat. */
  private val featureCustomerOracle: String =
    """SELECT c.c_name AS customer,
          strftime(o.o_orderdate, '%Y%m') AS ship_ym,
          CAST(sum(CAST(round((l.l_extendedprice - l.l_tax - l.l_discount) * 100) AS BIGINT))
               AS BIGINT) AS net_price_100
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_shipdate BETWEEN '1993-01-01' AND '1998-12-31'
        GROUP BY c.c_name, strftime(o.o_orderdate, '%Y%m')"""

  /** Shared by q_party_summary and q_party_summary_file. */
  private val partySummaryOracle: String =
    """SELECT c_name AS party_name, c_mktsegment AS party_type,
          c_acctbal AS acctbal, c_nationkey AS nation_key
        FROM customer
        UNION ALL
        SELECT s_name, CAST(null AS VARCHAR), s_acctbal, s_nationkey
        FROM supplier"""

  val all: Seq[Query] = Seq(
    // S1/P1/P2/P3/P6 + J1/J2/J5/J7 (implicit + explicit paths, reverse hop)
    Query("q_lineitem_enriched", (_, dir) =>
      runner(dir).hubSelect("tpch_lineitem",
        "l_orderkey", "l_linenumber", "net_price", "net_price_no_returns",
        "c_name", "c_n_name", "r_name", "part_type", "supp_name",
        "order_line_key", "order_ym"),
      Some(lineitemEnrichedOracle)),
    // C9 SQL-emission side channel on the driver path: the emitted
    // reference-style SQL (CTE chains + lateral many-joins) EXECUTES via
    // spark.sql over hub temp views in topo order, and its result is
    // value-matched against the same oracle as the planner form
    // (q_lineitem_enriched) — the two code paths must agree cell-for-cell
    Query("q_lineitem_enriched_sql", (s, dir) => {
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
        .foreach { t =>
          graft.core.Parquet.read(s, s"$dir/$t.parquet").createOrReplaceTempView(t)
        }
      val em = new graft.exec.SqlEmitter(compiled)
      val sqls = compiled.sources.map(cs =>
        cs.source.name ->
          em.sourceSql(cs.source.name, src => src.sourceTable))
      // hubs CONSUMED by a downstream source's SQL (inter-source scans):
      // `dependsOn` holds exactly the non-self hop targets whose hub views
      // the emitted SQL names
      val consumed = compiled.sources.flatMap(_.dependsOn).toSet
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
      compiled.levels(compiled.sources.map(_.source.name)).foreach { lvl =>
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
    },
      // C9: the emitted-SQL execution path shares the planner row's oracle.
      Some(lineitemEnrichedOracle)),
    // J4/A1: M-aggregates over reverse path + scalar lookup
    Query("q_customer_aggs", (_, dir) =>
      runner(dir).hubSelect("tpch_customer",
        "c_custkey", "order_cnt", "total_spent_cents", "nation_name"),
      Some("""SELECT c.c_custkey,
          coalesce(a.cnt, 0) AS order_cnt,
          a.total AS total_spent_cents,
          n.n_name AS nation_name
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(o_orderkey) cnt,
                          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) total
                   FROM orders GROUP BY o_custkey) a ON c.c_custkey = a.o_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""")),
    // J4/A1: forward 1-M aggregate
    Query("q_nation_suppliers", (_, dir) =>
      runner(dir).hubSelect("tpch_nation",
        "n_nationkey", "n_name", "supplier_cnt", "supplier_acctbal_cents"),
      Some("""SELECT n.n_nationkey, n.n_name,
          coalesce(a.cnt, 0) AS supplier_cnt,
          a.bal AS supplier_acctbal_cents
        FROM nation n
        LEFT JOIN (SELECT s_nationkey, count(s_suppkey) cnt,
                          CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) bal
                   FROM supplier GROUP BY s_nationkey) a ON n.n_nationkey = a.s_nationkey""")),
    // A5: percentile/median/collection/boolean aggregates over an M path.
    // has_open_order is coalesced to FALSE in the COMPARED projection only
    // (both sides): a NULL boolean renders as None via pyarrow but NaN via
    // DuckDB's pandas reader — the same two-reader divergence class as
    // q_part_decimal. The hub keeps the nullable column (reference
    // semantics: empty aggregate → NULL).
    Query("q_customer_percentiles", (_, dir) =>
      runner(dir).hubSelect("tpch_customer",
        "c_custkey", "median_order", "p25_order", "statuses", "has_open_order")
        .withColumn("has_open_order",
          coalesce(col("has_open_order"), lit(false))),
      Some("""SELECT c.c_custkey,
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
                   FROM orders GROUP BY o_custkey) a ON c.c_custkey = a.o_custkey""")),
    // A4: HLL++ approximate distinct (rows-only: sketch is engine-specific)
    Query("q_customer_approx", (_, dir) =>
      runner(dir).hubSelect("tpch_customer", "c_custkey", "approx_orders"),
      None),
    // A4 accuracy envelope, oracle-backed: the exact per-customer count is
    // value-matched against DuckDB, and the sketch must land within
    // max(4, 30%) of it (measured max deviation across SFs is 3 at
    // rsd=0.05) — a broken sketch fails the gate even though its exact
    // cell values cannot be oracled
    Query("q_approx_bounds", (_, dir) =>
      runner(dir).hubSelect("tpch_customer",
        "c_custkey", "order_cnt", "approx_orders")
        .select(col("c_custkey"), col("order_cnt"),
          expr("abs(approx_orders - order_cnt) <= " +
            "greatest(4.0, CAST(order_cnt AS DOUBLE) * 0.3)").as("approx_ok")),
      // A4 envelope: exact count oracled; the sketch bound is engine-side.
      Some("""SELECT c.c_custkey, coalesce(a.cnt, 0) AS order_cnt, TRUE AS approx_ok
        FROM customer c
        LEFT JOIN (SELECT o_custkey, count(o_orderkey) cnt
                   FROM orders GROUP BY o_custkey) a ON c.c_custkey = a.o_custkey""")),
    // Quantile sketch (Greenwald-Khanna via percentile_approx): the
    // mergeable distributed-percentile primitive — exact percentile over
    // 100 TB needs a global sort; the sketch merges per-partition state
    // in one two-phase agg. Raw sketch values are engine-specific
    // (rows-only), so the envelope sibling below carries the gate. The
    // four quantiles are projected to scalar columns (not an ARRAY) so
    // the driver's pandas-based rows-only check can sort the output.
    Query("q_quantile_sketch", (s, dir) =>
      graft.core.Parquet.read(s, s"$dir/lineitem.parquet")
        .withColumn("price_cents",
          expr("CAST(round(l_extendedprice * 100) AS LONG)"))
        .groupBy("l_returnflag")
        .agg(expr("percentile_approx(price_cents, " +
          "array(0.25D, 0.5D, 0.75D, 0.95D), 10000)").as("__ap"))
        .select(col("l_returnflag"),
          expr("__ap[0]").as("p25_cents"), expr("__ap[1]").as("p50_cents"),
          expr("__ap[2]").as("p75_cents"), expr("__ap[3]").as("p95_cents")),
      None),
    // Sketch accuracy envelope, oracle-backed: the per-group row count is
    // value-matched against DuckDB, and each sketch quantile must land
    // between the EXACT percentiles at p ± 0.01 (the sketch's rank-error
    // bound is 1/accuracy = 1e-4, two orders inside the gate; monotone
    // rank→value makes the exact ±0.01 values a sound envelope)
    Query("q_quantile_bounds", (s, dir) =>
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
          expr("__ap[3] >= __ex[6] AND __ap[3] <= __ex[7]").as("p95_ok")),
      // Quantile-sketch envelope: exact group counts + TRUE gates (the
      // sketch must land inside the exact p ± 0.01 value envelope).
      Some("""SELECT l_returnflag, count(*) AS n_rows,
          TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok, TRUE AS p95_ok
        FROM lineitem GROUP BY 1""")),
    // W1: window rule pass-through
    Query("q_orders_window", (_, dir) =>
      runner(dir).hubSelect("tpch_orders",
        "o_orderkey", "o_year", "price_rank_in_cust"),
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
          CAST(rank() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS price_rank_in_cust
        FROM orders""")),
    // ------- runtime YAML project (C1 driver path) -------
    // J3 self-join (1-1 self-relation) + theta J4 (non-equi M-M self
    // aggregate through the deterministic tagged-row fallback)
    Query("q_self_theta", (_, dir) =>
      yamlRunner(dir).hubSelect("tpch_orders_self",
        "o_orderkey", "self_prio", "n_prior_orders", "prior_spent_cents"),
      Some("""SELECT a.o_orderkey, b.o_orderpriority AS self_prio,
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
          GROUP BY a2.o_orderkey) p ON a.o_orderkey = p.k""")),
    // J6 unique-guarded join: only solo-order customers resolve
    Query("q_solo_order", (_, dir) =>
      yamlRunner(dir).hubSelect("tpch_customer2", "c_custkey", "solo_order_prio"),
      Some("""SELECT c.c_custkey, o.o_orderpriority AS solo_order_prio
        FROM customer c LEFT JOIN
          (SELECT o_custkey, o_orderpriority,
                  count(*) OVER (PARTITION BY o_custkey) = 1 AS uv
           FROM orders) o
        ON c.c_custkey = o.o_custkey AND o.uv""")),
    // P5 struct keys in rules (incl. nested struct-in-struct walk)
    Query("q_struct_keys", (_, dir) =>
      yamlRunner(dir).hubSelect("tpch_events", "event_id", "pk", "meta_k"),
      Some("""SELECT event_id,
          CAST(props->>'$.k' AS BIGINT) AS pk,
          CAST(props->>'$.k' AS BIGINT) AS meta_k
        FROM events""")),
    // P5 struct keys in output mappings
    Query("q_struct_output", (_, dir) => yamlRunner(dir).output("event_struct"),
      Some("""SELECT event_id,
          CAST(props->>'$.k' AS BIGINT) AS k_out,
          event_type AS et
        FROM events""")),
    // decimal(38,12) discipline + cast_datatype (decimal, string) + decimal
    // arithmetic through rule-on-rule. The compared columns are the engine's
    // OWN string renderings of the decimal rules (rule-on-rule CAST ...
    // AS STRING in part2.yaml): values proved byte-exact in r2, but DECIMAL
    // cells render differently across the driver's two parquet readers, so
    // the compare serializes deterministically on both sides while the hub
    // keeps the decimal(38,12)-typed columns for TypeProbe.
    Query("q_part_decimal", (_, dir) =>
      yamlRunner(dir).hubSelect("tpch_part2",
        "p_partkey", "retail_cents_str", "size_str", "retail_x3_str"),
      Some("""SELECT p_partkey,
          CAST(CAST(CAST(round(p_retailprice * 100) AS BIGINT) AS DECIMAL(38,12)) AS VARCHAR) AS retail_cents_str,
          CAST(p_size AS VARCHAR) AS size_str,
          CAST(CAST(CAST(round(p_retailprice * 100) AS BIGINT) * 3 AS DECIMAL(38,12)) AS VARCHAR) AS retail_x3_str
        FROM part""")),

    // P4/A2/S4: filtered aggregate output channel
    Query("q_feature_customer", (_, dir) => runner(dir).output("feature_customer"),
      Some(featureCustomerOracle)),
    // S3 hub materialization on the driver path: the same output computed
    // through DROP/CREATE-style hub parquet round-trips (every hub written
    // and re-read — the reference's hub-table contract and the restartable
    // large-pipeline mode) must be value-identical to the lazy single-DAG
    // plan; oracle = the q_feature_customer SQL
    Query("q_feature_customer_mat", (_, dir) => {
      val tmp = tempDir("graft_hub_mat")
      new Runner(compiled, Runners.parquetDir(dir), materializeDir = Some(tmp))
        .output("feature_customer")
    },
      // S3 materialized-hub path: same result contract as the lazy plan.
      Some(featureCustomerOracle)),
    // O1/P7: multi-channel UNION ALL with typed null fill
    Query("q_party_summary", (_, dir) => runner(dir).output("party_summary"),
      Some(partySummaryOracle)),
    // S4/S6 run-path file sink on the driver path: the same output executed
    // through Runner.run's `file` sink (parquet under outDir — the
    // reference's file-output contract) and read back; oracle = the
    // q_party_summary SQL
    Query("q_party_summary_file", (s, dir) => {
      val fileProj = SampleProject.project.copy(outputs = Seq(
        SampleProject.partySummary.copy(
          outputType = graft.core.OutputType.File("parquet"))))
      val tmp = tempDir("graft_out_file")
      new Runner(new Compiler(fileProj).compile(), Runners.parquetDir(dir)).run(tmp)
      s.read.parquet(s"$tmp/party_summary")
    },
      // S4/S6 file-sink round trip shares the planner row's oracle.
      Some(partySummaryOracle)),
    // A2/A3: DISTINCT + plain aggregates, min/max
    Query("q_order_stats", (_, dir) => runner(dir).output("order_stats"),
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
          count(DISTINCT o_custkey) AS n_customers,
          count(o_orderkey) AS n_orders,
          max(o_totalprice) AS max_price,
          min(o_totalprice) AS min_price
        FROM orders
        GROUP BY 1""")),
    // referential-integrity audit over every star-schema edge; orphan
    // columns are zero on a consistent warehouse (that's the assertion),
    // unreferenced_parent_keys is the non-trivial coverage signal
    Query("q_ri_audit", (s, dir) => {
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
    },
      Some(Seq(
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
      }.mkString("", "\nUNION ALL\n", ""))),
    // key-uniqueness audit (the join-fan-out dual of q_ri_audit) over
    // every declared key, a composite key, and — deliberately — a
    // NON-unique column (events.user_id) so the dup columns are live
    Query("q_pk_audit", (s, dir) => {
      def t(n: String) = graft.core.Parquet.read(s, s"$dir/$n.parquet")
      Integrity.pkAuditAll(Seq(
        (t("orders"), Seq("o_orderkey"), "orders(o_orderkey)"),
        (t("customer"), Seq("c_custkey"), "customer(c_custkey)"),
        (t("lineitem"), Seq("l_orderkey", "l_linenumber"),
          "lineitem(l_orderkey,l_linenumber)"),
        (docs(s, dir), Seq("doc_id"), "documents(doc_id)"),
        (events(s, dir), Seq("event_id"), "events(event_id)"),
        (events(s, dir), Seq("user_id"), "events(user_id)")))
    },
      Some(Seq(
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
      }.mkString("", "\nUNION ALL\n", ""))),
    // join-key skew pre-flight over three differently-shaped keys: the
    // frequency-histogram Gini/p99/top-share numbers that pick between
    // plain hash join, AQE skew split, salting, and hot-set caps
    Query("q_skew_audit", (s, dir) => {
      def t(n: String) = graft.core.Parquet.read(s, s"$dir/$n.parquet")
      Integrity.skewAuditAll(Seq(
        (events(s, dir), Seq("user_id"), "events(user_id)"),
        (t("lineitem"), Seq("l_orderkey"), "lineitem(l_orderkey)"),
        (t("orders"), Seq("o_custkey"), "orders(o_custkey)")))
    },
      // skew audit mirrored: same frequency histogram, same tie-grouped
      // rank closed form, same lockstep-double gini
      Some(Seq(
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
      }.mkString("", "\nUNION ALL\n", ""))),
    // project-level relation audit: the YAML-declared relation expressions
    // themselves drive the joins (rendered exactly as the planner renders
    // them) — unmatched lookups and *-1 fan-out violations per relation
    // r16: pruned hubs — the audit joins bind relation KEY columns only,
    // so the provider plans just those rules instead of the full enriched
    // hub join tree once per relation (identical counts, oracle-gated)
    Query("q_relation_audit", (_, dir) =>
      graft.exec.RelationAudit.auditPruned(compiled, runner(dir)),
      // mirrors RelationAudit over the raw tables (hub row sets are the raw
      // rows; the sample-project join attrs are raw columns)
      Some(Seq(
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
      }.mkString("", "\nUNION ALL\n", ""))),
    // ANALYZE-style column profile: per-column row/null/ndv/min/max from
    // ONE aggregation over ONE scan per relation (exact ndv here — the
    // oracle baseline; approx_count_distinct is the no-Expand scale
    // path, rsd-gated in ProfileSpec); int/string columns only so
    // min/max strings render identically cross-engine
    Query("q_profile", (s, dir) => {
      def t(n: String) = graft.core.Parquet.read(s, s"$dir/$n.parquet")
      Stats.profile(t("orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        "orders")
        .unionAll(Stats.profile(docs(s, dir),
          Seq("doc_id", "lang", "source", "n_chars"), "documents"))
    },
      // per-column profile mirrored: one SELECT per (relation, column) —
      // the naive per-column form the Spark side's single-scan stack
      // aggregation replaces
      Some(Seq(
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
      } }.mkString("", "\nUNION ALL\n", ""))),
    // 2-D Z-order (Morton) key over (user_id, epoch-hour): the codegen
    // bit-interleave expression behind Layout.zOrderLayout, hash-gated
    // against DuckDB running the identical five spread steps; the layout
    // itself (range-partition + sort by this key) is pinned in LayoutSpec
    Query("q_zorder", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      events(s, dir).selectExpr("event_id",
        "zorder2(user_id, unix_micros(ts) DIV 3600000000) AS z")
    },
      // the same five binary-magic-numbers spread steps, staged as CTEs
      Some("""WITH b AS (
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
        SELECT event_id, x | (y << 1) AS z FROM s5""")))
}
