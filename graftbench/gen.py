"""Seeded inputs for the graft benchmark.

Everything here is a pure function of (seed, scale): the same arguments
give byte-identical parquet files and YAML. Three generators:

* `write_tables`: the ten TPC-H-ish tables the query suite and the sample
  project read (schemas as in FIXTURES.md section B).
* `write_wide_project`: the validate_wide YAML project plus a manifest of
  the rule types and NULL-probe warnings the generator knows it wrote.
* `draw_queries`: the operators_mix draw.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _day_ts(rng, n, start, end):
    """Midnight timestamps in [start, end] as timestamp[ms]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000, pa.timestamp("ms"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed, sf):
    """The ten tables at scale factor `sf` (sf 1 = 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32 = pa.int32()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _day_ts(rng, n_line, "1995-01-02", "2001-11-04")})
    # microsecond-precision, strictly increasing event times over 30 days
    span_us = 30 * 86_400_000_000
    offs = np.sort(rng.choice(span_us, n_evt, replace=False))
    base_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array((base_us + offs) * 1000, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    langs = np.where(rng.random(n_doc) < 0.4, "en",
                     np.array(LANGS[1:])[rng.integers(0, 4, n_doc)])
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] + rng.normal(0, 1.5, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write_tables(seed, sf, data_dir):
    os.makedirs(data_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))


# ------------------------------------------------------------ wide project

def _q(s):
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


# (source, table, raw attributes). Relations below follow SampleProject's
# topology so that every implicit path has exactly one route.
WIDE_SOURCES = [
    ("tpch_region", "region", ["r_regionkey int", "r_name string"]),
    ("tpch_nation", "nation", ["n_nationkey int", "n_name string", "n_regionkey int"]),
    ("tpch_customer", "customer", ["c_custkey long", "c_name string", "c_nationkey int",
                                   "c_acctbal double", "c_mktsegment string"]),
    ("tpch_supplier", "supplier", ["s_suppkey long", "s_name string", "s_nationkey int",
                                   "s_acctbal double"]),
    ("tpch_part", "part", ["p_partkey long", "p_name string", "p_brand string",
                           "p_type string", "p_size int", "p_retailprice double"]),
    ("tpch_orders", "orders", ["o_orderkey long", "o_custkey long", "o_orderstatus string",
                               "o_totalprice double", "o_orderdate timestamp",
                               "o_orderpriority string"]),
    ("tpch_lineitem", "lineitem", ["l_orderkey long", "l_partkey long", "l_suppkey long",
                                   "l_linenumber int", "l_quantity double",
                                   "l_extendedprice double", "l_discount double",
                                   "l_tax double", "l_returnflag string",
                                   "l_linestatus string", "l_shipdate timestamp"]),
    ("ev_events", "events", ["event_id long", "ts timestamp", "user_id long",
                             "event_type string", "value double", "props string"]),
    ("doc_documents", "documents", ["doc_id long", "text string", "lang string",
                                    "source string", "n_chars long"]),
    ("vec_embeddings", "embeddings", ["vec_id long", "label int"]),
]

LI_O = "[tpch_lineitem]- orderkey -[tpch_orders]"
O_C = "[tpch_orders]- custkey -[tpch_customer]"
C_N = "[tpch_customer]- nationkey -[tpch_nation]"
N_R = "[tpch_nation]- regionkey -[tpch_region]"
N_S = "[tpch_nation]- nationkey -[tpch_supplier]"
LI_S = "[tpch_lineitem]- suppkey -[tpch_supplier]"

WIDE_RELATIONS = [
    (LI_O, "[This].l_orderkey = [Related].o_orderkey", "M-1"),
    (O_C, "[This].o_custkey = [Related].c_custkey", "M-1"),
    (C_N, "[This].c_nationkey = [Related].n_nationkey", "M-1"),
    (N_R, "[This].n_regionkey = [Related].r_regionkey", "M-1"),
    (N_S, "[This].n_nationkey = [Related].s_nationkey", "1-M"),
    ("[tpch_lineitem]- partkey -[tpch_part]", "[This].l_partkey = [Related].p_partkey", "M-1"),
    (LI_S, "[This].l_suppkey = [Related].s_suppkey", "M-1"),
    ("[ev_events]- user -[tpch_customer]", "[This].user_id = [Related].c_custkey", "M-1"),
    ("[doc_documents]- label -[vec_embeddings]", "[This].doc_id = [Related].vec_id", "1-1"),
]

# numeric (double) columns per source, for arithmetic templates
NUMERIC = {
    "tpch_customer": ["c_acctbal"],
    "tpch_supplier": ["s_acctbal"],
    "tpch_part": ["p_retailprice"],
    "tpch_orders": ["o_totalprice"],
    "tpch_lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "ev_events": ["value"],
}

# Fixed number of rules of each kind per source; the seed picks columns,
# constants, functions and order, never the counts, so every seed probes
# the same number of expressions of the same shapes.
# The project is sized to the run budget: each probed expression costs one
# or two Spark jobs (~56 ms warm on 4 cores), so 25 rules + 9 relations +
# 5 filters keep one validate near 2 s (see NOTES.md).
ARITH = {"tpch_region": 1, "tpch_customer": 1, "tpch_part": 1, "tpch_orders": 1,
         "tpch_lineitem": 2, "ev_events": 1, "doc_documents": 1}
RULE_ON_RULE = {"tpch_lineitem": 1}
NULL_RULES = 2


def _arith(rng, src, i):
    """One arithmetic rule and its probed type."""
    if src in NUMERIC:
        a, b = rng.choice(NUMERIC[src]), rng.choice(NUMERIC[src])
        k = rng.randint(2, 97)
        form = rng.randrange(3)
        if form == 0:
            return f"([This].{a} * {k}) + [This].{b}", "double"
        if form == 1:
            return f"round([This].{a} / {k}, 2) - [This].{b}", "double"
        return f"abs([This].{a} - {k}) * [This].{b}", "double"
    ints = {"tpch_region": "r_regionkey", "tpch_nation": "n_regionkey",
            "doc_documents": "n_chars", "vec_embeddings": "vec_id"}
    col = ints[src]
    k = rng.randint(2, 97)
    t = "long" if src in ("doc_documents", "vec_embeddings") else "int"
    if rng.randrange(2) == 0:
        return f"[This].{col} * {k} + {rng.randint(0, 9)}", t
    return f"[This].{col} % {k}", t


def _lookups():
    """Implicit and explicit 1-4 hop lookups: (source, name, expr, params, type).

    Customer and nation aggregate over orders and supplier, so neither
    orders nor supplier may look them up (a source-level cycle)."""
    L, N, R = "tpch_lineitem", "tpch_nation", "tpch_region"
    return [
        (L, "lk_part_brand", "[tpch_part].p_brand", [], "string"),
        (L, "lk_cust_name", "[tpch_customer].c_name", [], "string"),
        (L, "lk_order_ym", "date_format([tpch_orders].o_orderdate, 'yyyyMM')", [], "string"),
        (L, "lk_cust_nation", "[tpch_nation].n_name", [(N, [LI_O, O_C, C_N])], "string"),
        (L, "lk_supp_region", "[tpch_region].r_name", [(R, [LI_S, N_S, N_R])], "string"),
        (L, "lk_cust_region", "[tpch_region].r_name", [(R, [LI_O, O_C, C_N, N_R])], "string"),
        ("ev_events", "lk_user_seg", "[tpch_customer].c_mktsegment", [], "string"),
        ("doc_documents", "lk_label", "[vec_embeddings].label", [], "int"),
    ]


def _aggregates(rng):
    """M-aggregates over forward and reverse 1-M sides."""
    f = rng.choice(["max", "min", "avg", "sum"])
    return [
        ("tpch_customer", f"agg_order_{f}", f"{f}([tpch_orders].o_totalprice)", "double"),
        ("tpch_nation", "agg_supp_cnt", "count([tpch_supplier].s_suppkey)", "long"),
    ]


def _windows(rng):
    out = []
    for src, part, order, key in [
            ("tpch_orders", "o_custkey", "o_totalprice", "o_orderkey"),
            ("ev_events", "user_id", "ts", "event_id")]:
        fn = rng.choice(["rank()", "dense_rank()", "row_number()"])
        d = rng.choice(["ASC", "DESC"])
        out.append((src, f"win_{part}", f"{fn} OVER (PARTITION BY [This].{part} "
                    f"ORDER BY [This].{order} {d}, [This].{key})", "int"))
    return out


def wide_project(seed):
    """The validate_wide project as {relative path: text}, plus its manifest."""
    rng = random.Random(seed)
    rules = {s[0]: [] for s in WIDE_SOURCES}
    types = {}

    def add(src, name, expr, typ, params=()):
        rules[src].append((name, expr, list(params)))
        types[f"{src}.{name}"] = typ

    for src, n in ARITH.items():
        for i in range(n):
            e, t = _arith(rng, src, i)
            add(src, f"ar_{i}", e, t)
    for src, n in RULE_ON_RULE.items():
        for i in range(n):
            base = f"ar_{rng.randrange(ARITH[src])}"
            t = types[f"{src}.{base}"]
            if t == "double":
                add(src, f"rr_{i}", f"CASE WHEN [This].{base} > {rng.randint(1, 500)} "
                    f"THEN [This].{base} ELSE 0.0 END", "double")
            else:
                add(src, f"rr_{i}", f"[This].{base} + {rng.randint(1, 9)}", t)
    for src, name, e, params, t in _lookups():
        add(src, name, e, t, params)
    for src, name, e, t in _aggregates(rng):
        add(src, name, e, t)
    for src, name, e, t in _windows(rng):
        add(src, name, e, t)
    add("tpch_orders", "o_year", "year([This].o_orderdate)", "int")
    add("doc_documents", "doc_key", f"concat([This].source, '|', [This].doc_id % {rng.randint(3, 9)})", "string")
    # planted NULL-probe rules: nullif(x, x) is NULL on every row
    warnings = []
    null_srcs = rng.sample(sorted(NUMERIC), NULL_RULES)
    for j, src in enumerate(null_srcs):
        col = rng.choice(NUMERIC[src])
        add(src, f"nul_{j}", f"nullif([This].{col}, [This].{col})", "double")
        warnings.append(f"rule 'nul_{j}' of source '{src}'")

    files = {"meta.yaml": "format: core1.0\n"}
    for src, table, raw in WIDE_SOURCES:
        order = rules[src]
        lines = [f"source_name: {src}", f"source_table: {table}", "raw_attributes:"]
        lines += [f"  - {_q(a)}" for a in raw]
        if order:
            lines.append("rules:")
        for name, expr, params in order:
            lines += [f"  - name: {name}", f"    expression: {_q(expr)}"]
            if params:
                lines.append("    parameters:")
                for ps, rels in params:
                    lines += [f"      - source_name: {ps}", "        relations:"]
                    lines += [f"          - {_q(r)}" for r in rels]
        files[f"sources/{src}.yaml"] = "\n".join(lines) + "\n"
    rel_lines = []
    for name, expr, card in WIDE_RELATIONS:
        rel_lines += [f"- name: {_q(name)}", f"  expression: {_q(expr)}",
                      f"  cardinality: {_q(card)}"]
    files["relations.yaml"] = "\n".join(rel_lines) + "\n"

    y0, y1 = sorted(rng.sample(range(1995, 2002), 2))
    outputs = [
        ("wide_customer", ["customer string", "ym string", "cents long"],
         [("tpch_lineitem", ["lk_cust_name customer", "lk_order_ym ym", "sum(ar_0) cents"],
           f"[This].l_shipdate BETWEEN '{y0}-01-01' AND '{y1}-12-31'", "Aggregate")]),
        ("wide_orders", ["o_year int", "n long"],
         [("tpch_orders", ["o_year o_year", "count(o_orderkey) n"],
           f"[This].o_totalprice > {rng.randint(1000, 400000)}", "Aggregate")]),
        ("wide_party", ["party string", "bal double"],
         [("tpch_customer", ["c_name party", "c_acctbal bal"],
           f"[This].c_acctbal > {rng.randint(-500, 5000)}", None),
          ("tpch_supplier", ["s_name party", "s_acctbal bal"],
           f"[This].s_nationkey < {rng.randint(3, 24)}", None)]),
        ("wide_events", ["user long", "seg string", "v double"],
         [("ev_events", ["user_id user", "lk_user_seg seg", "value v"],
           f"[This].event_type = '{rng.choice(EVENT_TYPES)}'", None)]),
    ]
    n_filters = 0
    for name, cols, chans in outputs:
        lines = [f"output_name: {name}", "columns:"] + [f"  - {_q(c)}" for c in cols]
        lines.append("channels:")
        for src, maps, flt, op in chans:
            lines += [f"  - source_name: {src}", "    mappings:"]
            lines += [f"      - {_q(m)}" for m in maps]
            lines.append(f"    filter: {_q(flt)}")
            n_filters += 1
            if op:
                lines.append(f"    operation_type: {op}")
        files[f"outputs/{name}.yaml"] = "\n".join(lines) + "\n"

    manifest = {
        "seed": seed,
        "sources": len(WIDE_SOURCES),
        "rules": len(types),
        "relations": len(WIDE_RELATIONS),
        "filters": n_filters,
        "rule_types": types,
        "null_warnings": sorted(warnings),
    }
    return files, manifest


def write_wide_project(seed, project_dir):
    files, manifest = wide_project(seed)
    for rel, text in files.items():
        path = os.path.join(project_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
    return manifest


# ------------------------------------------------------------ sequences

def draw_queries(seed, strata):
    """Seeded draw: one query from each stratum ({name: [queries]}), in a
    seeded order; returns [(query, stratum)]."""
    rng = random.Random(seed * 7919 + 17)
    picked = [(rng.choice(sorted(qs)), name) for name, qs in sorted(strata.items())]
    rng.shuffle(picked)
    return picked


if __name__ == "__main__":
    import sys
    print(json.dumps(wide_project(int(sys.argv[1]) if len(sys.argv) > 1 else 1)[1], indent=1))
