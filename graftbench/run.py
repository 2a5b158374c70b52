#!/usr/bin/env python3
"""graft benchmark: one closed-loop, single-client workload per run.

Usage, from the root of a checkout:
    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the JVM harness from source into .bench_build/ (reused
while the sources are unchanged), writes the seeded inputs, runs the
harness in one JVM on one local Spark session, checks the outputs
against DuckDB, and prints one JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it holds the run's details (seed, slots,
sample counts, tail percentile, per-query latencies). See NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
TIME_LIMIT_S = 170

# sf: input scale (None: no tables). warmup: untimed rounds before the
# timed region, a fixed count so that every run measures from the same
# point of the warm-up curve (NOTES.md has the curves).
WORKLOADS = {
    "validate_wide": dict(sf=None, warmup=8),
    "operators_mix": dict(sf=0.01, warmup=4),
}

# operators_mix: SparkEntry queries that have an oracle, in strata of three
# whose warm costs on this benchmark's inputs lie within about 10-15% of
# each other (see NOTES.md). The draw takes one query per stratum, so every
# seed's draw has nearly the same cost profile.
with open(os.path.join(BENCH, "strata.json")) as f:
    STRATA = json.load(f)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

PER_LAYER_UNITS = {}
END_TO_END_UNITS = {}


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_metric_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"]:
        END_TO_END_UNITS[m["name"]] = m["unit"]
    for m in spec["per_layer"]:
        PER_LAYER_UNITS[m["name"]] = m["unit"]


# ------------------------------------------------------------------ build

def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt's `unmanagedBase`
    names: the jars graft itself builds against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


def sources():
    files = sorted(glob.glob(os.path.join(SRC, "**", "*.scala"), recursive=True))
    return files + sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))


def build():
    """Compile graft's main sources plus the harness with the Scala
    compiler that ships in Spark's jars; reuse the classes while every
    source file is unchanged."""
    if not os.path.isdir(SRC) or not glob.glob(os.path.join(SRC, "**", "*.scala"), recursive=True):
        die(f"no graft sources under {SRC}: run from the root of a graft checkout")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler in '{jars}' (set SPARK_HOME)")
    files = sources()
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-cp", cp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        die("build failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


# ------------------------------------------------------------------ checks

def render_hash(df):
    """The compare rule of tools/check_oracle.py: columns sorted by
    name, rows sorted, every cell rendered with str(), sha256."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("|".join(str(c) for c in row).encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_check(work, data_dir):
    """{name: None if the Spark result matches DuckDB, else the reason}."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "documents", "embeddings", "events"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    expected = {}
    result = {}
    with open(os.path.join(work, "check_dirs.txt")) as f:
        pairs = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    for name, d in pairs:
        key = f"{name} {d}"
        try:
            if name not in expected:
                odf = con.execute(oracle[name]).fetchdf()
                expected[name] = (sorted(odf.columns), len(odf), render_hash(odf))
            cols, n, digest = expected[name]
            sdf = pq.ParquetDataset(glob.glob(f"{d}/*.parquet")).read().to_pandas()
            if sorted(sdf.columns) != cols:
                result[key] = f"columns {sorted(sdf.columns)} vs {cols}"
            elif len(sdf) != n:
                result[key] = f"rows {len(sdf)} vs {n}"
            elif render_hash(sdf) != digest:
                result[key] = "hash mismatch"
            else:
                result[key] = None
        except Exception as e:  # a check that cannot run is a failed check
            result[key] = f"{type(e).__name__}: {e}"
    return result


# ------------------------------------------------------------------ stats

def p90(values):
    """90th percentile, linear between order statistics. A run has tens
    of samples, not the 100 that would leave ten beyond p90; the nearest
    rank with ten beyond would move between queries as the sample count
    changes, so the tail is fixed at p90 and the count is recorded."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def metric(name, value, units):
    return {"value": value, "unit": units[name]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found: run from the root of a graft checkout")
    load_metric_units()
    classes = build()
    t_setup = time.time()
    cfg = WORKLOADS[a.workload]
    slots = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(a, cfg, classes, slots, work, t_setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, cfg, classes, slots, work, t_setup):
    data = os.path.join(work, "data")
    project = os.path.join(work, "project")
    ops = os.path.join(work, "ops.txt")
    detail = {"workload": a.workload, "seed": a.seed, "slots": slots,
              "shuffle_partitions": slots, "sf": cfg["sf"]}
    if cfg["sf"] is not None:
        gen.write_tables(a.seed, cfg["sf"], data)
    if a.workload == "validate_wide":
        manifest = gen.write_wide_project(a.seed, project)
        with open(os.path.join(work, "expect.tsv"), "w") as f:
            for k, v in sorted(manifest["rule_types"].items()):
                f.write(f"T\t{k}\t{v}\n")
            for w in manifest["null_warnings"]:
                f.write(f"W\t{w}\n")
        detail["project"] = {k: manifest[k] for k in ("sources", "rules", "relations", "filters")}
    draw = gen.draw_queries(a.seed, STRATA) if a.workload == "operators_mix" else []
    with open(ops, "w") as f:
        f.write("".join(f"{q}\t{s}\n" for q, s in draw))
    detail["draw"] = draw
    out = os.path.join(work, "result.json")
    cmd = (["java", "-XX:-UsePerfData", "-Xss16m", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp",
              "-cp", os.pathsep.join([classes, RESOURCES, os.path.join(spark_jars(), "*")]),
              "graftbench.Harness",
              "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--slots", str(slots), "--work", work, "--data", data, "--project", project,
              "--ops", ops, "--out", out, "--warmup_rounds", str(cfg["warmup"])])
    log_path = os.path.join(work, "jvm.log")
    # a build in this run (up to 800 s) does not eat the harness's time
    budget = TIME_LIMIT_S - (time.time() - t_setup)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        die("harness timed out" if rc is None else f"harness exited with {rc}")
    with open(out) as f:
        r = json.load(f)

    failures = list(r["failures"])
    attempted, failed = int(r["ops_attempted"]), int(r["ops_failed"])
    if a.workload != "validate_wide":
        checks = oracle_check(work, data)
        bad = {k: v for k, v in checks.items() if v is not None}
        detail["oracle_checked"] = len(checks)
        detail["oracle_mismatch"] = bad
        bad_names = {k.split(" ")[0] for k in bad}
        failed = max(failed, sum(1 for n in r["op_names"] if n in bad_names))
        failures += [f"{k}: {v}" for k, v in bad.items()]

    lat = r["latency_s"]
    detail.update(
        jvm_start_s=r["jvm_start_epoch_ms"] / 1000.0 - t_setup,
        session_s=r["session_epoch_ms"] / 1000.0 - t_setup,
        n=len(lat), tail_percentile=90, rounds=r["rounds"],
        warmup_s=r["warmup_s"], failures=failures[:10],
        per_op_p50_s={n: med([t for t, m in zip(lat, r["op_names"]) if m == n])
                      for n in sorted(set(r["op_names"]))})
    if a.trace == 0:
        units = END_TO_END_UNITS
        metrics = {
            "setup_s": metric("setup_s", r["warm_end_epoch_ms"] / 1000.0 - t_setup, units),
            "op_p50_s": metric("op_p50_s", med(lat), units),
            "op_tail_s": metric("op_tail_s", p90(lat), units),
            "ops_per_s": metric("ops_per_s", len(lat) / r["op_wall_s"], units),
            "heap_mb": metric("heap_mb", r["heap_mb"], units),
        }
    else:
        metrics = layer_metrics(r, detail)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_metrics(r, detail):
    """Per-op medians of every traced span and counter; 0 for layers the
    workload does not reach."""
    tr = r.get("trace", {})
    units = PER_LAYER_UNITS
    out = {}
    for name in units:
        v = tr.get(name)
        if isinstance(v, list):
            out[name] = metric(name, med(v), units)
        elif isinstance(v, (int, float)):
            out[name] = metric(name, float(v), units)
        else:
            out[name] = metric(name, 0.0, units)
    # operators.<stratum>.op_p50_s: the query drawn from that stratum
    lat, names = r["latency_s"], r["op_names"]
    for stratum, qs in STRATA.items():
        name = f"operators.{stratum}.op_p50_s"
        if name in units:
            out[name] = metric(name, med([t for t, n in zip(lat, names) if n in qs]), units)
    if "trace.overhead" in units:
        base = med(r.get("untraced_latency_s", []))
        out["trace.overhead"] = metric("trace.overhead", med(lat) / base if base else 0.0, units)
    detail["span_s"] = {k: med(v) for k, v in tr.items() if isinstance(v, list)}
    return out


if __name__ == "__main__":
    sys.exit(main())
