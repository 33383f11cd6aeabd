#!/usr/bin/env python3
"""graft benchmark: SQLite->ClickHouse migration, the OLAP query mix and
the LLM-pipeline mix, timed end to end and, with --trace 1, per layer.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload migrate|olap|pipeline \
        --seed N --seconds S --trace 0|1

It builds the program and the benchmark from the checkout's sources
(sbt, once per source state; the classpath is cached under
``.bench_build``), makes the seeded inputs under ``.bench_data``, runs
one JVM (``perfbench.Main``) and checks the program's outputs:

* migrate: every op's staged row counts, and the final staged tables'
  checksums, equal what the generator computed under the reference's
  coercion rules;
* olap / pipeline: each gate's result hash equals DuckDB's on the gate's
  oracle SQL (the repo's hash canon: columns sorted by name, CSV,
  sha256); a gate with no oracle must reproduce its first result.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (end-to-end metrics untraced, per-layer metrics traced).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("migrate", "olap", "pipeline")
# A fixed heap: with a growable one, G1's expansion timing alone moved
# the peak RSS of identical runs by a third.
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "sources.catalog_s": "s", "sources.decode_1t_s": "s", "sources.pages_read": "count",
    "sources.scan_s": "s", "sources.dsv2_scan_s": "s", "functions.coerce_s": "s",
    "sinks.write_s": "s", "sinks.bytes_written": "B", "sinks.files_written": "count",
    "operators.migrate_other_s": "s", "sources.rows_decoded_per_row_staged": "ratio",
    "rows_per_s": "rows/s", "staged_bytes_per_source_byte": "ratio",
    "migrate.temporal_unparsed_tables": "count",
    "queries.construct_s": "s", "queries.construct_jobs": "count", "queries.plan_s": "s",
    "queries.plan_exchanges": "count", "queries.plan_broadcasts": "count",
    "queries.unpartitioned_windows": "count", "queries.low_parallelism_gates": "count",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.task_s_sum": "s",
    "spark.parallelism": "ratio", "spark.skew": "ratio", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "spark.gc_s": "s", "spark.scan_rows": "count",
    "trace_overhead": "ratio"}


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def source_files(root):
    """Every file the build reads, in a stable order."""
    files = [os.path.join(root, p) for p in ("build.sbt", "project/build.properties")]
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        top = os.path.join(root, base)
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))
                      or "resources" in d]
    files.append(os.path.join(root, "perfbench", "build.sbt"))
    return sorted(set(f for f in files if os.path.isfile(f)))


def build(root, timeout):
    """Compile graft and the benchmark; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cache = os.path.join(root, ".bench_build", "perfbench")
    cp_file = os.path.join(cache, "classpath.txt")
    stamp_file = os.path.join(cache, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(cache, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(cache, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, text=True, timeout=timeout)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise BenchError(f"build failed, see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90_or_none(xs, tail=10):
    """Nearest-rank 90th percentile, reported only when at least ``tail``
    samples lie beyond it (so at least 100 samples)."""
    s = sorted(xs)
    rank = -(-9 * len(s) // 10)  # ceil(0.9 n)
    if not s or len(s) - rank < tail:
        return None
    return s[rank - 1]


# ----------------------------------------------------------------- checks

def canon(df):
    """The repo's result-hash canon: columns sorted by name, CSV, sha256."""
    df = df[sorted(df.columns)]
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def check_gates(result, work, data):
    """Gate name -> None when its result is right, else the reason."""
    import duckdb
    import pandas as pd
    oracles = result["check"]["oracles"]
    errors = result["finish"]["errors"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    verdict = {}
    gates = {o["name"] for o in result["ops"]}
    for g in sorted(gates):
        if g in errors or g + ".again" in errors:
            verdict[g] = errors.get(g) or errors.get(g + ".again")
            continue
        try:
            got = canon(pd.read_parquet(os.path.join(work, "results", g)))
            if g in oracles:
                want = canon(con.execute(oracles[g]).df())
            else:
                want = canon(pd.read_parquet(os.path.join(work, "results", g + ".again")))
        except Exception as e:  # a result that cannot be read is wrong
            verdict[g] = f"{type(e).__name__}: {e}"
            continue
        verdict[g] = None if got == want else "result hash differs from the oracle"
    con.close()
    return verdict


def staged_checksums(staged, tables):
    """Row count and checksum of each staged table, canonicalised the way
    the generator canonicalises the expected values."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat
    out = {}
    for name, exp in tables.items():
        tab = pq.read_table(os.path.join(staged, name))
        cols = []
        for c in exp["columns"]:
            a = tab.column(c)
            t = a.type
            vals = a.to_pylist()
            if pat.is_timestamp(t):
                per = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[t.unit]
                cells = [gen.NULL if v is None else str(v // per)
                         for v in a.cast("int64").to_pylist()]
            elif pat.is_date(t):
                cells = [gen.NULL if v is None else v.isoformat() for v in vals]
            elif pat.is_floating(t):
                cells = [repr(float(v)) for v in vals]
            elif pat.is_integer(t):
                cells = [str(int(v)) for v in vals]
            else:
                cells = ["" if v is None else str(v) for v in vals]
            cols.append(cells)
        acc = 0
        for row in zip(*cols):
            acc = (acc + gen.row_digest(list(row))) % (1 << 64)
        out[name] = {"rows": tab.num_rows, "checksum": acc}
    return out


def check_migrate(result, expected):
    """Failed op count, problems with the final staged output, and the
    tables whose temporal columns were staged as text instead of parsed.

    A staged table is right when it matches the source under the
    reference's rules, or under the same rules with DATE/DATETIME kept
    as their raw text: both are consistent with the DDL the migration
    emits. Only the first is parity with the reference; the second is
    counted in ``temporal_unparsed_tables``.
    """
    want_rows = {t: v["rows"] for t, v in expected["tables"].items()}
    failed = 0
    for o in result["ops"] + result.get("traced", {}).get("ops", []):
        d = o.get("detail") or {}
        if o["error"] or d.get("rows") != want_rows or not d.get("ddl_ok"):
            failed += 1
    problems, unparsed = [], []
    if result["check"].get("rows") != want_rows:
        problems.append("first (untimed) migration: staged row counts differ")
    got = staged_checksums(result["finish"]["staged"], expected["tables"])
    for t, v in expected["tables"].items():
        g = got[t]
        if g["rows"] != v["rows"] or g["checksum"] not in (
                v["checksum"], v["checksum_raw_temporal"]):
            problems.append(f"{t}: staged {g}, expected {v['rows']} rows with checksum "
                            f"{v['checksum']} (or {v['checksum_raw_temporal']})")
        elif g["checksum"] != v["checksum"]:
            unparsed.append(t)
    return failed, problems, unparsed


# ------------------------------------------------------------------- main

def staged_bytes(staged):
    total = 0
    for d, _, names in os.walk(staged):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names
                     if n.startswith("part-"))
    return total


def metrics(args, result, extra):
    ops = [o["s"] for o in result["ops"]]
    m = {"setup_s": median(result["setup_s"]), "op_s_p50": median(ops),
         "ops_per_s": len(ops) / result["window_s"], "peak_rss_mb": result["peak_rss_mb"]}
    if not args.trace:
        return {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    tr = result["traced"]
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update({k: v for k, v in tr["layers"].items() if k in PER_LAYER})
    layers.update({k: v for k, v in tr["probes"].items() if k in PER_LAYER})
    layers["trace_overhead"] = median([o["s"] for o in tr["ops"]]) / m["op_s_p50"]
    if args.workload == "migrate":
        rows = extra["rows"]
        layers["operators.migrate_other_s"] = m["op_s_p50"] - tr["probes"]["probe.write_total_s"]
        layers["sources.rows_decoded_per_row_staged"] = tr["layers"]["spark.scan_rows"] / rows
        layers["rows_per_s"] = rows / m["op_s_p50"]
        layers["staged_bytes_per_source_byte"] = extra["staged_bytes"] / extra["source_bytes"]
        layers["migrate.temporal_unparsed_tables"] = extra["temporal_unparsed_tables"]
    return {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}


def run(args, root, t_start):
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(root, need)):
            raise BenchError(f"not a graft checkout: {need} is missing under {root}")
    first_build = not os.path.exists(os.path.join(root, ".bench_build", "perfbench", "stamp"))
    budget = 880 if first_build else 170
    cp = build(root, timeout=budget - 60)

    work = os.path.join(root, ".bench_data", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "input")
    os.makedirs(os.path.join(work, "tmp"))
    extra = {}
    if args.workload == "migrate":
        expected = gen.make_sqlite(args.seed, data, gen.SQLITE_SCALE[args.scale])
        extra = {"rows": expected["rows"], "source_bytes": expected["source_bytes"]}
    else:
        gen.make_tables(args.seed, data, gen.TABLE_SCALE[args.scale])
    t_gen = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--data", data,
              "--work", work, "--out", out, "--seconds", str(args.seconds),
              "--seed", str(args.seed), "--trace", "1" if args.trace else "0",
              "--cores", str(cores)])
    left = budget - (time.monotonic() - t_start) - 10
    # keep Spark's scratch space inside the checkout whatever the caller set
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=max(10, left))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("the benchmark JVM ran out of time")
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"the benchmark JVM failed (exit {rc}), see {work}/jvm.log")
    with open(out) as f:
        result = json.load(f)
    t_jvm = time.monotonic()

    all_ops = result["ops"] + result.get("traced", {}).get("ops", [])
    problems = []
    if args.workload == "migrate":
        failed, problems, unparsed = check_migrate(result, expected)
        extra["temporal_unparsed_tables"] = len(unparsed)
        if unparsed:
            print("reference parity: DATE/DATETIME columns staged as text, not parsed, in "
                  + ", ".join(unparsed), file=sys.stderr)
        extra["staged_bytes"] = staged_bytes(result["finish"]["staged"])
    else:
        verdict = check_gates(result, work, data)
        problems = [f"{g}: {why}" for g, why in sorted(verdict.items()) if why]
        failed = sum(1 for o in all_ops if o["error"] or verdict.get(o["name"]))
    for o in all_ops:
        if o["error"]:
            problems.append(f"{o['name']}: {o['error']}")
    for p in problems[:20]:
        print(f"check: {p}", file=sys.stderr)
    lat = [o["s"] for o in result["ops"]]
    p90 = p90_or_none(lat)
    print(f"ops: n={len(lat)} p50={median(lat):.4f}s p90="
          + (f"{p90:.4f}s" if p90 is not None else "n/a (fewer than 100 samples)")
          + f"; wall: build+inputs {t_gen - t_start:.1f}s jvm {t_jvm - t_gen:.1f}s "
          f"checks {time.monotonic() - t_jvm:.1f}s; jvm phases {result['phases_s']}",
          file=sys.stderr)
    return {"correct": not problems and failed == 0, "attempted": len(all_ops),
            "failed": failed, "metrics": metrics(args, result, extra)}


def main(argv=None):
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help="input size; smoke is about a tenth, for the benchmark's own tests")
    args = ap.parse_args(argv)
    root = os.getcwd()
    try:
        summary = run(args, root, t_start)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
