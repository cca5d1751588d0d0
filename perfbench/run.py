#!/usr/bin/env python3
"""Benchmark for the telemetry pipeline: batch ETL, streaming ingest and
the query board.

Run from the repository root:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 12 --trace 0

It compiles the program and the harness (perfbench/src) with the Scala
compiler that ships with Spark, generates the workload's inputs from the
seed, runs one JVM, checks the outputs, and prints every metric with its
unit. The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 175
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen_tables  # noqa: E402

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The Spark distribution's jar directory (it also holds scalac)."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return os.path.realpath(c)
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def build(jars):
    """Compile the program and the harness once per source digest."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no program sources under src/main/scala; run from the repository root")
    sources += sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    digest = hashlib.sha256()
    for s in sources:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    digest = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + sources
    log = os.path.join(BUILD, "compile.log")
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"built {len(sources)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def make_tables(seed):
    """Board tables from the seed, generated three times; median seconds."""
    out = os.path.join(WORK, "tables")
    times = []
    for _ in range(3):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        gen_tables.main(out, seed)
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times)


# ---------------------------------------------------------------- checks

def record_valid(r):
    """The reference's validation rules as a plain filter over one raw
    record: a non-numeric fuel or temperature string counts as missing,
    numbers must lie in range, and location must carry both fields."""
    def num(v):
        if v is None:
            return None
        try:
            x = float(v)
        except (TypeError, ValueError):
            return None
        return None if x != x else x
    fuel, temp = num(r.get("fuel_level")), num(r.get("temperature"))
    loc = r.get("location")
    return (r.get("truck_id") is not None
            and fuel is not None and 0 <= fuel <= 100
            and temp is not None and -10 <= temp <= 60
            and r.get("delivery_status") in ("in_transit", "delivered", "delayed")
            and isinstance(loc, dict)
            and loc.get("lat") is not None and loc.get("lon") is not None)


def check_etl(c):
    n = valid = 0
    for path in glob.glob(os.path.join(c["raw_dir"], "part-*")):
        with open(path) as f:
            for line in f:
                for r in json.loads(line):
                    n += 1
                    valid += record_valid(r)
    files = glob.glob(os.path.join(c["curated_dir"], "*.parquet"))
    written = duckdb.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
    notes = []
    if n != c["records"]:
        notes.append(f"etl: raw files hold {n} records, generated {c['records']}")
    if valid != c["curated"] or written != c["curated"]:
        notes.append(f"etl: curated {c['curated']}, DuckDB read {written}, "
                     f"independent filter {valid}")
    return notes


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


def check_board(c):
    """Each query's row count and order-independent content hash against
    the query's DuckDB oracle SQL over the same tables."""
    con = duckdb.connect()
    for t in gen_tables.ROWS.keys() | {"region", "nation"}:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(c['tables'], t + '.parquet')}')")
    oracle = json.load(open(c["oracle"]))
    notes = []
    for q in c["queries"]:
        files = glob.glob(os.path.join(c["outputs"], q, "*.parquet"))
        if not files:
            notes.append(f"board: {q} wrote no output")
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        want = con.execute(oracle[q])
        wcols = [d[0] for d in want.description]
        wrows = want.fetchall()
        gh = hashlib.sha256(repr(canon(grows, gcols)).encode()).hexdigest()[:16]
        wh = hashlib.sha256(repr(canon(wrows, wcols)).encode()).hexdigest()[:16]
        print(f"check {q}: rows {len(grows)} hash {gh} | oracle rows {len(wrows)} hash {wh}")
        if sorted(gcols) != sorted(wcols) or len(grows) != len(wrows) or gh != wh:
            notes.append(f"board: {q} differs from the oracle")
        elif not grows:
            notes.append(f"board: {q} returned no rows")
    return notes


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_batch", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_path))
    declared = spec["per_layer" if a.trace else "end_to_end"]
    jars = spark_jars()
    classes = build(jars)
    t_start = time.time()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    tables, tables_s = "", 0.0
    if a.trace:
        tables, tables_s = make_tables(a.seed)

    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK, "--tables", tables or "-",
            "--tables-gen-s", repr(tables_s)])
    log = os.path.join(WORK, "jvm.log")
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                  timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        fail(f"the benchmark process ran past its deadline; see {log}")
    lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"the benchmark process exited with {proc.returncode}")
    res = json.loads(lines[-1][len("PERFBENCH "):])

    notes = list(res["notes"])
    for c in res["python_checks"]:
        notes += check_etl(c) if c["kind"] == "etl" else check_board(c)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()}
    for n, m in metrics.items():
        print(f"{n:32s} {m['value']} {m['unit']}")
    names = [m["name"] for m in declared]
    missing = [n for n in names if n not in metrics or metrics[n]["value"] is None]
    if missing or set(metrics) != set(names):
        fail(f"metrics {sorted(set(metrics) ^ set(names) | set(missing))} "
             "do not match BENCHMARK.json")
    print(f"contention: steal {res['steal_pct']:.2f} %, cpu share {res['cpu_share']:.3f}")
    if res.get("samples"):
        xs = sorted(res["samples"])
        print(f"latency (not gated): p50 {statistics.median(xs):.3f} s, max {xs[-1]:.3f} s; "
              f"{len(xs)} samples (s): " + " ".join(f"{x:.3f}" for x in res["samples"]))
    for n in notes:
        print(n)
    correct = bool(res["correct"]) and not notes
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": {n: metrics[n] for n in names}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
