#!/usr/bin/env python3
"""Benchmark entry point for the graft streaminglens engine.

    python3 perfbench/run.py --workload lens-ref --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
repository's main sources with sbt into .bench_build/ (later runs reuse the
build while the sources are unchanged), generates the workload's inputs from
the seed, runs one JVM, checks the outputs, and prints one JSON object as the
last line of standard output:

    {"correct": true, "attempted": N, "failed": M, "metrics": {name: {"value", "unit"}}}

Workloads: lens-ref, lens-cluster, catalog-core (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
WORKLOADS = ("lens-ref", "lens-cluster", "catalog-core")
RUN_LIMIT_S = 170

# Layers a workload does not exercise report zero work in its traced run.
IDLE_LAYERS = {
    "lens-ref": ("catalog.",),
    "lens-cluster": ("catalog.",),
    "catalog-core": ("ingest.", "analyzer.", "report.", "api."),
}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1]


def generate(seed):
    """Catalog tables for this seed, at the timed and the warm-up scale."""
    data = os.path.join(WORK, "data")
    mine = os.path.join(data, f"seed-{seed}")
    if os.path.isdir(data):
        for d in os.listdir(data):
            if d != f"seed-{seed}":
                shutil.rmtree(os.path.join(data, d), ignore_errors=True)
    sys.path.insert(0, BENCH)
    import gen_data
    for sf in ("0.1", "0.001"):
        out = os.path.join(mine, f"sf{sf}")
        if not os.path.exists(os.path.join(out, "embeddings.parquet")):
            gen_data.generate(out, float(sf), seed)
    return mine


def check_catalog(out_dir, sf_dir):
    """Compare each key's output with its DuckDB oracle over the same tables;
    keys without an oracle must return rows. Returns the failing keys."""
    import duckdb
    con = duckdb.connect()
    for t in ("lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for key in sorted(oracle):
        try:
            spark = con.execute(f"SELECT * FROM '{out_dir}/{key}/*.parquet'").fetchdf()
            if oracle[key] is None:
                ok = len(spark) > 0
            else:
                duck = con.execute(oracle[key]).fetchdf()
                ok = same_frame(spark, duck)
        except Exception as e:  # an unreadable output or oracle error is a failure
            log(f"{key}: {e}")
            ok = False
        if not ok:
            bad.append(key)
    return bad


def same_frame(a, b):
    a = a.reindex(sorted(a.columns), axis=1)
    b = b.reindex(sorted(b.columns), axis=1)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        if {a[c].dtype.kind, b[c].dtype.kind} == {"i", "f"}:
            return False
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            x = x.tolist() if hasattr(x, "tolist") else x
            y = y.tolist() if hasattr(y, "tolist") else y
            if x == y or (x is None and y is None) or str(x) == str(y):
                continue
            if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
                continue
            return False
    return True


def java_command(cp, args, run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main"] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala/graft) are missing")
    cp = build()
    t_start = time.time()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        run(a, cp, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, cp, run_dir, t_start):
    data = generate(a.seed) if a.workload == "catalog-core" else None
    for sf in ("sf0.1", "sf0.001"):
        if data:
            os.symlink(os.path.join(data, sf), os.path.join(run_dir, sf))
    result_file = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--result", result_file,
            "--traces", os.path.join(WORK, "trace")]
    budget = RUN_LIMIT_S - (time.time() - t_start)
    os.makedirs(os.path.join(run_dir, "tmp"))
    proc = subprocess.Popen(java_command(cp, args, run_dir), stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10, budget))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM exceeded its time limit")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM failed (exit {rc})")
    with open(result_file) as f:
        res = json.load(f)

    failed = res["failed"]
    if a.workload == "catalog-core":
        bad = check_catalog(os.path.join(run_dir, "out"), os.path.join(data, "sf0.001"))
        if bad:
            log("catalog outputs that do not match their oracle: " + ", ".join(bad))
        failed += len(bad)
        if a.trace:
            res["metrics"]["failed_ratio"] = failed / max(1, res["attempted"])
    elif a.trace:
        res["metrics"]["failed_ratio"] = failed / max(1, res["attempted"])

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    measured = res["metrics"]
    metrics = {}
    for m in declared:
        name = m["name"]
        if name not in measured and not name.startswith(IDLE_LAYERS[a.workload]):
            fail(f"metric {name} was not measured")
        metrics[name] = {"value": measured.get(name, 0.0), "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
