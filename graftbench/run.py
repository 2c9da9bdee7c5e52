#!/usr/bin/env python3
"""Benchmark of the flagship streaming pipeline and a batch-query subset.

Run from the root of a checkout:

    python3 graftbench/run.py --paced-period-ms 1250 --workload stream-paced --seed 1 --seconds 8 --trace 0

Workloads: stream-paced, batch-queries (see graftbench/NOTES.md).
The first run builds the library and the benchmark harness from the
checkout's sources with sbt (into .bench_build/); later runs reuse the
build while the sources are unchanged. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics (layers a workload does not exercise read 0).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.monotonic()
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
# The synthetic batch tables (TESTDATA.md), read-only.
SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.01")
FIXTURES = os.path.join(ROOT, "src", "test", "resources", "fixtures")
# Executor cores: one fewer than the machine has, leaving a core to the
# generator thread, JIT and GC, and at most 4 so runs on larger machines
# stay comparable.
CORES = max(1, min(4, (os.cpu_count() or 1) - 1))
RUN_LIMIT_S = 170
JAVA_OPTS = [
    "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group if it
    outlives `timeout`, so no child survives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s")
    return p.returncode


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the checkout's library sources and the harness; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Xmx2g"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 850, cwd=BENCH, env=env,
                       stdout=out, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def oracle_check(out_dir):
    """Hash-compares every dumped query output with the DuckDB oracle,
    using tools/check_oracle.py's canonical form. Oracle results are
    cached by SQL text, since they do not depend on the code under test.
    Returns the mismatches."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    import duckdb
    con = duckdb.connect()
    for t in sorted(os.listdir(SF_DIR)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{SF_DIR}/{t}')")
    cache_dir = os.path.join(BUILD, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    bad = []
    for q, sql in sorted(json.load(open(os.path.join(out_dir, "oracle_sql.json"))).items()):
        key = hashlib.sha256((SF_DIR + "\0" + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            ocols, orows = json.load(open(cached))
        else:
            ocols, orows = co.canon(con, sql)
            with open(cached + ".tmp", "w") as f:
                json.dump([ocols, orows], f)
            os.replace(cached + ".tmp", cached)
        scols, srows = co.canon(con, f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')")
        if scols != ocols:
            bad.append({"what": q, "key": "columns", "detail": f"spark {scols} oracle {ocols}"})
        elif srows != orows:
            first = next((a for a, b in zip(srows, orows) if a != b),
                         (srows + orows)[min(len(srows), len(orows))])
            bad.append({"what": q, "key": first[:200],
                        "detail": f"{len(srows)} rows, oracle {len(orows)}"})
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["stream-paced", "batch-queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--paced-period-ms", type=int, default=1250,
                    help="stream-paced: one file is due every this many ms")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.isdir(FIXTURES):
        fail("run from the root of a checkout: the library sources are missing")
    if a.workload == "batch-queries" and not os.path.isdir(SF_DIR):
        fail(f"batch tables not found at {SF_DIR}")
    cp = build()

    t_run = time.monotonic()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = ["java", f"-Djava.io.tmpdir={work}"] + JAVA_OPTS + ["-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(CORES), "--work", work, "--out", out,
           "--fixtures", FIXTURES, "--sf", SF_DIR, "--paced-period-ms", str(a.paced_period_ms)]
    # a run that reused the build ends within RUN_LIMIT_S in all; the first
    # run of a checkout, which built, gives the workload RUN_LIMIT_S itself
    limit = RUN_LIMIT_S - (t_run - T_START) if t_run - T_START < 60 else RUN_LIMIT_S
    try:
        with open(log, "w") as lf:
            rc = run_group(cmd, max(30, limit), stdout=lf, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            fail(f"workload {a.workload} exited {rc}, log in {log}")
        res = json.load(open(out))
        mismatches = res["mismatches"]
        if a.workload == "batch-queries":
            bad = oracle_check(os.path.join(work, "out"))
            mismatches += bad
            res["failed"] = min(res["attempted"], res["failed"] + len(bad))
        if a.trace and os.path.exists(os.path.join(work, "trace.json")):
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-trace.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for mm in mismatches:
        print(f"MISMATCH {mm['what']}: first differing key {mm['key']}: {mm['detail']}")
    got = res["metrics"]
    print("measured: " + json.dumps({k: v["value"] for k, v in got.items()}), file=sys.stderr)
    metrics = {}
    if a.trace == 0:
        for m in spec["end_to_end"]:
            if m["name"] not in got:
                fail(f"end-to-end metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
    else:
        for m in spec["per_layer"]:
            src = m["name"][len("traced."):] if m["name"].startswith("traced.") else m["name"]
            metrics[m["name"]] = {"value": got.get(src, {"value": 0})["value"], "unit": m["unit"]}
    print(json.dumps({"correct": not mismatches and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
