#!/usr/bin/env python3
"""Customs-ETL benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness with sbt (this directory's build.sbt compiles ../src/main too) and
caches the classpath under .bench_build/; later runs start the JVM directly.
Inputs are generated from --seed. The last stdout line is one JSON object:
correct, attempted, failed and the metrics BENCHMARK.json names for the
mode (end_to_end with --trace 0, per_layer with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing tools/check.py must not write into tools/

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
# Runnable by hand; left out of BENCHMARK.json to keep its runs in budget.
EXTRA_WORKLOADS = ["pipeline_bulk", "registry_heavy"]
DEADLINE_S = 170  # the whole run, build excepted, must end within 180 s
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in sorted(os.walk(src)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Build with sbt unless the sources are unchanged since the last build;
    return the runtime classpath."""
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(cp_file)):
        log("building (sbt) ...")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx3g")
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.cpfile={cp_file}",
             "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.1f}s")
    return stamp, [line for line in open(cp_file).read().splitlines() if line]


def check_registry(work):
    """Compare each registry result with its oracle SQL in DuckDB, using the
    program's correctness-gate normalisation (tools/check.py). Returns the
    names that mismatch."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    import check  # tools/check.py

    out = os.path.join(work, "out")
    tables = os.path.join(work, "tables")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))

    def connect():
        con = duckdb.connect()
        for t in ("documents", "lineitem", "orders"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        return con

    con = connect()

    def evaluate(sql, fresh):
        c = connect() if fresh else con
        try:
            # DuckDB inlines CTEs, and the iterated ones (HITS, PageRank)
            # then re-evaluate every earlier round; materializing them gives
            # the same rows in a fraction of the time.
            try:
                return c.sql(re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)).df()
            except duckdb.Error:
                return c.sql(sql).df()
        finally:
            if fresh:
                c.close()

    bad = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        if not files:
            log(f"registry {name}: no result written")
            bad.append(name)
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        ok, msg = check.check_one(name, sql, got, evaluate)
        if not ok:
            log(f"registry {name}: {msg}")
            bad.append(name)
    con.close()
    return bad


def check_digests(key, digests):
    """Outputs of one seed must not change between runs of the same code:
    compare with the digests an earlier run recorded for this seed."""
    path = os.path.join(STATE, "digests.json")
    known = json.load(open(path)) if os.path.exists(path) else {}
    prev = known.get(key)
    if prev is not None:
        n = min(len(prev), len(digests))
        if prev[:n] != digests[:n]:
            log(f"digest mismatch for {key}: {prev[:n]} vs {digests[:n]}")
            return False
    if prev is None or len(digests) > len(prev):
        known[key] = digests
        with open(path, "w") as fh:
            json.dump(known, fh)
    return True


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "tools", "check.py"))):
        sys.exit("perfbench: run from a checkout of the program (src/main/scala/graft missing)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    os.makedirs(STATE, exist_ok=True)
    stamp, cp = build()

    t_start = time.time()
    work = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # registry tables: for that workload, and for the ops layer that the
        # traced history_analytics run carries
        registry = os.path.join(work, "registry")
        if a.workload == "registry_heavy" or (a.trace and a.workload == "history_analytics"):
            sys.path.insert(0, HERE)
            import tables
            tables.write(os.path.join(registry, "tables"), a.seed, scale=1.0)
            tables.write(os.path.join(registry, "warm_tables"), a.seed ^ 0x5EED, scale=0.25)
        result_file = os.path.join(work, "result.json")
        # a fixed heap and the throughput collector: with G1's concurrent
        # threads on 4 cores, run-to-run spread of op latency was larger
        cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                "-Dspark.ui.enabled=false", "-cp", os.pathsep.join(cp)]
               + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
               + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--out", result_file])
        remaining = DEADLINE_S - (time.time() - t_start)
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=max(10, remaining))
        if r.returncode != 0 or not os.path.exists(result_file):
            sys.exit(f"perfbench: JVM exited with {r.returncode}")
        log(f"JVM done at {time.time() - t_start:.1f}s")
        res = json.load(open(result_file))
        correct, failed = res["correct"], res["failed"]

        if os.path.exists(os.path.join(registry, "out")):
            for name in check_registry(registry):
                prefix = name.split("_")[0]
                failed += res["ops"].get(prefix, {}).get("ok", 0) or 1
                correct = False
        log(f"checks done at {time.time() - t_start:.1f}s")
        if not check_digests(f"{a.workload}:{a.seed}:{stamp}", res["digests"]):
            correct = False

        if a.trace:
            trace_dir = os.path.join(STATE, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            src = os.path.join(work, "trace_ops.jsonl")
            if os.path.exists(src):
                shutil.copy(src, os.path.join(trace_dir, f"{a.workload}-{a.seed}.jsonl"))

        got = res["metrics"]
        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            v = got.get(m["name"])
            if v is None:
                if not a.trace:
                    sys.exit(f"perfbench: metric {m['name']} was not measured")
                v = 0.0  # a layer this workload does not exercise
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        log("all measured: " + json.dumps(got, sort_keys=True))
        print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
