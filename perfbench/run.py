#!/usr/bin/env python3
"""graft benchmark runner.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the benchmark (perfbench/build.sbt, compiled against the checkout's
own sources) into .bench_build on first use, runs one workload in its own
JVM, checks its outputs (the operator queries against the DuckDB oracle),
prints a readable report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics, traced runs (--trace 1) the per-layer metrics; the
metric names and units are those BENCHMARK.json lists.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850



def catalogue(root):
    """Workload names and the (name, unit) of every end-to-end and
    per-layer metric, from the checkout's BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([w["name"] for w in spec["workloads"]],
            [(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_files(root):
    """Files whose content decides the build: the program and the benchmark."""
    out = []
    for base in ["build.sbt", "project/build.properties",
                 os.path.join(BENCH_DIR, "build.sbt"),
                 os.path.join(BENCH_DIR, "project", "build.properties")]:
        p = os.path.join(root, base)
        if os.path.isfile(p):
            out.append(p)
    for top in [os.path.join(root, "src", "main"), os.path.join(BENCH_DIR, "src")]:
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Classpath of the compiled benchmark, building it when the sources
    changed since the last build."""
    fp = digest(source_files(root), root)
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    fp_file = os.path.join(BUILD_DIR, "classpath.fp")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f, open(cp_file) as g:
            cached_fp, cp = f.read().strip(), g.read().strip()
        # the classpath holds absolute paths: reuse it only where it was built
        if cached_fp == fp and all(os.path.exists(p) for p in cp.split(os.pathsep)[:2]):
            return cp, fp
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("[perfbench] building (first run in this checkout) ...")
    build_log = os.path.join(BUILD_DIR, "build.log")
    with open(build_log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL,
            text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(proc)
            raise SystemExit("[perfbench] build timed out")
        out.write(stdout)
    lines = [l for l in stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        with open(build_log) as f:
            log("".join(f.readlines()[-30:]))
        raise SystemExit("[perfbench] build failed (see %s)" % build_log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp, fp


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


# --------------------------------------------------------------------- JVM

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, jvm_args, tag):
    os.makedirs(os.path.join(BUILD_DIR, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "logs", tag + ".log")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp]
           + opens + ["-cp", cp, "graft.perfbench.Main"] + jvm_args)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(proc)
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            log("".join(f.readlines()[-40:]))
        raise SystemExit("[perfbench] workload JVM failed (%s); log %s" % (code, log_path))


# ------------------------------------------------------------------ oracle

def canonical(df):
    """Column-sorted, type-kinded, exactly rendered form of a result, as
    tools/check_oracle.py compares them."""
    import numpy as np

    def plain(v):
        if isinstance(v, np.ndarray):
            return [plain(x) for x in v.tolist()]
        if isinstance(v, (list, tuple)):
            return [plain(x) for x in v]
        if isinstance(v, dict):
            return {k: plain(x) for k, x in sorted(v.items())}
        return v

    df = df[sorted(df.columns)]
    return {"columns": list(df.columns),
            "kinds": [df[c].dtype.kind for c in df.columns],
            "rows": len(df),
            "values": {c: repr([plain(v) for v in df[c].tolist()]) for c in df.columns}}


def canon_hash(c):
    return hashlib.sha256(json.dumps(c, sort_keys=True).encode()).hexdigest()


def oracle_check(corpus, results, sql_file):
    """(compared, [failure]) for every query result against its DuckDB
    oracle. Oracle results are cached per corpus content, so each seed
    computes them once."""
    import duckdb
    with open(sql_file) as f:
        sqls = json.load(f)
    tables = ["documents", "embeddings", "events"]
    corpus_files = sorted(os.path.join(d, f) for t in tables
                          for d, _, fs in os.walk(os.path.join(corpus, t + ".parquet"))
                          for f in fs if f.endswith(".parquet"))
    corpus_key = digest(corpus_files, corpus)
    cache_dir = os.path.join(BUILD_DIR, "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    for t in tables:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet/*.parquet')"
                    % (t, corpus, t))
    failures = []
    for q in sorted(sqls):
        key = hashlib.sha256((corpus_key + sqls[q]).encode()).hexdigest()[:32]
        cache = os.path.join(cache_dir, key + ".json")
        files = sorted(os.path.join(results, q, f) for f in os.listdir(os.path.join(results, q))
                       if f.endswith(".parquet"))
        got = canonical(con.sql("SELECT * FROM read_parquet(%r)" % files).df())
        if os.path.isfile(cache):
            with open(cache) as f:
                exp = json.load(f)
        else:
            exp = canonical(con.sql(sqls[q]).df())
            with open(cache + ".tmp", "w") as f:
                json.dump(exp, f)
            os.replace(cache + ".tmp", cache)
        if canon_hash(got) != canon_hash(exp):
            detail = "hash mismatch"
            if got["columns"] != exp["columns"]:
                detail = "columns %s != %s" % (got["columns"], exp["columns"])
            elif got["rows"] != exp["rows"]:
                detail = "rows %d != %d" % (got["rows"], exp["rows"])
            elif got["kinds"] != exp["kinds"]:
                detail = "dtype kinds %s != %s" % (got["kinds"], exp["kinds"])
            else:
                bad = [c for c in got["columns"] if got["values"][c] != exp["values"][c]]
                detail = "values differ in %s" % bad
            failures.append("%s: %s" % (q, detail))
    return len(sqls), failures


def oracle_selftest(o, bad):
    """The oracle check passes on correct results (`bad` is its outcome)
    and fails once one result row is removed."""
    problems = ["selftest: oracle rejects correct results: %s" % bad] if bad else []
    import pandas as pd
    qdir = os.path.join(o["results"], sorted(os.listdir(o["results"]))[0])
    part = [f for f in os.listdir(qdir) if f.endswith(".parquet")][0]
    df = pd.read_parquet(os.path.join(qdir, part)).iloc[:-1]
    shutil.rmtree(qdir)
    os.makedirs(qdir)
    df.to_parquet(os.path.join(qdir, "part-0.parquet"))
    if not oracle_check(o["corpus"], o["results"], o["sql"])[1]:
        problems.append("selftest: oracle accepts a result with a row removed")
    return problems


# ------------------------------------------------------------------- main

def context(root, fp):
    commit = "none"
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or "none"
        except (OSError, subprocess.SubprocessError):
            pass
    return {"commit": commit, "source_digest": fp[:16]}


def fmt(v):
    return "n/a" if v is None else ("%.6g" % v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile("build.sbt") and os.path.isdir(os.path.join("src", "main", "scala", "graft"))):
        log("[perfbench] run from the root of a graft checkout (build.sbt, src/main/scala/graft)")
        return 2
    workloads, end_to_end, per_layer = catalogue(root)
    if not a.selftest and a.workload not in workloads:
        log("[perfbench] --workload must be one of %s" % workloads)
        return 2
    cp, fp = build(root)
    name = "selftest" if a.selftest else a.workload
    tag = "%s-%d-t%d-%d" % (name, a.seed, a.trace, os.getpid())
    work = os.path.join(BUILD_DIR, "work", tag)
    report = os.path.join(BUILD_DIR, "reports", tag + ".json")
    jvm_args = ["--workload", name, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", report]
    if a.selftest:
        jvm_args.append("--selftest")
    t0 = time.time()
    try:
        run_jvm(cp, jvm_args, tag)
        with open(report) as f:
            rep = json.load(f)
        failures = list(rep["failures"])
        attempted, failed = rep["attempted"], rep["failed"]
        if rep.get("oracle"):
            o = rep["oracle"]
            t1 = time.time()
            n, bad = oracle_check(o["corpus"], o["results"], o["sql"])
            rep["setup"]["oracle_check_s (not in setup_s)"] = time.time() - t1
            if a.selftest:
                attempted += 2
                problems = oracle_selftest(o, bad)
                failed += len(problems)
                failures += problems
            else:
                attempted += n
                failed += len(bad)
                failures += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ctx = dict(rep["context"], **context(root, fp))
    print("== graft benchmark: %s seed=%d seconds=%d trace=%d wall=%.1fs"
          % (name, a.seed, a.seconds, a.trace, time.time() - t0))
    print("context: " + json.dumps(ctx, sort_keys=True))
    print("setup phases: " + ", ".join("%s=%.3f" % kv for kv in rep["setup"].items()))
    for k, v in rep["metrics"].items():
        print("  %-32s %12s %s" % (k, fmt(v["value"]), v["unit"]))
    for k, v in rep["aliases"].items():
        print("  %-32s %12s %s" % (k, fmt(v["value"]), v["unit"]))
    print("  %-32s %12s %s" % ("failed_share", fmt(failed / max(1, attempted)), "ratio"))
    for k, v in rep["layers"].items():
        print("  %-32s %12s %s" % (k, fmt(v["value"]), v["unit"]))
    for n in rep["notes"]:
        print("note: " + n)
    for f in failures:
        print("FAILED: " + f)
    if a.selftest:
        metrics = {}
    elif a.trace:
        metrics = {}
        for k, unit in per_layer:
            v = rep["layers"].get(k, {"value": 0.0})["value"]
            metrics[k] = {"value": 0.0 if v is None else v, "unit": unit}
    else:
        metrics = {k: {"value": rep["metrics"][k]["value"], "unit": unit}
                   for k, unit in end_to_end}
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
