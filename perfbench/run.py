#!/usr/bin/env python3
"""Benchmark launcher for the OSW extract-load service and its operators.

    python3 perfbench/run.py --workload osw_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record-operators

Run from the repository root. The first run builds the repository and the
harness with sbt (perfbench/build.sbt) and caches the classpath under
.bench_build/; later runs start the JVM directly. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics (spans go to .bench_build/traces/).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170

# What JDK 17 needs opened for Spark when it is not started by spark-submit
# (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dn, fn in os.walk(r):
            dn.sort()
            files += [os.path.join(dp, f) for f in sorted(fn)]
    return files


def classpath():
    """Builds if any source changed since the cached build; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no repository sources next to the benchmark (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached = fh.read().split("\n", 1)
        if cached[0] == stamp and len(cached) == 2:
            return cached[1].strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def jvm(cp, args, work):
    """Runs perfbench.Main; returns its last stdout line."""
    t0 = time.time()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("workload timed out", 1)
    finally:
        log.close()
    with open(os.path.join(work, "jvm.log")) as fh:
        for l in fh:
            if l.startswith("perfbench:"):
                sys.stderr.write(l)
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {p.returncode}", 1)
    print(f"perfbench: JVM ran {time.time() - t0:.1f}s", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    return out, (lines[-1] if lines else "")


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return v


def check_reads(path):
    """Compares each dynamic-query result with DuckDB over the same parquet
    files; returns (checked, failure messages)."""
    import duckdb
    con = duckdb.connect()
    cache, bad, n = {}, [], 0
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            n += 1
            sql = r["sql"]
            if sql not in cache:
                cache[sql] = [norm(list(row)) for row in con.execute(sql).fetchall()]
            want, got = cache[sql], [norm(row) for row in r["rows"]]
            if not r["ordered"]:
                want, got = sorted(want, key=repr), sorted(got, key=repr)
            if want != got:
                bad.append(f"query {r['query']}: {len(got)} rows differ from DuckDB")
    con.close()
    return n, bad


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_workload(a):
    spec = bench_spec()
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp = classpath()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _, line = jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work], work)
        try:
            res = json.loads(line)
        except ValueError:
            fail("no result from the JVM", 1)
        attempted, failures = res["attempted"], list(res["failures"])
        failed = res["failed"]
        reads = os.path.join(work, "read_check.jsonl")
        if os.path.isfile(reads):
            n, bad = check_reads(reads)
            attempted += n
            failed += len(bad)
            failures += bad
        for f in failures[:10]:
            print(f"perfbench: failed: {f}", file=sys.stderr)
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.isfile(spans):
                os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(
                    BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
            wanted, got = spec["per_layer"], res["layers"]
        else:
            wanted, got = spec["end_to_end"], res["metrics"]
        metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0) or 0.0),
                               "unit": m["unit"]} for m in wanted}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def self_test():
    cp = classpath()
    work = os.path.join(BUILD, "work", f"self-test-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        out, _ = jvm(cp, ["--self-test", work], work)
        print(out, end="")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record_operators():
    """Runs the operator mix once, confirms every result against its DuckDB
    oracle over the same corpus, and records rows and hashes."""
    import duckdb
    cp = classpath()
    work = os.path.join(BUILD, "work", f"record-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _, line = jvm(cp, ["--record-operators", work], work)
        rec = json.loads(line)
        corpus = rec["corpus"]
        with open(os.path.join(work, "oracle_sql.json")) as fh:
            oracle = json.load(fh)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet/*.parquet'")
        bad = []
        for q in sorted(oracle):
            t0 = time.time()
            want = sorted([norm(list(r)) for r in con.execute(oracle[q]).fetchall()], key=repr)
            got = sorted([norm(list(r)) for r in con.execute(
                f"SELECT * FROM '{work}/out/{q}/*.parquet'").fetchall()], key=repr)
            ok = want == got and len(want) == rec["recorded"][q]["rows"]
            print(f"{'ok  ' if ok else 'FAIL'} {q}: {len(got)} rows, oracle {time.time() - t0:.1f}s",
                  file=sys.stderr)
            if not ok:
                bad.append(q)
        if bad:
            fail(f"oracle mismatch: {bad}", 1)
        with open(os.path.join(HERE, "operator_expected.json"), "w") as fh:
            json.dump({q: rec["recorded"][q] for q in sorted(rec["recorded"])},
                      fh, indent=1, sort_keys=True)
            fh.write("\n")
        print("recorded perfbench/operator_expected.json", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-operators", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    if a.self_test:
        self_test()
    elif a.record_operators:
        record_operators()
    elif a.workload:
        run_workload(a)
    else:
        fail("--workload, --self-test or --record-operators is required")


if __name__ == "__main__":
    main()
