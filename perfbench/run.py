#!/usr/bin/env python3
"""Medallion lakehouse benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source tree. The first run builds the program and the
benchmark together (perfbench/build.sbt) and later runs reuse the jar until a
source file changes. The run itself is one JVM (perfbench.Main) at
local[nproc]; this script then checks the curation results against their
DuckDB oracles and prints, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. Workloads, inputs and
metrics are described in perfbench/README.md.

Environment: PERFBENCH_DATA names the sf0.1 corpus (default
~/testdata/sf0.1). Spark's jars are taken from SPARK_HOME, which must be set.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("medallion", "table_dml", "curation")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0.jar")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for dp, dns, fns in os.walk(d):
            dns[:] = [n for n in dns if n != "target"]
            files += [os.path.join(dp, f) for f in fns]
    return sorted(files)


def build(root, state):
    """Package the jar unless it was built from exactly these sources."""
    h = hashlib.sha256()
    for f in source_files(root):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, root)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    stamp_path = os.path.join(state, "build.stamp")
    stamp = h.hexdigest()
    if os.path.exists(JAR) and os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(JAR):
        fail("build failed", 3)
    sql = subprocess.run(java_cmd(["perfbench.OracleSql"]), stdout=subprocess.PIPE, stderr=sys.stderr)
    if sql.returncode != 0:
        fail("could not read the curation oracle SQL", 3)
    with open(os.path.join(state, "oracle_sql.json"), "wb") as f:
        f.write(sql.stdout.strip().splitlines()[-1])
    with open(stamp_path, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def oracle_signatures(state, data):
    """Expected curation results (column names, row count, hash) by query,
    computed by DuckDB from the oracle SQL and cached per (SQL, corpus): two
    of the oracles take about a minute each."""
    sys.path.insert(0, HERE)
    import oracle
    with open(os.path.join(state, "oracle_sql.json")) as f:
        sqls = json.load(f)
    # the hash rule is part of the key: tools/selfcheck.py has a lenient mode
    h = hashlib.sha256(json.dumps([sqls, oracle.STRICT], sort_keys=True).encode())
    for name in sorted(os.listdir(data)):
        st = os.stat(os.path.join(data, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    key = h.hexdigest()
    cache = os.path.join(state, "oracle_signatures.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["key"] == key:
            return c["signatures"]
    t0 = time.time()
    con = oracle.connect(data)
    sigs = {q: list(oracle.signature(*oracle.fetch(con, sql))) for q, sql in sqls.items()}
    with open(cache, "w") as f:
        json.dump({"key": key, "signatures": sigs}, f)
    print(f"perfbench: curation oracles computed in {time.time() - t0:.1f} s", file=sys.stderr)
    return sigs


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        fail("SPARK_HOME is not set")
    return os.path.join(home, "jars")


def java_cmd(main_and_args, jvm_opts=()):
    jars = spark_jars()
    return (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + list(jvm_opts) +
            ["-cp", f"{JAR}:{jars}/*"] + main_and_args)


def run_jvm(args, work, out, data):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", work, "--out", out, "--data", data],
                   ["-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Duser.language=en", "-Duser.country=US",
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])
    proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {rc}", 4)
    with open(out) as f:
        return json.load(f)


def check_curation(res, work, expected):
    """Compare every curation result with its DuckDB oracle; a mismatch is a
    failed operation and makes the run incorrect."""
    import oracle
    import duckdb
    with open(os.path.join(work, "curation", "ops.json")) as f:
        ops = json.load(f)
    con = duckdb.connect()
    mismatched = set()
    for op in ops:
        if op["ok"] and list(oracle.parquet_signature(con, op["path"])) != expected[op["query"]]:
            res["failed"] += 1
            mismatched.add(op["query"])
    for q in sorted(mismatched):
        print(f"check failed: {q} differs from its oracle")
    if mismatched:
        res["correct"] = False


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail(f"{root} holds no program sources (src/main/scala); run from the root of a source tree")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    data = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.1"))
    if args.workload != "medallion" and not os.path.isfile(os.path.join(data, "events.parquet")):
        fail(f"corpus {data} not found (set PERFBENCH_DATA)")

    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    build(root, state)
    # The curation oracles take about 2 minutes and are cached per build and
    # corpus. They are made by the first run in a checkout, whatever its
    # workload: that run may take long, as it builds, while a later curation
    # run that made them would not end within its time limit.
    expected = oracle_signatures(state, data) if os.path.isdir(data) else None

    # Each run keeps its own work directory and nothing is deleted: on a disk
    # mounted with online discard, unlinking a run's ~1-2k small written-back
    # files takes 10-20 s, longer than the measurement. Remove .bench_build/work
    # to reclaim the space.
    work = os.path.join(state, "work", f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}")
    os.makedirs(work)
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    res = run_jvm(args, work, out, data)
    if args.workload == "curation":
        check_curation(res, work, expected)
    trace = os.path.join(work, f"trace-{args.workload}-{args.seed}.jsonl")
    if os.path.exists(trace):
        os.replace(trace, os.path.join(results, os.path.basename(trace)))

    if args.trace:
        wanted = spec["per_layer"]
        got = res["per_layer"]
        unknown = sorted(set(got) - {m["name"] for m in wanted})
        if unknown:
            fail(f"per-layer metrics missing from BENCHMARK.json: {unknown}", 5)
        # a layer this workload does not exercise reads 0
        metrics = {m["name"]: {"value": got.get(m["name"], {"value": 0.0})["value"] or 0.0,
                               "unit": m["unit"]} for m in wanted}
    else:
        got = res["end_to_end"]
        missing = [m["name"] for m in spec["end_to_end"] if got.get(m["name"], {}).get("value") is None]
        if missing:
            fail(f"end-to-end metrics not measured: {missing}", 5)
        metrics = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
