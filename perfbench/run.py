#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload sweep --seed 1 --seconds 10 --trace 0

Workloads: sweep and query_mix (the two BENCHMARK.json declares), harvest and
refresh; perfbench/workloads.json records what each one does and checks.
The first run in a checkout compiles the library and the benchmark with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. All files the run writes stay under the checkout: the build's
classpath under .bench_build/, inputs, stores and traces under .bench_work/.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1, as BENCHMARK.json names them. The lines
before it print every metric by name with its unit, failed_ratio included.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["sweep", "harvest", "refresh", "query_mix"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
QUERY_TABLES = ["documents", "embeddings", "events", "lineitem", "orders"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, for the up-to-date check."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    print("[perfbench] building with sbt ...", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def run_jvm(cp, args, work):
    env = dict(os.environ)
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "run", "warehouse")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args + ["--work", work])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, cwd=ROOT, start_new_session=True,
                                stdin=subprocess.DEVNULL)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
    with open(log_path) as f:
        log_lines = f.read().splitlines()
    for l in log_lines:
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(log_lines[-30:]) + "\n")
        fail(f"benchmark JVM exited with {proc.returncode}")
    return json.loads(lines[-1])


# ---- query_mix output check: the normalization of scripts/check.py -------

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in data:
        h.update(("|".join(r) + "\n").encode())
    return h.hexdigest()[:16]


def digest(rel):
    """(sorted columns, row count, value hash) of a DuckDB relation."""
    cols, rows = rel.columns, rel.fetchall()
    return [sorted(cols), len(rows), table_hash(rows, cols)]


def oracle_mismatches(work):
    """Queries whose Spark output differs from their DuckDB oracle. Oracle
    digests are cached in the build directory, keyed by the oracle text and
    the input tables' bytes, since the query_mix tables do not change."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    data = os.path.join(work, "run", "data")
    tables = hashlib.sha256()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
        d = os.path.join(data, f"{t}.parquet")
        for f in sorted(x for x in os.listdir(d) if x.endswith(".parquet")):
            with open(os.path.join(d, f), "rb") as fh:
                tables.update(fh.read())
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    cache_path = os.path.join(BUILD, "oracle_digests.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    bad = {}
    for name, sql in sorted(oracles.items()):
        key = hashlib.sha256((sql + tables.hexdigest()).encode()).hexdigest()
        try:
            got = digest(con.sql(f"SELECT * FROM read_parquet('{work}/out/{name}/*.parquet')"))
            if key not in cache:
                cache[key] = digest(con.sql(sql))
            want = cache[key]
            if got != want:
                bad[name] = f"spark (columns, rows, hash) {got} != oracle {want}"
        except Exception as e:  # a failing oracle or unreadable output
            bad[name] = f"{type(e).__name__}: {e}"
    os.makedirs(BUILD, exist_ok=True)
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return bad


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the library sources (build.sbt, src/main/scala) are not in this checkout")
    cp = classpath()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace)], work)

    if a.workload == "query_mix":
        # every op runs every query, so a wrong query output fails every op
        bad = oracle_mismatches(work)
        for name, why in bad.items():
            print(f"[perfbench] FAILED {name}: output differs from its oracle: {why}",
                  file=sys.stderr)
        if bad:
            res["failed"], res["correct"] = res["attempted"], False
    m = res["metrics"]
    if "failed_ratio" in m:
        m["failed_ratio"]["value"] = res["failed"] / res["attempted"]

    notes = res.get("notes", {})
    print(f"workload {a.workload} seed {a.seed} cores {notes.get('cores')} "
          f"ops {res['attempted']} failed {res['failed']} correct {res['correct']}")
    for k, v in notes.items():
        print(f"  note {k} = {v}")
    for name, v in m.items():
        print(f"  {name} = {v['value']:.6g} {v['unit']}")

    names = declared_metrics(a.trace)
    missing = [n for n in names if n not in m]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {n: m[n] for n in names}}))


if __name__ == "__main__":
    main()
