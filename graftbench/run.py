"""graft benchmark: one command, two workloads.

    python3 graftbench/run.py --workload sql_interactive --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds graft and the
benchmark's JVM program from source (sbt, a few minutes) and caches the
result under graftbench/target; later runs start the JVM directly. Inputs are
generated from the seed under .bench_run/, which is removed at exit.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics of BENCHMARK.json with --trace 0,
the per-layer metrics with --trace 1). The line before it is a fuller
report: every metric, the checks, the input sizes and planted counts.
See graftbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = list(gen.GENERATORS)
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) +
                   [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark into jars; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "bench-build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("hash") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspathAsJars"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


@contextlib.contextmanager
def run_dir(name):
    """A fresh directory under .bench_run for one JVM's inputs and work,
    removed afterwards."""
    d = os.path.join(ROOT, ".bench_run", f"{name}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    inputs, work = os.path.join(d, "inputs"), os.path.join(d, "work")
    os.makedirs(work)
    try:
        yield inputs, work
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(cp, a, inputs, work):
    """Run one workload in a fresh JVM; return its result file's contents."""
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    spans = os.path.join(ROOT, ".bench_run", f"trace-{a.workload}.jsonl")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop",
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--inputs", inputs, "--work", work, "--out", out, "--spans", spans]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        die(f"benchmark JVM failed (exit {p.returncode})")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------- sql oracle

def canon_value(v):
    if isinstance(v, bool) or v is None or isinstance(v, int):
        return v
    if isinstance(v, float):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, str) and len(v) >= 16 and v[4] == "-" and v[10] in "T ":
        try:
            import datetime
            return datetime.datetime.fromisoformat(v).isoformat()
        except ValueError:
            return v
    return v


def rows_equal(got, want):
    """Same multiset of rows; doubles may differ in their last rounding
    (sum order differs between engines)."""
    if len(got) != len(want):
        return False

    def key(r):
        return tuple("" if isinstance(x, float) else repr(x) for x in r) + \
            tuple(round(x, 1) for x in r if isinstance(x, float))

    g = sorted(([canon_value(x) for x in r] for r in got), key=key)
    w = sorted(([canon_value(x) for x in r] for r in want), key=key)
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=0.0101):
                    return False
            elif x != y:
                return False
    return True


def check_sql(inputs, res):
    """Every distinct statement text the JVM ran, against DuckDB on the same
    parquet files; the saved-results table against the saves it ran.
    Returns (failed executions, distinct texts checked)."""
    import duckdb
    with open(os.path.join(inputs, "sql_stream.json")) as f:
        stream = json.load(f)
    con = duckdb.connect()
    tables = os.path.join(inputs, "tables")
    for schema, names in (("tpch", ["region", "nation", "customer", "supplier", "part",
                                    "orders", "lineitem"]), ("logs", ["events"])):
        con.execute(f"CREATE SCHEMA {schema}")
        for t in names:
            con.execute(f"CREATE VIEW {schema}.{t} AS SELECT * FROM "
                        f"read_parquet('{tables}/{t}.parquet')")
    report = res["report"]
    executed = report["executed"]
    with open(report["results_file"]) as f:
        results = {r["text_id"]: r["rows"] for r in map(json.loads, f)}
    counts = {}
    for tid in executed:
        counts[tid] = counts.get(tid, 0) + 1
    failed, saved_want = 0, []
    for tid, n in counts.items():
        s = stream[tid]
        want = con.execute(s["duck_sql"], s["vars"] or None).fetchall()
        if s["write"]:
            saved_want += [list(r) for r in want] * n
        elif not rows_equal(results[tid], want):
            failed += n
    saved = glob.glob(os.path.join(report["saved_dir"], "*.parquet"))
    got = con.execute(f"SELECT qid, k, n FROM read_parquet({saved!r})").fetchall() \
        if saved else []
    if not rows_equal(got, saved_want):
        failed += sum(n for tid, n in counts.items() if stream[tid]["write"])
    return failed, len(counts)


# --------------------------------------------------------------- main

def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full", choices=list(gen.SIZES),
                    help="input size; `small` is for the smoke check")
    a = ap.parse_args()

    spec = load_spec()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not in this checkout")
    cp = build()

    with run_dir(f"{a.workload}-{a.seed}") as (inputs, work):
        t0 = time.perf_counter()
        info = gen.generate(a.workload, a.seed, inputs, a.size)
        gen_s = time.perf_counter() - t0
        res = run_jvm(cp, a, inputs, work)
        failed, attempted = res["failed"], res["attempted"]
        checks = {}
        if a.workload == "sql_interactive":
            f, distinct = check_sql(inputs, res)
            failed += f
            checks = {"oracle_failed_executions": f, "distinct_texts_checked": distinct}
            for k in ("results_file", "executed", "saved_dir"):
                res["report"].pop(k)

    e2e = dict(res["e2e"])
    e2e["setup_s"] = gen_s + res["session_s"] + statistics.median(res["prepare_s"]) + \
        res["warm_s"]
    extra = {"error_rate": failed / attempted, "gen_s": gen_s,
             "session_s": res["session_s"], "prepare_s": res["prepare_s"],
             "warm_s": res["warm_s"],
             "latency_samples": res["latency_samples"],
             "append_samples": res["append_samples"], "cores": res["cores"]}
    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = res["layers"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    missing = [n for n, _ in names if n not in values and not a.trace]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "inputs": info,
                      "report": res["report"], "checks": checks, **extra,
                      "all_metrics": {**e2e, **res["layers"]}}))
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
