#!/usr/bin/env python3
"""Benchmark of the graft engine: live ingest, dashboard refresh, curation.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|dashboard|curation \
        --seed N --seconds S --trace 0|1

Builds the library (`src/main/scala`) and the benchmark's JVM side
(`perfbench/scala`) with the Scala compiler that ships with Spark, generates
the workload's inputs from the seed, runs the workload in one JVM, checks
its outputs (ingest inside the JVM; query keys against the DuckDB oracle
SQL of `SparkEntry.oracleSql`) and prints two JSON lines: a report with
every metric by its full name, unit and sample count plus the session and
host description, then the result line
`{"correct", "attempted", "failed", "metrics"}`. Exits non-zero when a check
fails or the workload errors.

Everything it writes goes under `.bench_build/` in the current directory.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("ingest", "dashboard", "curation")
END_TO_END = ("setup_s", "latency_p50_ms")
# inputs per workload: (events, documents, embeddings); ingest generates its
# machine writes inside the JVM from the same seed
SIZES = {
    "ingest": (1000, 100, 100),
    "dashboard": (10_000, 100, 100),
    "curation": (1000, 1000, 1000),
}
JAVA_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars() -> str:
    """`$SPARK_HOME/jars`, else the jars beside a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources(root: str) -> list:
    files = []
    for base, pattern in (("src/main/scala", "**/*.scala"),
                          ("perfbench/scala", "**/*.scala"),
                          ("src/main/resources", "**/*")):
        files += [f for f in glob.glob(os.path.join(root, base, pattern), recursive=True)
                  if os.path.isfile(f)]
    return sorted(files)


def build(root: str, jars: str) -> str:
    """Compiles library + benchmark once per source digest; returns the class dir."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        fail("no library sources under src/main/scala")
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = os.path.join(build_dir, f"classes-{digest.hexdigest()[:16]}")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        scala = [s for s in srcs if s.endswith(".scala")]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", os.path.join(jars, "*")] + scala
        t0 = time.time()
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
            fail("build failed", 1)
        resources = os.path.join(root, "src/main/resources")
        if os.path.isdir(resources):
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        os.rename(tmp, classes)
        print(f"perfbench: built {len(scala)} sources in {time.time() - t0:.1f}s",
              file=sys.stderr)
    return classes


def heap() -> str:
    """Half the host memory, 2 to 8 GB: the project's test-run sizing."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "2g"
    return f"{min(8, max(2, kb // 2097152))}g"


def run_jvm(root: str, classes: str, jars: str, work: str, args) -> dict:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + opens + [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
        args.workload, os.path.join(work, "data"), work, str(args.seconds),
        str(args.trace), str(args.seed)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            tail(log_path)
            fail(f"workload did not finish within {JAVA_TIMEOUT_S}s", 1)
    result_path = os.path.join(work, "result.json")
    if not os.path.exists(result_path):
        tail(log_path)
        fail(f"JVM exited {proc.returncode} without a result", 1)
    with open(result_path) as fh:
        result = json.load(fh)
    if proc.returncode != 0:
        tail(log_path)
        result["failures"].append(f"JVM exited {proc.returncode}")
    return result


def tail(path: str, n: int = 60) -> None:
    with open(path, errors="replace") as fh:
        sys.stderr.writelines(fh.readlines()[-n:])


def oracle_check(root: str, work: str, oracle_sql: dict) -> list:
    """The project's oracle compare (`canon` of tools/check_oracle.py):
    columns sorted by name, rows sorted, values compared as text. Returns
    the failing keys with the reason."""
    import duckdb
    import pandas as pd

    sys.path.insert(0, os.path.join(root, "tools"))
    from check_oracle import canon

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(work, 'data', t + '.parquet')}'")

    bad = []
    for key, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(work, "out", key, "*.parquet"))
        if not files:
            bad.append((key, "no spark output"))
            continue
        try:
            a = canon(pd.concat([pd.read_parquet(f) for f in files])).astype(str)
            b = canon(con.execute(sql).df()).astype(str)
            if list(a.columns) != list(b.columns):
                bad.append((key, f"columns {list(a.columns)} vs {list(b.columns)}"))
            elif len(a) != len(b):
                bad.append((key, f"rows {len(a)} vs {len(b)}"))
            elif (a.values != b.values).any():
                bad.append((key, "values differ"))
        except Exception as e:  # noqa: BLE001 - any oracle error fails the key
            bad.append((key, f"{type(e).__name__}: {e}"))
    return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    jars = spark_jars()
    classes = build(root, jars)

    import gen

    work = os.path.join(root, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        gen.write(os.path.join(work, "data"), args.seed, *SIZES[args.workload])
        t1 = time.time()
        result = run_jvm(root, classes, jars, work, args)
        t2 = time.time()
        failures = list(result["failures"])
        failed = int(result["failed"])
        bad = oracle_check(root, work, result["oracle_sql"]) if result["oracle_sql"] else []
        print(f"perfbench: inputs {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, "
              f"oracle {time.time() - t2:.1f}s", file=sys.stderr)
        if bad:
            per_key = result["attempted"] / max(1, len(result["oracle_sql"]))
            failed += int(round(per_key * len(bad)))
            failures += [f"{k}: oracle mismatch: {why}" for k, why in bad]
        if failures and failed == 0:
            failed = 1  # a check outside any single operation failed
        trace_src = os.path.join(work, "trace.jsonl")
        if os.path.exists(trace_src):
            traces = os.path.join(root, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(trace_src, os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report = dict(result["report"])
    attempted = max(1, int(result["attempted"]))
    report[f"{args.workload}.error_rate"] = {
        "value": failed / attempted, "unit": "ratio", "n": attempted}
    if args.trace:
        metrics = {k: dict(v) for k, v in result["per_layer"].items()}
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            wanted = json.load(fh)["per_layer"]
        for m in wanted:
            # a layer that does no work in this workload reports zero
            metrics.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
        metrics = {m["name"]: metrics[m["name"]] for m in wanted}
    else:
        metrics = {k: result["end_to_end"][k] for k in END_TO_END
                   if k in result["end_to_end"]}
    correct = not failures and len(metrics) > 0 and (
        args.trace or len(metrics) == len(END_TO_END))
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report, "info": result["info"],
                      "failures": failures}))
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
