#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark (kgbench/build.sh) when their
sources changed, runs one workload in one JVM (kgbench.Main), checks the
query outputs of `query_suite` against DuckDB, prints a report line and,
as the last line, the result JSON. Everything it writes goes under
.bench_build/ in the current directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("kg_staged_ckpt", "query_suite")
RUN_LIMIT_S = 170  # the JVM is stopped past this; no result is printed
BUILD_LIMIT_S = 800
HEAP = "3g"
BUILD = ".bench_build"
# a copy of the sf0.01 test tables (TESTDATA.md); query_suite samples
# them per seed
FIXTURE = "kgbench/data/sf0.01"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    if not os.path.isdir("src/main/scala"):
        fail("src/main/scala not found; run from the repository root")
    return sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                  glob.glob("kgbench/src/*.scala") + ["kgbench/build.sh"])


def build():
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(BUILD, "stamp")
    stamp = h.hexdigest()
    if (os.path.isdir(os.path.join(BUILD, "classes")) and
            os.path.exists(stamp_path) and open(stamp_path).read() == stamp):
        return
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["bash", "kgbench/build.sh", spark_jars()],
                           stdout=log, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail(f"build failed, see {BUILD}/build.log")
    with open(stamp_path, "w") as f:
        f.write(stamp)


def spark_jars():
    """The jars directory of the Spark install: $SPARK_HOME, else the first
    `spark-submit` on PATH that sits in a Spark distribution."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark distribution found; set SPARK_HOME")


def run_jvm(args, work, cores):
    jars = spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.path.join(BUILD, "classes") + os.pathsep +
            os.path.join(jars, "*"),
            "kgbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--work", work, "--fixture", os.path.abspath(FIXTURE),
            "--out", os.path.join(work, "summary.json")])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s")
    if p.returncode != 0:
        fail(f"JVM exited with {p.returncode}, see {work}/jvm.log")
    with open(os.path.join(work, "summary.json")) as f:
        return json.load(f)


def duckdb_check(work, sf, rows):
    """Each query's Spark output against its DuckDB oracle SQL over the
    same parquet tables: columns by name, rows sorted, values exact, and
    as many rows as every timed iteration counted (`rows`, by query).
    Returns {query: failure message} for the mismatches."""
    import duckdb
    import pandas as pd
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}/*.parquet'")

    def canon(df):
        df = df[sorted(df.columns)]
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    bad = {}
    for q, n in rows.items():
        try:
            got = canon(con.execute(
                f"SELECT * FROM parquet_scan('{work}/qout/{q}/*.parquet')").df())
            exp = canon(con.execute(oracle[q]).df())
            if list(got.columns) != list(exp.columns):
                bad[q] = f"columns {list(got.columns)} != {list(exp.columns)}"
            elif len(got) != len(exp):
                bad[q] = f"rows {len(got)} != {len(exp)}"
            elif len(got) != n:
                bad[q] = f"rows {len(got)}, iterations counted {n}"
            else:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                              check_exact=True)
        except AssertionError as e:
            bad[q] = (str(e).splitlines() or ["values differ"])[-1]
        except Exception as e:  # noqa: BLE001 - any oracle error is a failure
            bad[q] = f"{type(e).__name__}: {e}"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # temporary files of this process and its children stay in the checkout
    os.environ["TMPDIR"] = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(
        BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    s = run_jvm(args, work, cores)

    attempted, failed = s["attempted"], s["failed"]
    failures = list(s["failures"])
    if args.workload == "query_suite":
        bad = duckdb_check(work, os.path.join(work, "input", "sf"),
                           {q: s["sums"].get(q, [-1])[0]
                            for q in s["executions"]})
        for q, (n, nfail) in s["executions"].items():
            attempted += 1
            if q in bad:
                failed += 1 + (n - nfail)
                failures.append(f"duckdb {q}: {bad[q]}")
    # inputs and intermediate tables are not kept; spans, the summary and
    # the JVM log are
    for d in ("input", "qout", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    report = {k: v for k, v in s.items() if k not in ("end_to_end", "per_layer")}
    report.update(failures=failures, attempted=attempted, failed=failed,
                  error_rate=failed / attempted, run_s=time.time() - t0,
                  spans=os.path.relpath(os.path.join(work, "spans.jsonl")))
    print(json.dumps(report))
    metrics = s["per_layer"] if args.trace else s["end_to_end"]
    print(json.dumps({"correct": failed == 0 and not failures,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
