"""Seeded, output-checked benchmark of the extraction engine.

    python3 perfbench/run.py --workload run_mix|curation_ops \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness from
source (perfbench/build.py), runs one workload in one JVM at local[nproc]
(perfbench.Main), checks curation query results against their DuckDB
oracles, and prints:

  * a `# host` line: nproc, loadavg at start and end, heap, commit, seed;
  * a `# summary` line: every end-to-end figure by name and unit, with
    fail_frac, out_bytes_per_in_byte, sample counts and input size;
  * as the last line, one JSON object {correct, attempted, failed, metrics}:
    the end-to-end metrics with --trace 0, the per-layer metrics with
    --trace 1 (see perfbench/README.md for what each one measures).

Each run's record is also appended to .bench_build/perfbench/runs.jsonl.
Exits non-zero, without a result line, if the build, the run or the
oracle check cannot be completed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("run_mix", "curation_ops")
# A run must end within RUN_FIXED_S + RUN_PER_SECOND * --seconds of its
# start (a first run that also compiles gets the compile time on top): the
# fixed part covers JVM start, set-ups, warm-up, the checks and, in a traced
# run, its minimum of six iterations and the lib walk; the timed loop runs
# for --seconds plus the iteration in progress at its deadline.
RUN_FIXED_S = 140
RUN_PER_SECOND = 2
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, work, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # fixed heap + parallel collector: with G1 the resident-set high-water
    # mark of the same run varied by +-15%; no perf-data file in the system temp directory
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"the run did not finish in time; log in {log}")
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"perfbench.Main exited with {code}:\n{tail}")


def oracle_check(oracle):
    """Compares each query's first-pass result with its oracle SQL run by
    DuckDB over the same generated documents table. Returns (checked, failures)."""
    if not oracle:
        return 0, []
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{oracle['documents']}/*.parquet')")

    def rows(rel):
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return [c for c in sorted(cols)], sorted(str(tuple(r[i] for i in order)) for r in rel.fetchall())

    failures = []
    expected = {}  # x14 and x37 share one oracle
    for q in oracle["queries"]:
        if q["sql"] not in expected:
            expected[q["sql"]] = rows(con.sql(q["sql"]))
        exp_cols, exp = expected[q["sql"]]
        got_cols, got = rows(con.sql(f"SELECT * FROM read_parquet('{q['result']}/*.parquet')"))
        if exp_cols != got_cols or exp != got:
            failures.append(f"{q['name']}: result differs from its DuckDB oracle "
                            f"({len(got)} rows, oracle {len(exp)})")
    return len(oracle["queries"]), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classes, digest = build.build()
    start = time.time()
    base = os.path.join(build.BUILD, "work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--root", ROOT, "--work", work, "--out", result_file],
            work, start + RUN_FIXED_S + RUN_PER_SECOND * a.seconds)
    with open(result_file) as f:
        r = json.load(f)

    jvm_s = time.time() - start
    checked, oracle_failures = oracle_check(r.get("oracle"))
    oracle_s = time.time() - start - jvm_s
    attempted = r["attempted"] + checked
    failed = r["failed"] + len(oracle_failures)
    failures = r["failures"] + oracle_failures
    host = dict(r["host"], commit=commit(), source_sha1=digest, seed=a.seed,
                workload=a.workload, trace=a.trace, heap=HEAP)
    info = r["info"]
    info["fail_frac"] = failed / attempted
    info["jvm_s"] = round(jvm_s, 2)
    info["oracle_s"] = round(oracle_s, 2)
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "metrics": {k: f"{v['value']:.6g} {v['unit']}" for k, v in r["metrics"].items()},
               **info}
    final = {"correct": failed == 0 and r["correct"], "attempted": attempted, "failed": failed,
             "metrics": r["metrics"]}

    with open(os.path.join(build.BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"host": host, "summary": summary, "failures": failures, "result": final}) + "\n")
    if a.trace == 0:  # a traced run keeps its spans file
        shutil.rmtree(work, ignore_errors=True)
    print("# host " + json.dumps(host))
    print("# summary " + json.dumps(summary))
    for msg in failures:
        print("# failure " + msg)
    print(json.dumps(final))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        sys.exit(f"perfbench: {e}")
