#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark with sbt
(perfbench/build.sbt, which depends on the checkout's root project) and caches
the classpath under .bench_build/; later runs reuse it while the sources are
unchanged. The JVM side (perfbench.Main) generates the seed's inputs, times
the workload and writes result.json; this script then checks the SQL results
against DuckDB, prints the report and, as its last line, the result JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports BENCHMARK.json's end_to_end metrics, --trace 1 its per_layer
metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170          # one run must end within 180 s
FIRST_LIMIT_S = 880        # the first run in a checkout builds, within 900 s
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)]
    files += [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(deadline):
    """Build with sbt when the sources changed; return the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        cached = json.load(open(cp_file))
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True,
                           timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def load_spark_result(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def oracle_problems(items):
    """Compare each query's result with its DuckDB oracle; same rules as
    tools/check_oracle.py (columns sorted by name, exact row count, value
    equality with NULL == NULL). Returns {query: problem}."""
    import duckdb
    import pandas as pd
    problems, cons = {}, {}
    for it in items:
        con = cons.get(it["input"])
        if con is None:
            con = cons[it["input"]] = duckdb.connect()
            for t in TABLES:
                p = os.path.join(it["input"], t + ".parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        name = it["query"]
        got = load_spark_result(it["result"])
        if got is None:
            problems[name] = "no result written"
            continue
        try:
            want = con.execute(it["sql"]).fetchdf()
        except Exception as e:  # the oracle itself failed: report, not mask
            problems[name] = f"oracle error: {e}"
            continue
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            problems[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            problems[name] = f"rows {len(got)} vs {len(want)}"
        else:
            for c in got.columns:
                g, w = got[c], want[c]
                both_na = pd.isna(g).values & pd.isna(w).values
                eq = pd.Series((g.astype(object) == w.astype(object)).values | both_na)
                if not eq.all():
                    bad = int((~eq).idxmax())
                    problems[name] = f"{c} row {bad}: {g.iloc[bad]!r} vs {w.iloc[bad]!r}"
                    break
    return problems


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench) or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (BENCHMARK.json and src/main/scala/graft)")
    spec = json.load(open(bench))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    first_build = not os.path.exists(os.path.join(BUILD, "classpath.txt"))
    end = t_start + (FIRST_LIMIT_S if first_build else RUN_LIMIT_S)
    cp = classpath(end - 60)
    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=max(10, end - time.time()))
    except subprocess.TimeoutExpired:   # subprocess.run kills and reaps the JVM
        die("benchmark JVM timed out")
    if p.returncode != 0:
        die(f"benchmark JVM exited with {p.returncode}")
    res = json.load(open(os.path.join(work, "result.json")))

    t_oracle = time.time()
    wrong = oracle_problems(res["oracle"])
    t_oracle = time.time() - t_oracle
    failures = [(f["op"], f["error"], f["known"]) for f in res["failures"]]
    failures += [(q, "wrong result: " + why, False) for q, why in sorted(wrong.items())]
    bad_checks = [c for c in res["checks"] if not c["ok"]]
    # the JVM side is incorrect on any failed check or any failure that is
    # not a known defect; a DuckDB mismatch makes the run incorrect too
    correct = res["correct"] and not wrong
    attempted, failed = int(res["attempted"]), len(failures)

    for line in res["report"]:
        print(line)
    print(f"oracle: {len(res['oracle']) - len(wrong)}/{len(res['oracle'])} results match DuckDB; "
          f"planted checks: {sum(1 for c in res['checks'] if c['ok'])}/{len(res['checks'])} hold; "
          f"oracle {t_oracle:.1f} s, whole run {time.time() - t_start:.1f} s")
    for c in bad_checks:
        print(f"CHECK FAILED {c['name']}: {c['detail']}")
    print(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} operations)")
    for op, err, known in failures:
        print(f"FAILED {op}{' (known defect)' if known else ''}: {err}")
    for k, v in res["metrics"].items():
        print(f"metric {k} = {v['value']} {v['unit']}")
    traces = glob.glob(os.path.join(work, "trace-*.json"))
    if traces:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        for t in traces:
            shutil.copy(t, os.path.join(BUILD, "traces"))
            print("spans written to " + os.path.relpath(os.path.join(BUILD, "traces", os.path.basename(t)), ROOT))
    shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            die(f"workload {a.workload} did not report {m['name']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
