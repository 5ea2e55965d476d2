#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the harness and the
engine sources with sbt (perfbench/build.sbt); later calls reuse the build.
The JVM (perfbench.Main) makes the inputs from the seed, runs a cold
warm-up job, times the warm runs and checks every run's outputs; for
corpus_prep this script then compares one query's output, chosen by the
seed, with its DuckDB twin. A copy of each result,
with host load at start and end, is kept under .bench_results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
BUILT = os.path.join(HERE, "target", "perfbench.built")
WORKLOADS = ("snapshot_sensors", "snapshot_ml6", "corpus_prep")
JVM_TIMEOUT_S = 160

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)", 2)
    return home


def cpu_ticks():
    """Aggregate /proc/stat CPU counters (user .. steal); empty elsewhere."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def newest_source():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        for d, _, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile once per checkout, and again whenever a source is newer."""
    if os.path.exists(BUILT) and os.path.getmtime(BUILT) >= newest_source():
        return
    env = dict(os.environ, SPARK_HOME=spark_jars(), COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.server.forcestart=false",
           "-Dsbt.global.base=" + os.path.join(ROOT, ".bench_build", "sbt-global"),
           "compile"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0 or not os.path.isdir(os.path.join(CLASSES, "perfbench")):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    with open(BUILT, "w") as f:
        f.write(f"{time.time() - t0:.1f}\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def canon(df):
    """tools/check_oracle.py's canonical form: sorted columns, 6-dp floats,
    stringified objects/timestamps, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(expected, got):
    """tools/check_oracle.py's per-query verdict; None when equal."""
    import pandas as pd
    e, g = canon(expected), canon(got)
    if list(e.columns) != list(g.columns):
        return f"columns differ: oracle={list(e.columns)} spark={list(g.columns)}"
    if len(e) != len(g):
        return f"row counts differ: oracle={len(e)} spark={len(g)}"
    for c in e.columns:
        if str(e[c].dtype) != str(g[c].dtype):
            return f"{c}: dtype oracle={e[c].dtype} spark={g[c].dtype}"
        if "float" in str(e[c].dtype):
            a, b = e[c].to_numpy(), g[c].to_numpy()
            neq = ~((a == b) | (pd.isna(a) & pd.isna(b)))
        else:
            neq = ~((e[c] == g[c]) | (e[c].isna() & g[c].isna()))
        if neq.any():
            i = int(neq.argmax())
            return f"{c}[row {i}]: oracle={e[c].iloc[i]!r} spark={g[c].iloc[i]!r}"
    return None


def oracle_check(work):
    """Compare the corpus outputs the JVM wrote with their DuckDB twins."""
    import duckdb
    import pandas as pd
    out = os.path.join(work, "oracle")
    docs = os.path.join(work, "input2", "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    problems = []
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    for name, sql in sorted(sqls.items()):
        try:
            why = compare(con.sql(sql).df(),
                          pd.read_parquet(os.path.join(out, name)))
        except Exception as e:  # an oracle or read error is a failed check
            why = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        if why:
            problems.append(f"{name}: {why}")
    con.close()
    return problems


def trace_overhead(results, workload, seed, traced_wall):
    """Traced wall over the median untraced wall_s kept in .bench_results
    (same seed if any, else every seed), minus 1; 0.0 when no untraced
    run of this workload has been kept yet."""
    same, every = [], []
    for name in os.listdir(results):
        if name.startswith(workload + "-s") and "-t0-" in name and name.endswith(".json"):
            with open(os.path.join(results, name)) as f:
                r = json.load(f)
            if "host" in r and r["failed"] == 0:
                every.append(r["metrics"]["wall_s"]["value"])
                if name.startswith(f"{workload}-s{seed}-"):
                    same.append(r["metrics"]["wall_s"]["value"])
    walls = sorted(same or every)
    if not walls:
        print("perfbench: no untraced run kept yet; trace_overhead_frac is 0",
              file=sys.stderr)
        return 0.0
    mid = len(walls) // 2
    median = walls[mid] if len(walls) % 2 else (walls[mid - 1] + walls[mid]) / 2
    return traced_wall / median - 1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/", 2)
    nproc = os.cpu_count()
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    build()

    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    stem = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}"
    result = os.path.join(results, stem + ".json")
    log = os.path.join(results, stem + ".log")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            # C1 only: C2's compiler threads otherwise take about 2.5 of the
            # 4 cores through a cold job and still slow the warm ones
            "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "jars", "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--result", result, "--reference",
            os.path.join(results, f"reference-{a.workload}-s{a.seed}.tsv")])
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
            # a stopped benchmark stops its JVM too
            signal.signal(signal.SIGTERM, lambda *_: (p.kill(), p.wait(), sys.exit(143)))
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"JVM exceeded {JVM_TIMEOUT_S} s; log: {log}", 4)
        if rc != 0 or not os.path.exists(result):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            fail(f"JVM exited {rc}; log: {log}", 5)
        with open(result) as f:
            r = json.load(f)
        if a.workload == "corpus_prep":
            bad = oracle_check(work)
            r["attempted"] += 1
            r["failed"] += 1 if bad else 0
            r["problems"] += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        r["metrics"]["trace_overhead_frac"] = {
            "value": trace_overhead(results, a.workload, a.seed, r["first_wall_s"]),
            "unit": "fraction"}
    load_end, ticks_end = os.getloadavg(), cpu_ticks()
    busy = [end - start for start, end in zip(ticks_start, ticks_end)]
    # steal: time the hypervisor gave this VM's CPUs to someone else
    steal = busy[7] / sum(busy) if len(busy) > 7 and sum(busy) else 0.0
    r["host"] = {"nproc": nproc, "load1_start": load_start[0],
                 "load1_end": load_end[0],
                 "load_per_core_start": load_start[0] / nproc,
                 "load_per_core_end": load_end[0] / nproc,
                 "steal_frac": steal}
    with open(result, "w") as f:
        json.dump(r, f, indent=1)
    for prob in r["problems"]:
        print(f"perfbench: FAILED CHECK {prob}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed={a.seed} failure_rate="
          f"{r['failed'] / r['attempted']:.3f} ({r['failed']}/{r['attempted']} runs)"
          f" load/nproc {load_start[0]:.2f}/{nproc} -> {load_end[0]:.2f}/{nproc}"
          f" steal {steal:.1%}",
          file=sys.stderr)
    for k, v in r["metrics"].items():
        print(f"perfbench:   {k:<44} {v['value']:>14.4f} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))


if __name__ == "__main__":
    main()
