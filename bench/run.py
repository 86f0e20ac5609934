#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
  python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: reindex_bulk, reindex_resume, analytics_mix (see bench/README.md).

The first run in a checkout builds the engine and the benchmark from
source with sbt into .bench_build/; later runs reuse the build while
the sources are unchanged. The JVM prints the metrics; for
analytics_mix this script then compares every query result with the
DuckDB oracle and folds mismatches into `failed`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["reindex_bulk", "reindex_resume", "analytics_mix"]
ANALYTICS_SF = 0.002
ANALYTICS_DATA_SEED = 42
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: sources, resources and build definition."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile with sbt unless the sources match the last build; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources (src/main/scala) next to the benchmark; nothing to build")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "sbt-target" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed (see .bench_build/build.log)")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def analytics_data():
    """The analytics tables, generated once per scale, data seed and
    generator version; the oracle cache lives beside them."""
    gen = os.path.join(HERE, "gen_tables.py")
    with open(gen, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"analytics-sf{ANALYTICS_SF}-seed{ANALYTICS_DATA_SEED}-{version}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, gen, d,
                        "--sf", str(ANALYTICS_SF), "--seed", str(ANALYTICS_DATA_SEED)], check=True)
        open(os.path.join(d, "done"), "w").close()
    return d


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main", *args]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)

        def stop(signum, _frame):  # never leave the JVM behind
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die("the workload ran past its time limit", 1)
    if p.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"the workload exited with code {p.returncode}", 1)
    return [l for l in out.splitlines() if l.startswith("{")]


def oracle_result(con, data_dir, sql):
    """The oracle's result for `sql`, computed by DuckDB once per data set
    and query text, then read back from a cache beside the data."""
    import pandas as pd
    cache = os.path.join(data_dir, "oracle", hashlib.sha256(sql.encode()).hexdigest() + ".parquet")
    if os.path.exists(cache):
        return pd.read_parquet(cache)
    df = con.sql(sql).df()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    df.to_parquet(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return pd.read_parquet(cache)


def oracle_mismatches(data_dir, out_dir):
    """Queries whose Spark result differs from the DuckDB oracle's, by
    the program's own comparator (tools/compare.py)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare import TABLES, canon, values_equal
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            exp = canon(oracle_result(con, data_dir, sql))
            got = canon(pd.read_parquet(os.path.join(out_dir, name)))
        except Exception as e:  # a missing result or an oracle error is a mismatch
            print(f"bench: {name}: {e}", file=sys.stderr)
            bad.append(name)
            continue
        if list(exp.columns) != list(got.columns) or len(exp) != len(got) or any(
                not values_equal(x, y) for c in exp.columns for x, y in zip(exp[c].tolist(), got[c].tolist())):
            print(f"bench: {name}: result differs from the oracle", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    data = None
    if a.workload == "analytics_mix":
        data = analytics_data()
        args += ["--data", data]
    lines = run_jvm(cp, args, work, deadline)
    if not lines:
        die("the workload printed no result", 1)
    result = json.loads(lines[-1])
    if data is not None:
        bad = oracle_mismatches(data, os.path.join(work, "oracle"))
        result["failed"] += len(bad)
        result["correct"] = result["correct"] and not bad
    for l in lines[:-1]:
        print(l)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
