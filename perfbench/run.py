#!/usr/bin/env python3
"""Benchmark of the graft engine: the query sweep and the checkpointed
migration, end to end (--trace 0) and layer by layer (--trace 1).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); every run then
generates its inputs from the seed (gen.py), runs one JVM
(perfbench.Main), checks the outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. Failed operations are
named on stderr. See perfbench/README.md for workloads and metrics.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys

# The oracle check imports tools/check_oracle.py; leave no bytecode beside it.
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime.classpath")
STAMP = os.path.join(TARGET, "build.stamp")

WORKLOADS = ("query_sweep", "migrate_parquet", "migrate_jdbc")
# Source rows of the generated `files` table per migration workload, sized
# from the measured rates (parquet about 80k rows/s, Derby 12-16k rows/s on
# 4 cores) so that one run holds several migrations.
FILES_ROWS = {"migrate_parquet": 200_000, "migrate_jdbc": 25_000}
END_TO_END = ("setup_s", "op_p50_ms", "round_s", "round_cpu_s")

JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
    *[arg for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ) for arg in ("--add-opens", f"{p}=ALL-UNNAMED")],
]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def unit(name):
    for suffix, u in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                      ("_frac", "ratio"), ("_skew", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def sources_stamp():
    """Size and mtime of every file the build reads."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def generate(workload, seed, inputs):
    gen = os.path.join(HERE, "gen.py")
    if workload == "query_sweep":
        args = ["query", str(seed), inputs]
    else:
        args = ["files", str(seed), os.path.join(inputs, "files"), str(FILES_ROWS[workload])]
    subprocess.run([sys.executable, gen, *args], check=True, timeout=120)


def run_jvm(args, work):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-cp", cp, "perfbench.Main", *args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("harness timed out")
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        sys.exit(f"harness exited with {code}")


def oracle_failures(inputs, results):
    """Each query result against its DuckDB oracle, by the hash protocol of
    tools/check_oracle.py (row count, column names, value hash over
    name-sorted columns). A query without an oracle must return rows: the
    generated documents hold planted near-duplicates."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = []
    for rd in sorted(d for d in glob.glob(f"{results}/*") if os.path.isdir(d)):
        name = os.path.basename(rd)
        got = con.sql(f"SELECT * FROM '{rd}/*.parquet'")
        grows, gcols = got.fetchall(), got.columns
        if name not in oracles:
            if not grows:
                failures.append(f"{name}: no rows and no oracle")
            continue
        try:
            exp = con.sql(oracles[name])
            erows, ecols = exp.fetchall(), exp.columns
        except Exception as e:  # an oracle that cannot run is a failure too
            failures.append(f"{name}: oracle SQL error: {e}")
            continue
        if sorted(gcols) != sorted(ecols):
            failures.append(f"{name}: columns differ")
        elif len(grows) != len(erows):
            failures.append(f"{name}: {len(grows)} rows, oracle {len(erows)}")
        elif co.table_hash(grows, gcols) != co.table_hash(erows, ecols):
            failures.append(f"{name}: value hash differs from oracle")
    return failures


def keep_traces(work, dest):
    """The traced run's span and per-query layer records outlive its work
    directory."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for f in glob.glob(os.path.join(work, "*.jsonl")):
        shutil.copy(f, dest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("engine sources (src/main/scala/graft) not found: run from a checkout root")
    build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        generate(a.workload, a.seed, inputs)
        out = os.path.join(work, "outcome.json")
        run_jvm(["--workload", a.workload, "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--inputs", inputs, "--work", work,
                 "--out", out], work)
        with open(out) as f:
            outcome = json.load(f)
        failures = list(outcome["failures"])
        if a.workload == "query_sweep":
            failures += oracle_failures(inputs, os.path.join(work, "results"))
        for line in failures:
            print(f"FAILED {line}", file=sys.stderr)
        metrics = outcome["metrics"]
        missing = [m for m in END_TO_END if a.trace == 0 and m not in metrics]
        if missing:
            sys.exit(f"harness did not report {missing}")
        print(json.dumps({
            "correct": not failures,
            "attempted": outcome["attempted"],
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
        }))
        if a.trace:
            keep_traces(work, os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}"))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
