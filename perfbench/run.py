#!/usr/bin/env python3
"""perfbench: the benchmark of record for the archive sink and the operator suite.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload archive --seed 1 --seconds 10 --trace 0

Compiles `src/main/scala` and `perfbench/src` with the Scala compiler that
ships in Spark's jars (into `.bench_build/`, reused while the sources are
unchanged), runs one workload in a fresh JVM with `local[nproc]`, checks
the outputs, and prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": 120, "failed": 0, "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
and writes the run's spans to `.bench_build/traces/`. Every input is
generated from `--seed` (perfbench/inputs.py) inside a per-run directory
under `.bench_run/`, which is deleted when the run ends. Workloads, metrics
and bounds are listed in BENCHMARK.json; perfbench/README.md explains them.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402

DEADLINE_S = 165  # a run must end within 180 s; the build is timed separately
BUILD_DIR = ".bench_build"
RUN_ROOT = ".bench_run"
MAIN_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")

# Scale factor of the generated tables, per workload (0.1 = 600k lineitem rows).
SCALE = {"archive": 0.005, "ops": 0.01}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the project builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    jars = None
    if os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else None
    if jars is None and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark jars with a Scala compiler: run from the root of a checkout or set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    files = []
    for top in (MAIN_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compiles the program and the benchmark; returns the classes directory."""
    if not os.path.isdir(MAIN_SRC) or not os.path.isdir(BENCH_SRC):
        die(f"run from the root of a checkout: {MAIN_SRC} and {BENCH_SRC} are required")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = f"{out}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        t = time.monotonic()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
             "-d", tmp, "-cp", jars, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            die("build failed")
        os.remove(argfile)
        os.rename(tmp, out)
        print(f"perfbench: built {len(files)} sources in {time.monotonic() - t:.1f} s", file=sys.stderr)
        return out


def oracle_failures(result):
    """Row count of every op entry against its DuckDB oracle over the same inputs."""
    import duckdb

    con = duckdb.connect()
    data = result["data_dir"]
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}/*.parquet')")
    failed, notes = 0, []
    for o in result["oracles"]:
        if o["sql"] is None:
            continue
        want = con.execute(f"SELECT count(*) FROM ({o['sql'].strip().rstrip(';')})").fetchone()[0]
        if want != o["rows"]:
            failed += o["items"]
            notes.append(f"{o['name']}: {o['rows']} rows, oracle has {want}")
    return failed, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor (smoke test)")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    start = time.monotonic()
    run_dir = os.path.abspath(os.path.join(RUN_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    traces = os.path.join(BUILD_DIR, "traces")
    os.makedirs(traces, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    inputs_path = os.path.join(run_dir, "inputs.json")
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xss8m",
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/derby",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{jars}", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir, "--inputs", inputs_path,
        "--result", result_path,
        "--spans", os.path.abspath(os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")),
    ]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True, env=env)
            timer = threading.Timer(max(1.0, DEADLINE_S - (time.monotonic() - start)),
                                    lambda: os.killpg(proc.pid, signal.SIGKILL))
            timer.start()
            # inputs are generated while the JVM starts; it waits for inputs.json
            rows = inputs.generate(os.path.join(run_dir, "data"), a.seed,
                                   a.sf if a.sf is not None else SCALE[a.workload])
            with open(inputs_path + ".tmp", "w") as fh:
                json.dump(rows, fh)
            os.rename(inputs_path + ".tmp", inputs_path)
            for line in proc.stdout:
                print(line.rstrip("\n"), flush=True)
            proc.wait()
            timer.cancel()
        if proc.returncode == -signal.SIGKILL:
            die("timed out")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(f"benchmark JVM exited with {proc.returncode}")
        with open(result_path) as fh:
            result = json.load(fh)
        failed, notes = oracle_failures(result)
        for n in notes:
            print(f"perfbench: FAILED {n}")
        failed = min(result["attempted"], result["failed_items"] + failed)
        attempted = result["attempted"]
        print(f"perfbench: failed_ratio {failed / attempted:.4f} ({failed}/{attempted})")
        print(json.dumps({"correct": failed == 0 and not result["failures"], "attempted": attempted,
                          "failed": failed, "metrics": result["metrics"]}))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
