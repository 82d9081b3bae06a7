#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload gps_batch --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
benchmark's JVM side with sbt (offline), and keeps the classpath under
`.bench_build/`; later runs rebuild only when a source file changed. Each
run makes its input tables from `--seed`, runs the workload in a fresh JVM
(`perfbench.Main`), checks every execution's output against the DuckDB
oracle, and prints a readable report followed, as the last line, by one
JSON object: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. `--tables DIR` runs on existing tables instead of seeded
ones. See README.md for the workloads and metrics.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")

# Input size: the row and key counts of the repository's sf0.01 tables.
# The stream workloads take seconds per execution at any size (trigger and
# scheduling cost), so a larger input would not let every run of every
# workload fit the benchmark's time budget.
EVENTS, DEVICES, DOCUMENTS = 10_000, 150, 500

WORKLOADS = ["gps_batch", "gps_stream", "llm_online"]
# Columns `stream_stateful_merge` shares with the batch summary.
STREAM_COLUMNS = ["device", "hour", "n_fixes", "avg_lat", "avg_lon", "max_knots"]

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), HARNESS]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(f.encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build if a source changed since the last build; the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from a checkout")
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    tmp = os.path.join(STATE, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    # Temp files, the JVM's perf data and the engine build's scratch dir stay
    # inside the checkout. The temp dir is given relative to the build's
    # working directory: sbt puts a unix socket under it, and an absolute
    # path can exceed the 108 bytes a socket path may have.
    tmp = os.path.relpath(tmp, HARNESS)
    env = dict(os.environ, COURSIER_MODE="offline",
               SPARK_GRAFT_SCRATCH=os.path.join(STATE, "build-scratch"))
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cp = next((l for l in reversed(lines) if ".jar" in l and ":" in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def heap():
    """Half the machine's memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def jvm_args(workload, tables, run_dir, seconds, trace):
    return ["--workload", workload, "--tables", tables, "--run-dir", run_dir,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(len(os.sched_getaffinity(0)))]


def run_jvm(cp, args, run_dir, limit):
    """Runs `perfbench.Main`; its exit code, or None if it ran out of time.
    The JVM is told when it was launched, so its set-up time includes its
    own start."""
    scratch = os.path.join(run_dir, "scratch")
    for d in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        cmd += ["--launched-ms", str(time.time_ns() // 1_000_000)]
        p = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def load_record(run_dir):
    path = os.path.join(run_dir, "record.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def judge(rec, con, run_dir, workload):
    """Marks each execution `ok` or not. Returns the values read from the
    checked result and the reason the cold execution's result is wrong, or
    None."""
    result = os.path.join(run_dir, "result")
    wrong = rec.first["error"] and f"cold execution failed: {rec.first['error']}"
    try:
        wrong = wrong or check.check_result(con, result, rec.end["oracle"])
        if wrong is None and workload == "gps_stream":
            wrong = check.check_result(con, result, rec.end["batch_oracle"],
                                       STREAM_COLUMNS)
            wrong = wrong and f"stream differs from the batch summary: {wrong}"
    except duckdb.Error as e:
        wrong = f"oracle check failed: {e}"
    ref = (rec.first["rows"], rec.first["checksum"])
    for e in rec.execs:
        e["ok"] = e["error"] is None and (
            e["kind"].startswith("prefix.")
            or (wrong is None and (e["rows"], e["checksum"]) == ref))
    extra = {}
    if wrong is None and workload == "gps_batch":
        extra["gated_fixes"] = con.sql(
            f"SELECT sum(n_fixes) FROM read_parquet('{result}/*.parquet')"
        ).fetchone()[0]
    if wrong is None and workload == "llm_online":
        n = dict(con.sql(
            f"SELECT stage, n FROM read_parquet('{result}/*.parquet')").fetchall())
        extra["kept_ratio"] = metrics.ratio(n["3_near_kept"], n["1_ingested"])
    return extra, wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", help="existing table directory to use "
                    "instead of seeded tables")
    a = ap.parse_args()
    # A terminated run still stops its JVM and removes its directories.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    cp = classpath()
    t_start = time.time()
    run_dir = os.path.join(STATE, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        tables = a.tables and os.path.abspath(a.tables)
        if tables is None:
            tables = os.path.join(run_dir, "tables")
            os.makedirs(tables)
            gen.write_tables(tables, a.seed, EVENTS, DEVICES, DOCUMENTS)
        rc = run_jvm(cp, jvm_args(a.workload, tables, run_dir, a.seconds, a.trace),
                     run_dir, RUN_LIMIT_S - (time.time() - t_start))
        lines = load_record(run_dir)
        if rc != 0 or not any(r["k"] == "end" for r in lines):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                tail = f.read()[-4000:]
            fail(f"the run did not finish (exit {rc}):\n{tail}")
        rec = metrics.Run(lines)
        con = check.connect(tables, ["events", "documents"])
        extra, wrong = judge(rec, con, run_dir, a.workload)
        if not rec.passed("warm") or (a.trace and not rec.iterations()):
            fail(f"no warm or traced execution returned the oracle's result "
                 f"({wrong})")
        e2e = metrics.end_to_end(rec)
        values = metrics.per_layer(rec, extra) if a.trace else e2e
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(rec.execs)
    failed = sum(1 for e in rec.execs if not e["ok"])
    warm = [e["wall_s"] for e in rec.passed("warm")]
    q1, q3 = metrics.quartiles(warm)
    print(f"workload {a.workload} seed {a.seed}: {rec.input_rows} input rows, "
          f"{attempted} executions checked; warm_s is the median of "
          f"{len(warm)} passing, quartiles {q1:.4f} to {q3:.4f} s")
    if wrong:
        print(f"WRONG RESULT: {wrong}")
    for name, value in e2e.items():
        print(f"  {name:<18} {value:14.4f} {metrics.UNITS[name]}")
    print(f"  {'failed_frac':<18} {failed / attempted:14.4f} ratio")
    if a.trace:
        for name, value in values.items():
            print(f"  {name:<34} {value:16.4f} {metrics.UNITS[name]}")
    print(json.dumps({
        "correct": failed == 0 and wrong is None,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]}
                    for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
