#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <ingest|query-mix> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the repository's sources together with the benchmark harness
(perfbench/build.sbt, first run only), generates the workload's inputs
from the seed, runs the workload in one JVM on local[<cores>] with one
closed-loop client for --seconds, checks every output, and prints each
metric as `metric <name> <value> <unit>`, an `env` line, and, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the same
workload with a Spark listener and per-layer probes and reports the
per-layer metrics instead. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402

WORKLOADS = ["ingest", "query-mix"]
# Query inputs: the scale factor and data seed the goldens were recorded
# at. The workload seed orders the queries; it does not change the data.
SCALE = 0.01
DATA_SEED = 42
FIXTURE_REPS = 3
DEADLINE_S = 170
BUILD_S = 700
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def run_group(cmd, deadline, **kw):
    """Runs `cmd` in a process group of its own and returns its exit code,
    or None when `deadline` passed. Whatever is left of the group is killed
    and waited for either way."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    return rc


def source_stamp():
    """Newest mtime and file count over everything the build compiles."""
    newest, count = 0.0, 0
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else [
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        for p in paths:
            newest = max(newest, os.path.getmtime(p))
            count += 1
    return f"{newest}:{count}"


def build(deadline):
    """Compiles with sbt when the sources changed since the last build and
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        raise BenchError(f"no repository sources at {REPO}/src/main/scala")
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    # every JVM the sbt launcher starts: no perf-data file in /tmp
    env = dict(os.environ, SPARK_HOME=spark_home(), JAVA_TOOL_OPTIONS=" ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])))
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile)")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    build_log = os.path.join(HERE, "target", "perfbench-build.log")
    with open(build_log, "w") as logf:
        # no sbt server, and sbt's temporary files inside the checkout
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                        f"-Djna.tmpdir={tmp}",
                        "compile", "export Runtime/fullClasspath"],
                       deadline, cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT)
    with open(build_log) as f:
        output = f.read()
    if rc != 0:
        sys.stderr.write(output[-6000:])
        raise BenchError("sbt build timed out" if rc is None else "sbt build failed")
    cp = [l for l in output.splitlines() if "perfbench" in l
          and "classes" in l and not l.startswith("[")]
    if not cp:
        raise BenchError("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp[-1])
    return cp[-1]


def make_fixtures(workload, work):
    """Generates the query workloads' tables FIXTURE_REPS times and returns
    (directory, median seconds). The ingest workload's input comes from
    the program's own source connector; its sink is created in the JVM."""
    if workload == "ingest":
        return os.path.join(work, "fixtures"), 0.0
    import fixtures
    times = []
    for i in range(FIXTURE_REPS):
        d = os.path.join(work, f"fixtures{i}")
        t0 = time.perf_counter()
        fixtures.write(d, SCALE, DATA_SEED)
        times.append(time.perf_counter() - t0)
    return d, statistics.median(times)


def java_cmd(cp, work):
    """The JVM command line: Spark's module opens, the heap, UTC, and
    temporary files kept inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData", "-cp", cp]


def run_jvm(cp, workload, seed, seconds, trace, fixture_dir, fixture_s, work, deadline):
    out = os.path.join(work, "records.jsonl")
    cmd = java_cmd(cp, work) + ["perfbench.Main", workload, str(seed), str(seconds),
                                str(trace), fixture_dir, work, str(fixture_s), out]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as logf:
        rc = run_group(cmd, deadline, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise BenchError("benchmark JVM timed out" if rc is None else f"benchmark JVM exited {rc}")
    with open(out) as f:
        return analyze.parse_records(f)


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args(argv)
    deadline = time.time() + DEADLINE_S
    load_start = loadavg()
    # the first run in a checkout builds: at most BUILD_S, then the run
    # itself gets its own 150 s
    cp = build(time.time() + BUILD_S)
    deadline = max(deadline, time.time() + 150)
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)["hashes"]
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fixture_dir, fixture_s = make_fixtures(args.workload, work)
        records = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                          fixture_dir, fixture_s, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    nproc = os.cpu_count()
    attempted, failed, problems = analyze.correctness(records, goldens)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    if args.trace:
        index = analyze.module_index(os.path.join(REPO, "src", "main", "scala"))
        metrics = analyze.per_layer(records, args.workload, index, nproc)
        facts = {}
    else:
        metrics, facts = analyze.end_to_end(records, args.workload)
    for name, (value, unit) in metrics.items():
        print(f"metric {name} {value} {unit}")
    load_end = loadavg()
    setup = next(r for r in records if r["t"] == "setup")
    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": nproc, "loadavg_start": load_start,
           "loadavg_end": load_end, "jvm": setup["jvm"], "spark": setup["spark"],
           "commit": git_commit(), "ops_failed_frac": failed / max(1, attempted),
           "loaded": float(load_start[0]) > nproc, **facts}
    if env["loaded"]:
        log(f"WARNING: the load average exceeded {nproc} cores when the run started")
    print("env " + json.dumps(env))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
