#!/usr/bin/env python3
"""jq-path benchmark for graft: one seeded workload through `jq(...)` in Spark.

Run from the root of the repository:

    python3 jqbench/run.py --workload tiny_rows --seed 1 --seconds 5 --trace 0
    python3 jqbench/run.py --selftest

The first run builds `src/main/scala` and `jqbench/src` into
`jqbench/target/jqbench.jar` with sbt (`jqbench/build.sbt`), then runs the
benchmark's own specs (`jqbench.SelfTest`); a failing spec fails the run.
Later runs reuse the jar while it is newer than every source.

`--trace 0` (end to end) starts SETUP_JVMS fresh JVMs one after another.
Each generates the workload from the seed, starts a `local[nproc]` session,
registers graft and analyses the workload query (`setup_s`), times one
checked execution into the `noop` sink (`first_query_s`), then warms up for
1.6 x `--seconds` (3 x on nested_explode) and times warm executions for
`--seconds`. `rows_per_s` comes from the median of both JVMs' warm
executions, `alloc_bytes_per_row` from the JVM-wide thread allocation
counters during them. Every execution checks its outputs
against totals the generator computed; on `wide_docs` and `nested_explode`
a 200-row sample is also compared row by row with the `jq` binary.

`--trace 1` (per layer) runs one JVM: a one-thread replay of a fixed row
sample through each layer's entry point with a span per call, a parity
check against `JsonQueryGenerator.eval`, the tracing overhead, task counters
of five checked executions, and scan / Spark-builtin reference times.
Spans go to `jqbench/target/trace/<workload>.spans.tsv`.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "jqbench")
TARGET = os.path.join(BENCH, "target")
JAR = os.path.join(TARGET, "jqbench.jar")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")


def spark_home():
    """$SPARK_HOME, else the first `spark-submit` on PATH that sits in a
    Spark installation with a `jars` directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")

WORKLOADS = ("tiny_rows", "wide_docs", "nested_explode")
# setup_s and first_query_s are medians over this many fresh JVMs, and
# rows_per_s pools their warm executions, so that one JVM which runs slow
# (its JIT settled worse, or the machine was busy) does not set it alone
SETUP_JVMS = 2
# a measuring run, build excluded, must end within this many seconds
RUN_DEADLINE_S = 170

E2E_UNITS = {
    "setup_s": "s",
    "first_query_s": "s",
    "rows_per_s": "rows/s",
    "alloc_bytes_per_row": "B/row",
}

# per-layer metric -> unit, in report order; jqbench/METRICS.md says what each measures
LAYER_UNITS = {
    "jq.compile.us": "us",
    "operators.decode.ns_per_row": "ns/row",
    "jq.parse.ns_per_row": "ns/row",
    "jq.parse.ns_per_kb": "ns/KiB",
    "jq.parse.pruned_share": "ratio",
    "jq.parse.error_rows": "count",
    "jq.parse.error_ns_per_row": "ns/row",
    "jq.eval.ns_per_row": "ns/row",
    "jq.eval.outputs_per_row": "ratio",
    "operators.marshal.ns_per_output": "ns/output",
    "operators.generate.ns_per_row": "ns/row",
    "operators.generate.self_share": "ratio",
    "trace.replay_ns_per_row": "ns/row",
    "trace.overhead_share": "ratio",
    "trace.passes": "count",
    "trace.parity_rows": "count",
    "spark.query_s": "s",
    "spark.scan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s_p50": "s",
    "spark.task_s_p90": "s",
    "spark.task_samples": "count",
    "spark.cpu_share": "ratio",
    "spark.gc_s": "s",
    "ref.get_json_object_s": "s",
    "ref.from_json_s": "s",
}
# printed in the report but left out of the JSON result: properties of the
# input or of the tracer's own sampling, which no change to the program moves
REPORT_ONLY = {"trace.replay_ns_per_row", "trace.passes", "trace.parity_rows", "spark.task_samples"}

JAVA_OPTS = [
    # a fixed, pre-touched heap: first-touch page faults otherwise land in
    # the cold first execution and add to its spread
    "-Xms2g",
    "-Xmx2g",
    "-XX:+AlwaysPreTouch",
    "-Xss16m",
    "-XX:-UsePerfData",
    "-Djava.io.tmpdir=" + os.path.join("jqbench", "target", "tmp"),
    "-Dlog4j2.configurationFile=" + os.path.join("jqbench", "log4j2.properties"),
    "-Dspark.ui.enabled=false",
] + [
    arg
    for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar",
    )
    for arg in ("--add-opens", "java.base/%s=ALL-UNNAMED" % pkg)
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def newest_source():
    """Modification time of the newest file the jar is built from."""
    newest = os.path.getmtime(os.path.join(BENCH, "build.sbt"))
    for top in (PROGRAM_SOURCES, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            newest = max([newest] + [os.path.getmtime(os.path.join(d, f)) for f in files])
    return newest


def build():
    """Builds the program and the benchmark into one jar with sbt (see
    jqbench/build.sbt) unless the jar is newer than every source. A fresh
    jar must pass the benchmark's own specs (jqbench.SelfTest). Returns
    whether it built."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit("jqbench: no sources at %s: run from a full checkout" % PROGRAM_SOURCES)
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("jqbench: no Spark jars at '%s': set SPARK_HOME" % SPARK_JARS)
    if os.path.exists(JAR) and os.path.getmtime(JAR) > newest_source():
        return False
    log("jqbench: building %s with sbt" % os.path.relpath(JAR, ROOT))
    if os.path.exists(JAR):
        os.remove(JAR)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                          cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr, timeout=600)
    if done.returncode != 0 or not os.path.exists(JAR):
        raise SystemExit("jqbench: sbt build failed")
    if java("selftest", deadline=time.monotonic() + 120) != 0:
        os.remove(JAR)
        raise SystemExit("jqbench: selftest failed")
    return True


def java(*args, deadline, capture=False):
    """Runs jqbench.Main; returns its exit code, or its last stdout line when
    capturing. The JVM is killed if it is still running at `deadline`."""
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    cmd = (["java"] + JAVA_OPTS
           + ["-cp", os.pathsep.join([JAR, os.path.join(SPARK_JARS, "*")]), "jqbench.Main"]
           + list(args))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE if capture else sys.stderr)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("jqbench: JVM timed out: %s" % " ".join(args))
    if not capture:
        return proc.returncode
    if proc.returncode != 0:
        raise SystemExit("jqbench: JVM exited with %d: %s" % (proc.returncode, " ".join(args)))
    lines = out.decode().strip().splitlines()
    if not lines:
        raise SystemExit("jqbench: JVM printed nothing: %s" % " ".join(args))
    return json.loads(lines[-1])


def end_to_end(workload, seed, seconds, deadline):
    runs = []
    for i in range(SETUP_JVMS):
        runs.append(java("e2e", "--workload", workload, "--seed", str(seed),
                         "--warm-seconds", str(seconds),
                         "--sample-check", "1" if i == 0 and workload != "tiny_rows" else "0",
                         capture=True, deadline=deadline))
    main = runs[0]
    problems = [p for r in runs for p in r["problems"] + r["shape_problems"]]
    if not all(r["warm_s"] for r in runs):
        problems.append("no warm execution finished")
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    rows = main["rows"]
    warm = [t for r in runs for t in r["warm_s"]]
    metrics = {
        "setup_s": statistics.median(r["setup_s"] for r in runs),
        "first_query_s": statistics.median(r["first_query_s"] for r in runs),
        "rows_per_s": rows / statistics.median(warm) if warm else 0.0,
        "alloc_bytes_per_row": sum(r["alloc_bytes"] for r in runs) / (len(warm) * rows) if warm else 0.0,
    }
    shape = main["shape"]
    log("workload %s seed %d: %d rows, %.1f B/row, corrupt share %.4f, %.3f outputs/row, %d partitions"
        % (workload, seed, rows, shape["bytes_per_row"], shape["corrupt_share"],
           shape["outputs_per_row"], shape["partitions"]))
    log("  not in setup_s: input generation %.3f s, input file and view %.3f s (first JVM)"
        % (main["gen_s"], main["input_s"]))
    if main["sample_rows_checked"]:
        log("  sample check vs jq binary: %d rows, %s"
            % (main["sample_rows_checked"], "ok" if main["sample_ok"] else "MISMATCH"))
    log("  warm executions: %d in %d JVMs, median %.4f s"
        % (len(warm), len(runs), statistics.median(warm) if warm else 0.0))
    for name, unit in E2E_UNITS.items():
        log("  %-22s %14.6g %s" % (name, metrics[name], unit))
    log("  %-22s %14.6g ratio (%d of %d executions)"
        % ("failed_share", failed / attempted if attempted else 1.0, failed, attempted))
    for p in problems:
        log("  PROBLEM: " + p)
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()},
    }


def traced(workload, seed, seconds, deadline):
    r = java("trace", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
             capture=True, deadline=deadline)
    m = r["metrics"]
    missing = sorted(set(LAYER_UNITS) - set(m))
    problems = r["problems"] + r["shape_problems"] + ["missing metric " + k for k in missing]
    log("workload %s seed %d, traced: replay parity %s over %d rows, tracing overhead %.1f%%"
        % (workload, seed, "ok" if r["parity_ok"] else "FAILED", m.get("trace.parity_rows", 0),
           100 * m.get("trace.overhead_share", 0)))
    for name, unit in LAYER_UNITS.items():
        if name in m:
            samples = " (%d samples)" % m["spark.task_samples"] if name.startswith("spark.task_s_p") else ""
            log("  %-34s %14.6g %s%s" % (name, m[name], unit, samples))
    for p in problems:
        log("  PROBLEM: " + p)
    return {
        "correct": not problems and r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": m[k], "unit": u} for k, u in LAYER_UNITS.items()
                    if k in m and k not in REPORT_ONLY},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="build, run the specs and exit")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    os.makedirs(TARGET, exist_ok=True)
    if build() and a.selftest:
        return
    if a.selftest:
        sys.exit(java("selftest", deadline=time.monotonic() + RUN_DEADLINE_S))
    # the generated input files are shared by the JVMs of one run only
    data = os.path.join(TARGET, "data")
    shutil.rmtree(data, ignore_errors=True)
    try:
        result = (traced if a.trace else end_to_end)(a.workload, a.seed, a.seconds,
                                                      time.monotonic() + RUN_DEADLINE_S)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
