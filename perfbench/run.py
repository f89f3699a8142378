"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ship|search --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds graft and the benchmark from source
(see build.py), runs the workload in one JVM against generated inputs under a
temporary directory inside ``.bench_build/``, removes that directory, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics; the spans of a traced run are kept in
``.bench_build/traces/``. Exits non-zero, printing no result, if the build,
the run or the result's shape fails. See README.md for the workloads.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ship", "search")
# the JVM's limit; a first run also compiles before it starts
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def java_cmd(classpath, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # serial GC and small memory pages: pay-as-you-go paging, as the
    # program's own build settings do
    # no perf-data file: the JVM would write it outside the checkout
    return (["java"] + opens +
            ["-Xms256m", "-Xmx3g", "-XX:+UseSerialGC", "-XX:-UsePerfData",
             "-Dspark.buffer.pageSize=4m", "-Djava.io.tmpdir=" + tmp,
             "-cp", classpath, main] + args)


def expected_metrics(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def validate(result, expected):
    """The result's shape: the contract's keys and exactly the expected metrics."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return "result keys are " + ", ".join(sorted(result))
    if not isinstance(result["correct"], bool):
        return "correct is not a boolean"
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or isinstance(result[k], bool) or result[k] < 0:
            return k + " is not a whole number"
    if result["attempted"] < 1:
        return "attempted is below 1"
    got = {n: m.get("unit") for n, m in result["metrics"].items()}
    if got != expected:
        missing = sorted(set(expected) - set(got))
        extra = sorted(set(got) - set(expected))
        wrong = sorted(n for n in set(got) & set(expected) if got[n] != expected[n])
        return "metrics differ from BENCHMARK.json: missing %s, extra %s, unit %s" % (
            missing, extra, wrong)
    for n, m in result["metrics"].items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            return "metric %s has value %r" % (n, v)
    return None


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if not 1 <= a.seconds <= 60:
        fail("--seconds must be 1..60", 2)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "BENCHMARK.json")):
        fail("run from the repository root (no BENCHMARK.json here)", 2)
    try:
        expected = expected_metrics(root, a.trace == 1)
        classpath = build.build(root)
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        fail("build failed: %s" % e, 3)

    base = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(base, "run-%d-%d" % (os.getpid(), int(time.time() * 1000)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.trace:
        args += ["--trace-out", os.path.join(
            base, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))]
    proc = None

    def stop(*_):
        raise SystemExit(130)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        # Spark's scratch space stays in the run directory
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(java_cmd(classpath, "graftbench.Main", args, tmp),
                                cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("the run exceeded %d s" % RUN_LIMIT_S, 4)
        if proc.returncode != 0:
            fail("the benchmark JVM exited with %d" % proc.returncode, 5)
        lines = [l for l in out.splitlines() if l.strip()]
        if not lines:
            fail("the benchmark JVM printed no result", 5)
        try:
            result = json.loads(lines[-1])
        except ValueError:
            fail("the last output line is not JSON: " + lines[-1][:200], 5)
        problem = validate(result, expected)
        if problem:
            fail(problem, 6)
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
