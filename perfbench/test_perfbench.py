"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py            # fast checks
    PERFBENCH_SLOW=1 python3 -m unittest perfbench/test_perfbench.py

Run from the repository root. The fast checks build the benchmark (see
build.py) and then check that fixtures are a pure function of the seed, that
the metric table matches BENCHMARK.json and that spans nest. The slow checks
run every workload briefly, untraced and traced, and check the printed
result against BENCHMARK.json and the written spans for nesting.
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def classpath():
    if not hasattr(classpath, "cp"):
        classpath.cp = build.build(ROOT)
    return classpath.cp


def java(*args):
    return subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", classpath()] + list(args),
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class FixtureTest(unittest.TestCase):
    def fixtures(self, seed):
        classpath()
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, build.BUILD_DIR))
        try:
            res = java("graftbench.SelfTest", "fixtures", str(seed), d)
            self.assertEqual(res.returncode, 0, res.stderr)
            self.assertGreaterEqual(len(os.listdir(d)), 7)
            return tree_digest(d)
        finally:
            shutil.rmtree(d)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.fixtures(11), self.fixtures(11))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.fixtures(11), self.fixtures(12))


class MetricTableTest(unittest.TestCase):
    def test_table_matches_benchmark_json(self):
        res = java("graftbench.Main", "--list-metrics")
        self.assertEqual(res.returncode, 0, res.stderr)
        table = {"end_to_end": {}, "per_layer": {}}
        for line in res.stdout.splitlines():
            kind, name, unit = line.split()
            table[kind][name] = unit
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for kind in table:
            self.assertEqual(table[kind], {m["name"]: m["unit"] for m in spec[kind]}, kind)

    def test_validate_rejects_a_wrong_unit(self):
        expected = {"setup_s": "s"}
        ok = {"correct": True, "attempted": 1, "failed": 0,
              "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}
        self.assertIsNone(run.validate(ok, expected))
        bad = json.loads(json.dumps(ok))
        bad["metrics"]["setup_s"]["unit"] = "ms"
        self.assertIsNotNone(run.validate(bad, expected))
        bad = json.loads(json.dumps(ok))
        del bad["metrics"]["setup_s"]
        self.assertIsNotNone(run.validate(bad, expected))


class SpanTest(unittest.TestCase):
    def test_spans_nest_and_self_times_add_up(self):
        res = java("graftbench.SelfTest", "spans")
        self.assertEqual(res.returncode, 0, res.stderr)


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW"), "set PERFBENCH_SLOW=1")
class EndToEndTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "3", "--trace", str(trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        result = json.loads(res.stdout.splitlines()[-1])
        self.assertIsNone(run.validate(result, run.expected_metrics(ROOT, trace == 1)))
        self.assertTrue(result["correct"], res.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        return result

    def test_every_workload(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.run_bench(w, 0)
                self.run_bench(w, 1)
                spans = os.path.join(ROOT, build.BUILD_DIR, "traces", "%s-seed3.jsonl" % w)
                res = java("graftbench.SelfTest", "check-trace", spans)
                self.assertEqual(res.returncode, 0, res.stderr)


if __name__ == "__main__":
    unittest.main()
