"""The benchmark's own tests: the smoke configuration (sf 0.001) of every
workload, traced and untraced, must run, check its outputs, find them
correct and report every metric BENCHMARK.json declares.

    python3 -m unittest perfbench/test_smoke.py
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, seed=7, seconds=3):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--smoke"], cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, p.stdout
    return [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]


class SmokeTest(unittest.TestCase):
    def check_workload(self, workload):
        b = bench()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines = run(workload, trace)
            result = lines[-1]
            self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(result["correct"], lines)
            self.assertEqual(result["failed"], 0)
            self.assertGreaterEqual(result["attempted"], 1)
            self.assertEqual(set(result["metrics"]), {m["name"] for m in b[key]})
            for m in b[key]:
                self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            if trace == 0:
                for m in b["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_mart_sql(self):
        self.check_workload("mart_sql")

    def test_cdc_ingest(self):
        self.check_workload("cdc_ingest")

    def test_corpus_clean(self):
        self.check_workload("corpus_clean")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        import tempfile
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            gen.tables(a, 0.001, 3)
            gen.tables(b, 0.001, 3)
            for t in os.listdir(a):
                with open(os.path.join(a, t), "rb") as fa, open(os.path.join(b, t), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), t)
            ra = gen.cdc(os.path.join(a, "cdc"), os.path.join(a, "orders.parquet"), 3, 3, 40)
            rb = gen.cdc(os.path.join(b, "cdc"), os.path.join(b, "orders.parquet"), 3, 3, 40)
            self.assertEqual(ra, rb)

    def test_digest_rules(self):
        # an integral double equals the integer; other doubles by bits
        self.assertEqual(check.digest(["a"], [(2.0,)]), check.digest(["a"], [(2,)]))
        self.assertNotEqual(check.digest(["a"], [(0.1,)]),
                            check.digest(["a"], [(math.nextafter(0.1, 1.0),)]))
        # rows are a multiset, columns are matched by name
        self.assertEqual(check.digest(["a", "b"], [(1, "x"), (2, "y")]),
                         check.digest(["b", "a"], [("y", 2), ("x", 1)]))
        self.assertNotEqual(check.digest(["a"], [("1",)]), check.digest(["a"], [(1,)]))


if __name__ == "__main__":
    unittest.main()
