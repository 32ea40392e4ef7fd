"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The smoke test builds the engine on first use and runs every workload
at sf0.001.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (30, 75.0, 40))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_eleven_samples_is_the_smallest(self):
        self.assertEqual(metrics.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))


def span(op, name, start, end, parent=""):
    return {"op": op, "name": name, "start": start, "end": end, "parent": parent}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        s = [span("a", "op", 0, 10_000_000_000),
             span("a", "operators.build", 1_000_000_000, 3_000_000_000, "op"),
             span("a", "exec", 4_000_000_000, 9_000_000_000, "op")]
        t = metrics.self_times(s)
        self.assertAlmostEqual(t[("a", "op")], 3.0)
        self.assertAlmostEqual(t[("a", "exec")], 5.0)

    def test_overlapping_children_count_once_and_are_clipped(self):
        s = [span("a", "op", 0, 10),
             span("a", "x", 2, 6, "op"), span("a", "y", 4, 8, "op"),
             span("a", "z", 9, 20, "op")]
        self.assertAlmostEqual(metrics.self_times(s)[("a", "op")], 3e-9)

    def test_other_ops_do_not_count(self):
        s = [span("a", "op", 0, 10), span("b", "exec", 0, 10, "op")]
        self.assertAlmostEqual(metrics.self_times(s)[("a", "op")], 10e-9)


class Seeds(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.docs = os.path.join(cls.tmp.name, "data")
        gen.write(cls.docs, 0.001)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_query_order(self):
        a = workloads.orders(workloads.CATALOG, 7, 3)
        self.assertEqual(a, workloads.orders(workloads.CATALOG, 7, 3))
        self.assertNotEqual(a, workloads.orders(workloads.CATALOG, 8, 3))
        self.assertEqual(sorted(a[0]), sorted(workloads.CATALOG))

    def test_deltas(self):
        corpus = os.path.join(self.docs, "documents.parquet")
        rows = lambda seed: [d["table"].to_pylist() for d in  # noqa: E731
                             workloads.make_deltas(seed, corpus, 3, 200)]
        self.assertEqual(rows(7), rows(7))
        self.assertNotEqual(rows(7), rows(8))

    def test_delta_mix(self):
        corpus = os.path.join(self.docs, "documents.parquet")
        deltas = workloads.make_deltas(7, corpus, 4, 200)
        seen = set(gen.tables(0.001)["documents"].column("doc_id").to_pylist())
        for d in deltas:
            ids = d["table"].column("doc_id").to_pylist()
            self.assertEqual(len(ids), 200)
            self.assertEqual(len(d["replays"]), 40)
            self.assertTrue(set(d["replays"]) <= seen)
            self.assertEqual(len(set(ids) - seen), 160)
            seen |= set(ids)

    def test_tables_are_seed_free_and_deterministic(self):
        a, b = gen.tables(0.001), gen.tables(0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)


class Smoke(unittest.TestCase):
    def run_bench(self, workload, trace):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_every_workload_at_sf0001(self):
        for wl in sorted(workloads.WORKLOADS):
            per_layer = set(metrics.PER_LAYER) - metrics.REPORT_ONLY
            for trace, names in ((0, metrics.END_TO_END), (1, per_layer)):
                with self.subTest(workload=wl, trace=trace):
                    out = self.run_bench(wl, trace)
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.assertEqual(set(out["metrics"]), set(names))
                    for m in out["metrics"].values():
                        self.assertEqual(set(m), {"value", "unit"})


if __name__ == "__main__":
    unittest.main()
