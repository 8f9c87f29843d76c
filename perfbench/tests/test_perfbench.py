"""Tests of the benchmark's own logic (no JVM needed).

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import checks  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


def record(ops, passes):
    return {"ops": ops, "passes": passes, "warmup_passes": 1,
            "session_ready_ms": 2000.0, "jvm_start_ms": 0.0,
            "prep_s": [1.0, 2.0, 3.0], "warmup_s": 4.0,
            "session_cpu_s": 5.0, "prep_cpu_s": [3.0, 1.0, 2.0], "warmup_cpu_s": 8.0,
            "peak_rss_kb": 1024.0}


def op(pass_, wall, ok=True, name="q"):
    return {"pass": pass_, "wall_s": wall, "ok": ok, "name": name}


def timed_pass(p, wall=1.0):
    return {"pass": p, "traced": False, "wall_s": wall, "cpu_s": 2.0, "wchar": 100,
            "state_bytes": 50}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        value, pct, beyond, n = metrics.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, pct, beyond, n), (90.0, 90.0, 10, 100))

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(40)]
        self.assertEqual(metrics.tail(xs), metrics.tail(list(reversed(xs))))

    def test_exactly_eleven_samples(self):
        self.assertEqual(metrics.tail([float(i) for i in range(11)])[:3], (0.0, 100 / 11, 10))

    def test_too_few_samples_fall_back_to_smallest(self):
        value, _, beyond, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((value, beyond, n), (1.0, 2, 3))


class FailureAccounting(unittest.TestCase):
    def test_failed_op_counts_and_is_not_timed(self):
        ops = [op(0, 5.0), op(1, 1.0), op(1, 1.0), op(1, 0.001, ok=False, name="broken")]
        r = record(ops, [timed_pass(1)])
        attempted, failed, names = metrics.op_accounting(r)
        self.assertEqual((attempted, failed, names), (4, 1, ["broken"]))
        m, _ = metrics.end_to_end(r, input_bytes=10, wrong_outputs=0)
        self.assertEqual(m["failed_frac"], 0.25)
        # the failure's 1 ms must not pull the latencies down
        self.assertEqual(m["op_p50_s"], 1.0)
        self.assertEqual(m["op_tail_s"], 1.0)

    def test_warmup_passes_are_not_timed(self):
        r = record([op(0, 9.0), op(1, 9.0), op(2, 1.0)], [timed_pass(1, 9.0), timed_pass(2)])
        r["warmup_passes"] = 2
        m, _ = metrics.end_to_end(r, input_bytes=10, wrong_outputs=0)
        self.assertEqual((m["op_p50_s"], m["pass_s"]), (1.0, 1.0))

    def test_setup_uses_median_of_repeated_preparation(self):
        m, _ = metrics.end_to_end(record([op(1, 1.0)], [timed_pass(1)]), 10, 0)
        self.assertEqual(m["setup_s"], 5.0 + 2.0 + 8.0)
        self.assertEqual(m["setup_wall_s"], 2.0 + 2.0 + 4.0)


class TamperedExpectations(unittest.TestCase):
    def test_catalog_fingerprint(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "q_x"))
            df = pd.DataFrame({"a": [1, 2, 3], "s": ["x", "y", "z"], "f": [0.1, 0.2, 0.3]})
            df.to_parquet(os.path.join(d, "q_x", "part-0.parquet"))
            rows, h = checks.fingerprint(checks.read_output(os.path.join(d, "q_x")))
            expected = {"outputs": {"q_x": {"rows": rows, "hash": h}}}
            self.assertEqual(checks.check_catalog(d, ["q_x"], {}, d, expected), [])
            expected["outputs"]["q_x"]["rows"] = 4
            self.assertEqual(len(checks.check_catalog(d, ["q_x"], {}, d, expected)), 1)
            expected["outputs"]["q_x"] = {"rows": rows, "hash": "0" * 16}
            self.assertEqual(len(checks.check_catalog(d, ["q_x"], {}, d, expected)), 1)

    def test_fingerprint_ignores_row_order_and_floats(self):
        a = pd.DataFrame({"a": [1, 2], "s": ["x", "y"], "f": [0.1, 0.2]})
        b = pd.DataFrame({"a": [2, 1], "s": ["y", "x"], "f": [0.2000001, 0.1]})
        self.assertEqual(checks.fingerprint(a), checks.fingerprint(b))
        self.assertNotEqual(checks.fingerprint(a), checks.fingerprint(a.assign(a=[1, 3])))

    def test_lake_fingerprint(self):
        with tempfile.TemporaryDirectory() as d:
            for mart in checks.LAKE_MARTS:
                os.makedirs(os.path.join(d, mart))
                pd.DataFrame({"id": [1, 2], "s": ["a", "b"], "dist_km": [0.5, 1.5]}).to_parquet(
                    os.path.join(d, mart, "part-0.parquet"))
            want = {m: dict(zip(["rows", "hash"], checks.mart_fingerprint(os.path.join(d, m))))
                    for m in checks.LAKE_MARTS}
            self.assertEqual(checks.check_lake(d, want), [])
            want["analytics/user_city"]["hash"] = "0" * 16
            self.assertEqual(len(checks.check_lake(d, want)), 1)

    def test_store_counts(self):
        expect = [{"ingest": {"keep": 4, "drop": 1}, "forget": {"true": 2}, "index_docs": 2}]
        got = [{"kind": "ingest", "pass": 0, "counts": {"keep": 4, "drop": 1}},
               {"kind": "forget", "pass": 0, "counts": {"true": 2}},
               {"kind": "index", "pass": 0, "sigs": 2, "bands": 32}]
        self.assertEqual(checks.check_store(got, expect), [])
        expect[0]["ingest"]["keep"] = 5
        self.assertEqual(len(checks.check_store(got, expect)), 1)
        expect[0]["index_docs"] = 3
        self.assertEqual(len(checks.check_store(got, expect)), 3)


class Seeds(unittest.TestCase):
    def test_catalog_order_is_a_function_of_the_seed(self):
        for w in ["catalog_floor", "catalog_heavy"]:
            a, b = workloads.catalog_queries(w, 7), workloads.catalog_queries(w, 7)
            self.assertEqual(a, b)
            self.assertEqual(len(a), workloads.PANEL[w])
            orders = {tuple(workloads.catalog_queries(w, s)) for s in range(20)}
            self.assertGreater(len(orders), 1)
            # the panel is fixed, so every seed runs the same queries
            self.assertEqual({tuple(sorted(o)) for o in orders}, {tuple(sorted(a))})

    def test_timed_pass_count_depends_only_on_the_window(self):
        self.assertEqual(workloads.timed_passes("catalog_floor", 9), 3)
        self.assertEqual(workloads.timed_passes("lake_cycle", 9), 1)
        self.assertEqual(workloads.timed_passes("lake_cycle", 1), 1)

    def test_store_batches_are_a_function_of_the_seed(self):
        def batches(seed):
            with tempfile.TemporaryDirectory() as d:
                passes, expect = workloads.plan("lake_cycle", seed, d, 2)
                ingest = dict(passes[0])["ingest"]
                return pd.read_parquet(ingest)["text"].tolist(), expect
        self.assertEqual(batches(3), batches(3))
        self.assertNotEqual(batches(3)[0], batches(4)[0])


class SelfTimes(unittest.TestCase):
    def test_shares_partition_the_op(self):
        nodes = [(10.0, 60.0, "queries.build"), (20.0, 30.0, "ops.job"),
                 (25.0, 40.0, "ops.job"), (60.0, 95.0, "ops.exec")]
        shares = metrics.self_times(nodes, 0.0, 100.0)
        self.assertAlmostEqual(sum(shares.values()), 100.0)
        self.assertAlmostEqual(shares[None], 10.0 + 5.0)
        self.assertAlmostEqual(shares[0], 50.0 - 20.0)  # build minus its jobs
        self.assertAlmostEqual(shares[1] + shares[2], 20.0)  # the jobs' union
        self.assertAlmostEqual(shares[3], 35.0)


if __name__ == "__main__":
    unittest.main()
