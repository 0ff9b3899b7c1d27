"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import classify
import compare
import layers
import lib
import run

ROOT = os.path.dirname(lib.HERE)


def stmt(name, rows=1, digest="d", error="", t=(0.0, 1.0, 2.0, 3.0)):
    return {"seq": 0, "name": name, "t_ms": list(t), "rows": rows, "digest": digest,
            "error": error}


def result(passes, setups=({"session_s": 1.0, "warmup_s": 1.0},), warmup=0):
    return {"jvm_up_s": 0.5, "setups": list(setups), "cpus": 4, "warmup": warmup,
            "passes": [{"pass": i, "traced": False, "storage_b": 0, "disk_b": 1 << 20,
                        "stmts": p} for i, p in enumerate(passes)]}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(lib.percentile(v, 0.5), 50)
        self.assertEqual(lib.percentile(v, 0.9), 90)
        self.assertEqual(lib.percentile(v, 1.0), 100)
        self.assertEqual(lib.percentile([7.0], 0.9), 7.0)

    def test_p90_leaves_ten_samples_beyond_it_at_100(self):
        v = [float(i) for i in range(100)]
        p = lib.percentile(v, 0.9)
        self.assertEqual(sum(x > p for x in v), 10)

    def test_supported_percentile_needs_ten_beyond(self):
        self.assertIsNone(lib.supported_percentile(10))
        self.assertAlmostEqual(lib.supported_percentile(100), 0.9)
        self.assertAlmostEqual(lib.supported_percentile(1000), 0.99)
        n = 250
        q = lib.supported_percentile(n)
        v = list(range(n))
        self.assertGreaterEqual(sum(x > lib.percentile(v, q) for x in v), 10)

    def test_spread_is_iqr_over_median(self):
        v = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = lib.quartiles(v)
        self.assertAlmostEqual(lib.spread(v), (q3 - q1) / q2)


class OutputCheckTest(unittest.TestCase):
    expected = {"a": {"rows": 3, "digest": "x"}, "b": {"rows": 2, "digest": "y"}}

    def test_digest_mismatch_is_a_failure(self):
        res = result([[stmt("a", 3, "x"), stmt("b", 2, "y")],
                      [stmt("a", 3, "x"), stmt("b", 2, "WRONG")],
                      [stmt("a", 3, "x"), stmt("b", 2, "y")]])
        m, attempted, failed, _ = run.end_to_end(res, self.expected)
        self.assertEqual((attempted, failed), (6, 1))
        self.assertAlmostEqual(m["ok_frac"][0], 5 / 6)

    def test_row_count_mismatch_and_error_are_failures(self):
        self.assertFalse(run.stmt_ok(stmt("a", 4, "x"), self.expected))
        self.assertFalse(run.stmt_ok(stmt("a", 3, "x", error="boom"), self.expected))
        self.assertFalse(run.stmt_ok(stmt("unknown", 3, "x"), self.expected))
        self.assertTrue(run.stmt_ok(stmt("a", 3, "x"), self.expected))

    def test_walls_and_latencies_exclude_the_check(self):
        res = result([[stmt("a", 3, "x", t=(0, 100, 200, 1000))],
                      [stmt("a", 3, "x", t=(0, 10, 20, 300))],
                      [stmt("a", 3, "x", t=(0, 10, 20, 500))]])
        m, _, _, n = run.end_to_end(res, self.expected)
        self.assertAlmostEqual(m["cold_wall_s"][0], 1.0)
        self.assertAlmostEqual(m["wall_s"][0], 0.4)
        self.assertEqual(n, 2)

    def test_warmup_passes_are_checked_but_not_timed(self):
        res = result([[stmt("a", 3, "x", t=(0, 0, 0, 1000))],
                      [stmt("a", 3, "WRONG", t=(0, 0, 0, 900))],
                      [stmt("a", 3, "x", t=(0, 0, 0, 300))],
                      [stmt("a", 3, "x", t=(0, 0, 0, 500))]], warmup=1)
        m, attempted, failed, n = run.end_to_end(res, self.expected)
        self.assertEqual((attempted, failed, n), (4, 1, 2))
        self.assertAlmostEqual(m["wall_s"][0], 0.4)


class BuildLogDifferenceTest(unittest.TestCase):
    def test_builds_per_pass_are_differences_of_the_cumulative_log(self):
        passes = [{"builds_before": 0, "builds_after": 20},
                  {"builds_before": 20, "builds_after": 20},
                  {"builds_before": 20, "builds_after": 21}]
        self.assertEqual(layers.pass_builds(passes), [20, 0, 1])


class ClassificationTest(unittest.TestCase):
    def test_rule_order(self):
        obs = {
            "st1_x": {"streaming": True, "written": 0, "builds": ["b"]},
            "sql43_y": {"streaming": False, "written": 3, "builds": []},
            "x111_z": {"streaming": False, "written": 0, "builds": ["b"]},
            "a1_q": {"streaming": False, "written": 0, "builds": []},
            "sql41_q": {"streaming": False, "written": 0, "builds": []},
            "sql42_q": {"streaming": False, "written": 0, "builds": []},
            "x5_q": {"streaming": False, "written": 0, "builds": []},
        }
        self.assertEqual(classify.assign(obs), {
            "st1_x": "writes", "sql43_y": "writes", "x111_z": "pipelines",
            "a1_q": "adhoc", "sql41_q": "adhoc", "sql42_q": "outside", "x5_q": "outside"})

    def test_no_row_in_two_workloads(self):
        rows = lib.load_rows()
        seen = {}
        for w, names in rows["classes"].items():
            for n in names:
                self.assertNotIn(n, seen, f"{n} in {seen.get(n)} and {w}")
                seen[n] = w
        for w, names in rows["workloads"].items():
            self.assertEqual(len(names), len(set(names)))
            for n in names:
                self.assertEqual(seen.get(n), w, f"{n} runs in {w} but is classed {seen.get(n)}")

    def test_workloads_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(lib.load_rows()["workloads"]))

    def test_every_benchmarked_row_has_an_expected_value(self):
        expected = lib.load_expected()
        for names in lib.load_rows()["workloads"].values():
            for n in names:
                self.assertIn(n, expected)


class CompareTest(unittest.TestCase):
    def test_pairs_won_ignores_ties(self):
        self.assertEqual(compare.pairs_won([2, 2, 2, 2], [1, 2, 3, 1], "lower"), 0.5)
        self.assertEqual(compare.pairs_won([2, 2], [3, 3], "higher"), 1.0)

    def test_verdicts(self):
        a = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        self.assertEqual(compare.verdict(a, [x * 1.3 for x in a], "lower", 0.1), "regressed")
        self.assertEqual(compare.verdict(a, list(a), "lower", 0.1), "same")
        self.assertEqual(compare.verdict(a, [x * 0.8 for x in a], "lower", 0.1), "improved")
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(compare.verdict(a, noisy, "lower", 0.1), "unresolved")


if __name__ == "__main__":
    unittest.main()
