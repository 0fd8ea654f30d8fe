"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import statistics
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import ab  # noqa: E402
import core  # noqa: E402


class TailTest(unittest.TestCase):
    def check(self, xs, k):
        """The tail is the k-th of the sorted samples' percentile, its
        estimate lies between the k-th sample and the next one."""
        value, pct, beyond = core.tail(xs)
        n = len(xs)
        self.assertEqual((pct, beyond), (100.0 * k / n, n - k))
        ys = sorted(xs)
        self.assertTrue(ys[k - 1] <= value <= ys[min(k, n - 1)], (value, ys[k - 1]))

    def test_leaves_ten_samples_beyond(self):
        self.check(list(range(1, 101)), 90)

    def test_thirty_samples(self):
        self.check(list(range(1, 31)), 20)

    def test_twenty_two_samples_is_the_least_with_a_rank_above_the_median(self):
        self.check(list(range(1, 23)), 12)

    def test_fewer_than_22_samples_take_the_nearest_rank_p90(self):
        self.check(list(range(1, 22)), 19)
        self.check(list(range(10, 0, -1)), 9)
        self.assertEqual(core.tail([4, 1, 3, 2]), (4, 100.0, 0))
        self.assertEqual(core.tail([7]), (7, 100.0, 0))

    def test_equal_samples(self):
        self.assertAlmostEqual(core.tail([0.3] * 42)[0], 0.3)


class MedianTest(unittest.TestCase):
    def test_beta_cdf_matches_the_binomial_identity(self):
        # for whole a, b: I_x(a, b) = P(Binomial(a + b - 1, x) >= a)
        x = 0.3
        binom = sum(math.comb(4, k) * x ** k * (1 - x) ** (4 - k) for k in range(2, 5))
        self.assertAlmostEqual(core._beta_cdf(x, 2, 3), binom, places=12)
        self.assertAlmostEqual(core._beta_cdf(0.5, 7.5, 7.5), 0.5, places=12)

    def test_one_sample_equal_samples_and_symmetry(self):
        self.assertEqual(core.hd_quantile([7.0], 0.5), 7.0)
        self.assertAlmostEqual(core.hd_quantile([5.0] * 9, 0.5), 5.0)
        self.assertAlmostEqual(core.hd_quantile([3, 1, 2], 0.5), 2.0)
        self.assertAlmostEqual(core.hd_quantile(list(range(1, 43)), 0.5), 21.5)
        self.assertEqual(core.hd_quantile([], 0.5), 0.0)
        self.assertEqual(core.hd_quantile([1, 5, 2], 1.0), 5)

    def test_moves_smoothly_across_a_gap(self):
        # 20 fast and 22 slow ops, then one op crossing the gap: the
        # sample median jumps by most of the gap, this estimate by less
        a = [0.1] * 20 + [0.3] * 22
        b = [0.1] * 21 + [0.3] * 21
        jump = statistics.median(a) - statistics.median(b)
        self.assertAlmostEqual(jump, 0.1)
        self.assertLess(core.hd_quantile(a, 0.5) - core.hd_quantile(b, 0.5), jump / 2)


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, lo, hi):
        return {"id": id_, "parent": parent, "start_ns": lo, "end_ns": hi}

    def test_duration_minus_covered_child_time(self):
        spans = [self.span(1, 0, 0, 1000),
                 self.span(2, 1, 100, 300), self.span(3, 1, 200, 500),
                 self.span(4, 1, 600, 700), self.span(5, 2, 150, 250)]
        st = core.self_times(spans)
        # children 2 and 3 overlap: together they cover 100..500
        self.assertAlmostEqual(st[1], (1000 - 400 - 100) / 1e9)
        # a grandchild counts against its own parent only
        self.assertAlmostEqual(st[2], (200 - 100) / 1e9)
        self.assertAlmostEqual(st[4], 100 / 1e9)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 100, 200), self.span(2, 1, 50, 150)]
        self.assertAlmostEqual(core.self_times(spans)[1], 50 / 1e9)


class PlanTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in core.WORKLOADS:
            a = core.plan_ops(w, 7, 20, copies=64, copy_k=150000)
            b = core.plan_ops(w, 7, 20, copies=64, copy_k=150000)
            self.assertEqual(a, b, w)

    def test_seed_changes_order_ranges_and_slices(self):
        a = core.plan_ops("orc_io", 1, 20, copies=64, copy_k=150000)
        b = core.plan_ops("orc_io", 2, 20, copies=64, copy_k=150000)
        self.assertNotEqual(a["passes"], b["passes"])
        self.assertNotEqual(a["ranges"], b["ranges"])
        writes = lambda p: [o["copy"] for ps in p["passes"] for o in ps if o["kind"] == "write"]
        self.assertNotEqual(writes(a), writes(b))
        c = core.plan_ops("core_queries", 1, 5)
        d = core.plan_ops("core_queries", 2, 5)
        self.assertNotEqual(c["passes"], d["passes"])

    def test_every_pass_holds_the_same_ops(self):
        p = core.plan_ops("orc_io", 3, 10, copies=64, copy_k=150000)
        for ops in p["passes"]:
            self.assertEqual(sorted(o["kind"] for o in ops), sorted(core.ORC_PASS))
        for lo, hi in p["ranges"]:
            self.assertTrue(0 <= lo < hi < 64 * 150000)
        for ops in core.plan_ops("llm_operators", 3, 10)["passes"]:
            self.assertEqual(sorted(o["name"] for o in ops), sorted(core.LLM_OPERATORS))

    def test_warmup_passes_run_the_listed_order(self):
        for w in core.WORKLOADS:
            base = core.ORC_PASS if w == "orc_io" else core.ENTRY_WORKLOADS[w]
            kinds = [o["name"] if o["kind"] == "entry" else o["kind"]
                     for o in core.plan_ops(w, 3, 2, copies=64, copy_k=150000)["warmup"]]
            self.assertEqual(kinds, base * core.WARMUP_PASSES[w], w)


def op(name, ok=True, error=None, pass_=0, latency=1.0):
    return {"type": "op", "window": "main", "pass": pass_, "kind": "entry", "name": name,
            "build_s": latency / 2, "action_s": latency / 2, "latency_s": latency,
            "ok": ok, "error": error}


class FailedFracTest(unittest.TestCase):
    def records(self):
        return [
            {"type": "setup", "start_s": 1, "tune_s": 0, "tables_s": 0, "total_s": 2.0},
            {"type": "warmup", "seconds": 1.0},
            op("q01", ok=False, error="boom", pass_=-1),   # warm-up: not attempted
            op("q01"), op("q02", ok=False, error="java.lang.RuntimeException: boom"),
            op("q03", ok=False, error="fingerprint (1,ab) != committed (1,cd)"), op("q04"),
            {"type": "measure", "window": "main", "start_ms": 1005000, "elapsed_s": 4.0,
             "passes": 1, "ops": 4,
             "steal_avg": 0.0, "host_loaded": False, "nproc": 4, "cpus": 4,
             "peak_rss_mb": 100.0},
        ]

    def test_counts_exceptions_and_mismatches_over_attempted(self):
        metrics, facts = core.end_to_end(self.records(), launch_s=1002.0)
        self.assertEqual(facts["ops"], 4)
        self.assertEqual(facts["failed_frac"], 0.5)
        self.assertEqual(metrics["ops_per_s"], 1.0)

    def test_setup_runs_from_launch_to_the_first_timed_op(self):
        metrics, _ = core.end_to_end(self.records(), launch_s=1002.0)
        self.assertEqual(metrics["setup_s"], 3.0)

    def test_no_ops_no_failures(self):
        self.assertEqual(core.failed_frac([]), 0.0)


class BenchmarkJsonTest(unittest.TestCase):
    def test_matches_the_metrics_the_runner_emits(self):
        spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], core.WORKLOADS)
        self.assertEqual([m["name"] for m in spec["per_layer"]], core.per_layer_names())
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertEqual(m["unit"], core.unit_of(m["name"]), m["name"])
        records = FailedFracTest().records()
        self.assertEqual(sorted(core.end_to_end(records, 0.0)[0]),
                         sorted(m["name"] for m in spec["end_to_end"]))


class StreamMetricsTest(unittest.TestCase):
    def batch(self, trigger, add, commit, rows, state):
        return {"trigger_ms": trigger, "add_batch_ms": add, "wal_commit_ms": 2,
                "commit_ms": commit, "input_rows": rows, "state_rows": state}

    def test_per_batch_medians_and_rates(self):
        m = core.stream_metrics([self.batch(100, 60, 5, 50, 10),
                                 self.batch(300, 200, 9, 150, 30),
                                 self.batch(200, 120, 7, 100, 25)])
        self.assertEqual(m["stream.batches"], 3)
        self.assertEqual(m["stream.add_batch_ms"], 120)
        self.assertEqual(m["stream.commit_ms"], 7)
        self.assertEqual(m["stream.state_rows"], 25)
        self.assertEqual(m["stream.batch_p50_s"], 0.2)
        self.assertEqual(m["stream.rows_s"], 300 / 0.6)

    def test_traced_run_splits_stateful_entry_from_control(self):
        stateful, control = core.STREAM_ENTRIES
        m = core.stream_layer([
            dict(self.batch(100, 60, 5, 50, 10), type="batch", window="stream", name=stateful),
            dict(self.batch(80, 40, 0, 20, 0), type="batch", window="stream", name=control),
            dict(self.batch(900, 900, 90, 50, 10), type="batch", window="stream_warmup",
                 name=stateful)])
        self.assertEqual(m["stream.commit_ms"], 5)
        self.assertEqual(m["stream.control.commit_ms"], 0)
        self.assertEqual(m["stream.control.add_batch_ms"], 40)
        self.assertEqual(m["stream.batches"], 1)
        self.assertNotIn("stream.control.state_rows", m)
        self.assertLessEqual(set(m), set(core.per_layer_names()))


class VerdictTest(unittest.TestCase):
    def test_improved_needs_pair_wins_and_a_gap_beyond_the_iqr(self):
        parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
        change = [x * 0.8 for x in parent]
        paired = list(zip(parent, change))
        self.assertEqual(ab.verdict(parent, change, "lower", 0.1, paired), ("improved", 10))
        self.assertEqual(ab.verdict(change, parent, "lower", 0.1, list(zip(change, parent)))[0],
                         "worse")

    def test_noisy_parent_is_unresolved(self):
        parent = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [x + 0.5 for x in parent[::-1]]
        paired = list(zip(parent, change))
        self.assertEqual(ab.verdict(parent, change, "lower", 0.1, paired)[0], "unresolved")

    def test_small_shift_is_unchanged(self):
        parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]
        change = parent[1:] + parent[:1]
        paired = list(zip(parent, change))
        self.assertEqual(ab.verdict(parent, change, "higher", 0.1, paired)[0], "unchanged")


class CompareTest(unittest.TestCase):
    def runs(self, loaded, values):
        return [{"workload": "core_queries", "seed": i, "trace": 0,
                 "metrics": {"ops_per_s": v}, "facts": {"host_loaded": loaded}}
                for i, v in enumerate(values)]

    def spec(self):
        return {"workloads": [{"name": "core_queries"}],
                "end_to_end": [{"name": "ops_per_s", "better": "higher", "bound": 0.25}],
                "per_layer": []}

    def test_host_loaded_runs_get_no_verdict(self):
        lines = ab.compare(self.runs(False, [2.0] * 10), self.runs(True, [3.0] * 10), self.spec())
        self.assertIn("refused", lines[1])
        self.assertEqual(len(lines), 2)

    def test_quiet_runs_get_a_verdict(self):
        lines = ab.compare(self.runs(False, [2.0] * 10), self.runs(False, [3.0] * 10), self.spec())
        self.assertTrue(lines[1].endswith("improved"))


if __name__ == "__main__":
    unittest.main()
