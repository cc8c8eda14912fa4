"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail_percentile(5), 50.0)
        self.assertEqual(metrics.tail_percentile(0), 50.0)

    def test_percentile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 50), 2.5)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(metrics.percentile(range(101), 90), 90.0)


class IntervalUnion(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 10), (20, 25)]), 15)

    def test_overlapping(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)]), 15)

    def test_nested(self):
        self.assertEqual(metrics.union_length([(0, 100), (10, 20), (30, 40)]), 100)

    def test_unsorted_and_touching(self):
        self.assertEqual(metrics.union_length([(10, 20), (0, 10), (30, 31)]), 21)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 30)], 0, 10), 7)
        self.assertEqual(metrics.union_length([(20, 30)], 0, 10), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # op [0, 100]; jobs overlap (10-30, 20-40), nest (50-90 holds
        # 60-70) and one runs past the op's end (95-120)
        jobs = [(10, 30), (20, 40), (50, 90), (60, 70), (95, 120)]
        self.assertEqual(metrics.self_time(0, 100, jobs), 100 - (30 + 40 + 5))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(5, 25, []), 20)

    def test_children_counted_once(self):
        self.assertEqual(metrics.self_time(0, 50, [(10, 20), (15, 30), (40, 45)]), 25)

    def test_child_outside_span_is_ignored(self):
        self.assertEqual(metrics.self_time(0, 50, [(60, 70)]), 50)


class Cycles(unittest.TestCase):
    @staticmethod
    def rnd(i, traced=False):
        return {"id": i, "traced": traced, "t0": 1000 * i, "t1": 1000 * (i + 1), "cpu_ns": 0,
                "check_us": 0, "check_cpu_ns": 0}

    def test_abba_rounds_pair_into_cycles(self):
        # two rounds per cycle, traced in ABBA order: untraced 0, 3, 4, 7
        rounds = [self.rnd(i, i % 4 in (1, 2)) for i in range(8)]
        record = {"rounds_per_cycle": 2}
        untraced = [r for r in rounds if not r["traced"]]
        self.assertEqual([[r["id"] for r in c] for c in metrics.cycles(record, untraced)],
                         [[0, 3], [4, 7]])
        traced = [r for r in rounds if r["traced"]]
        self.assertEqual([[r["id"] for r in c] for c in metrics.cycles(record, traced)],
                         [[1, 2], [5, 6]])

    def test_incomplete_cycle_is_dropped(self):
        record = {"rounds_per_cycle": 2}
        self.assertEqual(len(metrics.cycles(record, [self.rnd(i) for i in range(3)])), 1)

    def test_latency_is_call_weighted_median(self):
        # call a: 1, 100 (a stall) and 3 ms; call b: 10 ms; across cycles
        lat = {0: [("a", 1), ("b", 10)], 1: [("a", 100)], 2: [("a", 3)]}
        ops = [{"id": 10 * c + i, "round": c, "name": name, "kind": "write", "fresh": False,
                "t0": 0, "t1": ms * 1000, "ok": True}
               for c, xs in lat.items() for i, (name, ms) in enumerate(xs)]
        record = {"rounds_per_cycle": 1, "ops": ops}
        m, d = metrics.loop_metrics(record, [self.rnd(i) for i in range(3)])
        self.assertEqual(m["write_ms"], (3 * 3 + 1 * 10) / 4)
        self.assertEqual(m["read_ms"], 0.0)
        self.assertEqual(d["writes"], 4)
        self.assertEqual(d["cycles"], 3)

    def test_rates_are_medians_of_per_cycle_figures(self):
        # one op per cycle; CPU 3, 9 and 5 ms, of which the JIT's 1 ms each
        rounds = [dict(self.rnd(i), cpu_ns=ms * 1_000_000, jit_cpu_ns=1_000_000)
                  for i, ms in enumerate([3, 9, 5])]
        ops = [{"id": i, "round": i, "name": "a", "kind": "read", "fresh": False,
                "t0": 1000 * i, "t1": 1000 * i + 500, "ok": True} for i in range(3)]
        m, _ = metrics.loop_metrics({"rounds_per_cycle": 1, "ops": ops}, rounds)
        self.assertEqual(m["cpu_ms_per_op"], 4.0)
        self.assertEqual(m["cpu_ms_per_op_with_jit"], 5.0)
        self.assertEqual(m["ops_per_s"], 1000.0)


class PerLayer(unittest.TestCase):
    def record(self):
        rounds = [
            {"id": 0, "traced": False, "t0": 0, "t1": 1000, "cpu_ns": 4_000_000,
             "check_us": 0, "check_cpu_ns": 0, "jit_cpu_ns": 1_000_000},
            {"id": 1, "traced": True, "t0": 1000, "t1": 2000, "cpu_ns": 6_000_000,
             "check_us": 500, "check_cpu_ns": 2_000_000},
        ]
        ops = [
            {"id": 0, "round": 0, "name": "a", "kind": "read", "fresh": True, "t0": 0, "t1": 400, "ok": True},
            {"id": 1, "round": 0, "name": "b", "kind": "write", "fresh": False, "t0": 400, "t1": 700, "ok": True},
            {"id": 4, "round": 0, "name": "a", "kind": "read", "fresh": False, "t0": 700, "t1": 1000, "ok": True},
            {"id": 2, "round": 1, "name": "a", "kind": "read", "fresh": True, "t0": 1000, "t1": 1300, "ok": True},
            {"id": 3, "round": 1, "name": "b", "kind": "write", "fresh": False, "t0": 1300, "t1": 1500, "ok": True},
        ]
        spans = [
            {"id": 0, "parent": -1, "op": 2, "name": "DeltaLog.snapshot_fresh", "t0": 1000, "t1": 1100},
            {"id": 1, "parent": -1, "op": 2, "name": "Levi.rowCountFromLog", "t0": 1100, "t1": 1300},
            {"id": 2, "parent": -1, "op": 3, "name": "DeltaLog.commit", "t0": 1300, "t1": 1500},
        ]
        jobs = [{"id": 7, "op": 2, "t0": 1150, "t1": 1250, "stages": [3, 4]}]
        stages = [
            {"id": 3, "tasks": 4, "run_ms": 10, "cpu_ns": 5_000_000, "shuffle_bytes": 100},
            {"id": 4, "tasks": 1, "run_ms": 2, "cpu_ns": 1_000_000, "shuffle_bytes": 0},
        ]
        phases = [{"name": "planning", "t0": 1100, "t1": 1150}]
        return {"rounds": rounds, "ops": ops, "spans": spans, "jobs": jobs, "stages": stages,
                "phases": phases, "samples": {"commit.removed": [1, 3],
                                              "commit.active_before": [10, 10]},
                "values": {}, "workload": "levi_log", "rounds_per_cycle": 1, "build_s": [3.0, 1.0, 2.0], "warmup_s": 0.5,
                "retained_heap_mb": 10.0}

    def test_loop_metrics(self):
        m, d = metrics.end_to_end(self.record())
        self.assertEqual(m["setup_s"], 2.5)
        self.assertEqual(d["ops"], 3)
        self.assertAlmostEqual(m["ops_per_s"], 3 / 0.001)
        # reads on a resolved snapshot and first reads after a commit
        # are separate samples
        self.assertEqual(m["read_ms"], 0.3)
        self.assertEqual(m["fresh_read_ms"], 0.4)
        self.assertEqual(m["write_ms"], 0.3)
        # process CPU less the JIT compiler threads'
        self.assertAlmostEqual(m["cpu_ms_per_op"], 3 / 3)

    def test_layers_self_time_and_spark(self):
        out = metrics.per_layer(self.record())
        self.assertEqual(out["Levi.rowCountFromLog_ms"], 0.2)
        # 200 us span minus the planning phase (50) and the job (100)
        self.assertAlmostEqual(out["Levi.rowCountFromLog_self_ms"], 0.05)
        self.assertEqual(out["spark.jobs_per_op"], 0.5)
        self.assertEqual(out["spark.tasks_per_op"], 2.5)
        self.assertEqual(out["spark.executor_cpu_ms_per_op"], 3.0)
        self.assertAlmostEqual(out["spark.planning_ms_per_op"], 0.025)
        self.assertAlmostEqual(out["driver.gap_ms_per_op"], (300 - 100 + 200) / 1000 / 2)
        self.assertEqual(out["commit.files_rewritten_ratio"], 0.2)
        self.assertEqual(out["Merge.execute_ms"], 0.0)
        # traced round: 2 ops in 500 us of loop time; untraced: 3 in 1000
        self.assertAlmostEqual(out["overhead.ops_per_s"], 4000 - 3000)

    def test_every_per_layer_metric_has_a_unit(self):
        self.assertEqual(set(metrics.per_layer(self.record())), set(metrics.per_layer_units()))


if __name__ == "__main__":
    unittest.main()
