"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import numpy as np

import gen
import lake_model
import run
import stats


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(24), 55.0)
        self.assertEqual(stats.tail_percentile(39), 70.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_value(self):
        xs = list(range(1, 101))  # 100 samples: p90
        p, v = stats.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(stats.tail([3, 1, 2]), (100.0, 3))

    def test_tail_percentile_fixed_by_guaranteed_count(self):
        # 40 guaranteed samples choose p75, however many more a run makes
        xs = list(range(1, 61))
        self.assertEqual(stats.tail(xs, 40), (75.0, stats.percentile(xs, 75)))
        self.assertEqual(stats.tail(xs, 100), stats.tail(xs))
        self.assertEqual(run.tail_of([1.0] * 35, "llm_pipeline")[0], 70.0)
        self.assertEqual(run.tail_of([1.0] * 40, "lake_write")[0], 75.0)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.percentile([1, 2, 3], 100), 3)


class SelfTime(unittest.TestCase):
    def test_nested_and_overlapping_spans(self):
        # action 0..100; compose 0..40 with analysis 10..30 inside it;
        # a job 35..90 that overlaps the end of compose, with a stage
        # 50..80; a planning phase 32..38 overlapping compose and job
        spans = [("action", 0, 100), ("api.compose", 0, 40), ("plans.analysis", 10, 30),
                 ("exec.job", 35, 90), ("exec.stage", 50, 80), ("plans.planning", 32, 38)]
        st = stats.self_times((0, 100), spans)
        self.assertEqual(st, {"api": 10 + 2, "plans": 20 + 3, "exec": 55, "other": 10})
        self.assertEqual(sum(st.values()), 100)

    def test_spans_are_clipped_to_the_action(self):
        st = stats.self_times((10, 20), [("exec.job", 0, 15), ("lake.append", 12, 40)])
        self.assertEqual(st, {"exec": 5, "lake": 5})

    def test_sum_never_exceeds_wall(self):
        rng = np.random.default_rng(0)
        names = ["api.compose", "plans.analysis", "exec.job", "exec.stage", "lake.read"]
        for _ in range(200):
            a0, a1 = sorted(int(x) for x in rng.integers(0, 1000, 2))
            spans = [(names[int(rng.integers(0, 5))], *sorted(int(x) for x in rng.integers(-100, 1100, 2)))
                     for _ in range(int(rng.integers(0, 8)))]
            self.assertEqual(sum(stats.self_times((a0, a1), spans).values()), a1 - a0)


class SeedDeterminism(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempfile.mkdtemp()
        return gen.digest(d, gen.generate(workload, seed, d))

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            self.assertEqual(self.generate(w, 5), self.generate(w, 5), w)
            self.assertNotEqual(self.generate(w, 5), self.generate(w, 6), w)

    def test_plans_follow_the_seed(self):
        a = run.query_plan("interactive", 3, 0, "in")
        self.assertEqual(a, run.query_plan("interactive", 3, 0, "in"))
        self.assertNotEqual(a["rounds"][:3], run.query_plan("interactive", 4, 0, "in")["rounds"][:3])
        # every round runs every query exactly once
        for r in a["rounds"][:5]:
            self.assertEqual(sorted(e[0] for e in r), a["queries"])

    def test_query_lists_are_odd(self):
        # the median action then falls on one query, not between two
        for w, qs in run.QUERIES.items():
            self.assertEqual(len(qs) % 2, 1, w)

    def test_llm_slices_are_never_reused(self):
        p = run.query_plan("llm_pipeline", 1, 1, "in")
        dirs = [e[1] for e in p["warmup"]] + [e[1] for r in p["rounds"] for e in r]
        self.assertEqual(len(dirs), len(set(dirs)))


class LakeModel(unittest.TestCase):
    def test_plan_rounds(self):
        ops = lake_model.plan_ops(np.random.default_rng(1), 1000, 4 * lake_model.ROUND)
        warm = len(lake_model.WARMUP)
        self.assertEqual([o["op"] for o in ops[:warm]], list(lake_model.WARMUP))
        self.assertEqual(len(ops), warm + 4 * lake_model.ROUND)
        for r in range(4):
            rnd = ops[warm + r * lake_model.ROUND:warm + (r + 1) * lake_model.ROUND]
            kinds = [o["op"] for o in rnd]
            self.assertEqual(kinds[-1], "compact")
            self.assertEqual(kinds.count("vacuum"), 1)
            self.assertEqual(sum(k in lake_model.WRITES for k in kinds), 10)
            for i, k in enumerate(kinds):
                if k == "appends_between":
                    self.assertEqual(kinds[i - 1], "append")

    def test_check_catches_a_wrong_read(self):
        rng = np.random.default_rng(2)
        base = lake_model.base_table(rng, 50)
        ops = [{"op": "append", "lo": 50, "n": 5, "m": [3, 5, 7], "c": [1, 2, 3]}, {"op": "read"}]
        m = lake_model.Model(base)
        m.apply(ops[0])
        good = m.state()
        log = [{"i": 0, "v_before": 1, "v_after": 2}, {"i": 1, "v_before": 2, "v_after": 2,
                                                        "digest": good, "version": 2}]
        final = m.rows
        rows = {"id": list(final), "grp": [r[0] for r in final.values()],
                "val": [r[1] for r in final.values()], "name": [r[2] for r in final.values()]}
        self.assertEqual(lake_model.check(base, ops, log, rows)[0], [])
        log[1]["digest"] = [good[0] - 1] + good[1:]
        fails = lake_model.check(base, ops, log, rows)[0]
        self.assertEqual([i for i, _ in fails], [1])


class Throughput(unittest.TestCase):
    def test_actions_per_s_from_kind_medians(self):
        # each action counts at its kind's median: 1 s for a, 3 s for b;
        # the 9 s outlier does not move the rate
        timed = [{"q": "a", "wall_ns": w * 10**9} for w in (1, 1, 9)] + \
                [{"q": "b", "wall_ns": w * 10**9} for w in (3, 2, 4)]
        self.assertAlmostEqual(run.actions_per_s(timed), 6 / (3 * 1 + 3 * 3))
        self.assertAlmostEqual(run.actions_per_s(timed[:4]), 4 / (3 * 1 + 1 * 3))


class OutputLine(unittest.TestCase):
    def test_result_parses_back_by_metric_name(self):
        metrics = {"setup_s": 1.25, "action_p50_s": 0.0123456789, "exec.spill_mb": 0.0,
                   "actions_per_s": 7.5}
        line = run.result_line(True, 12, 0, metrics)
        back = json.loads(line)
        self.assertEqual(set(back), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(back["metrics"]["action_p50_s"], {"value": 0.0123456789, "unit": "s"})
        self.assertEqual(back["metrics"]["actions_per_s"]["unit"], "1/s")
        self.assertEqual(back["metrics"]["exec.spill_mb"]["unit"], "MB")
        self.assertEqual(back["attempted"], 12)

    def test_benchmark_json_names_what_run_reports(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for w in spec["workloads"]:
            self.assertIn(w["name"], gen.WORKLOADS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.PER_LAYER)
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
