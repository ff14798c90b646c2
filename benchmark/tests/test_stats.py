"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s benchmark/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 0.5), 5)
        self.assertEqual(stats.percentile(xs, 0.9), 9)
        self.assertEqual(stats.percentile(xs, 1.0), 10)
        self.assertEqual(stats.percentile([7], 0.9), 7)

    def test_choice_by_sample_count(self):
        # p90 needs ten samples beyond it: 100 samples is the least
        self.assertEqual(stats.supported_percentile(100), 0.9)
        self.assertEqual(stats.supported_percentile(99), 0.5)
        self.assertEqual(stats.supported_percentile(1000), 0.99)
        self.assertEqual(stats.supported_percentile(999), 0.9)
        self.assertEqual(stats.supported_percentile(20), 0.5)
        self.assertIsNone(stats.supported_percentile(19))


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.1, 10, 1]), 1.0)

    def test_light_and_heavy_count_alike(self):
        # doubling the light query moves the geomean as much as doubling the heavy one
        self.assertAlmostEqual(stats.geomean([0.2, 20]) * 2 ** 0.5, stats.geomean([0.4, 20]))
        self.assertAlmostEqual(stats.geomean([0.4, 20]), stats.geomean([0.2, 40]))

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class RatioTest(unittest.TestCase):
    def test_only_names_both_engines_completed(self):
        ratio, names, v_tot = stats.paired_ratio(
            {"a": [(2.0, 1.0)], "b": [(3.0, 3.0)], "c": []})
        self.assertEqual(names, ["a", "b"])
        self.assertAlmostEqual(ratio, 5.0 / 4.0)
        self.assertAlmostEqual(v_tot, 4.0)

    def test_zero_time_is_not_comparable(self):
        ratio, names, _ = stats.paired_ratio({"a": [(2.0, 0.0)], "b": [(1.0, 2.0)]})
        self.assertEqual(names, ["b"])
        self.assertAlmostEqual(ratio, 0.5)

    def test_drift_through_a_run_cancels_within_pairs(self):
        # both engines speed up from pair to pair; graft is 10% slower in
        # every pair, though its fastest run beats vanilla's slower ones
        pairs = {"q": [(2.2, 2.0), (1.1, 1.0), (0.88, 0.8)]}
        ratio, _, v_tot = stats.paired_ratio(pairs)
        self.assertAlmostEqual(ratio, 1.1)
        self.assertAlmostEqual(v_tot, 1.0)

    def test_nothing_comparable(self):
        self.assertEqual(stats.paired_ratio({"a": []}), (None, [], 0.0))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, layer, start, end):
        return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}

    def test_children_overlap_and_overhang(self):
        spans = [
            self.span(1, 0, "op", 0, 10),
            self.span(2, 1, "exec", 2, 4),
            self.span(3, 1, "exec", 3, 6),   # overlaps the previous child
            self.span(4, 1, "plan", 8, 12),  # runs past its parent's end
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["op"], 10 - 4 - 2)
        self.assertAlmostEqual(st["exec"], 2 + 3)
        self.assertAlmostEqual(st["plan"], 4)

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [self.span(1, 0, "op", 0, 10), self.span(2, 1, "exec", 0, 5),
                 self.span(3, 2, "job", 1, 4)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["op"], 5)
        self.assertAlmostEqual(st["exec"], 2)
        self.assertAlmostEqual(st["job"], 3)


class SlotBusyTest(unittest.TestCase):
    def test_slot_busy_frac(self):
        self.assertAlmostEqual(stats.slot_busy_frac(400, 100, 4), 1.0)
        self.assertAlmostEqual(stats.slot_busy_frac(100, 100, 4), 0.25)
        self.assertEqual(stats.slot_busy_frac(100, 0, 4), 0.0)


class SteadyHalfTest(unittest.TestCase):
    def test_later_half_of_each_loop(self):
        ops = ([{"block": b, "traced": False} for b in range(5)] +
               [{"block": b, "traced": True} for b in range(2)])
        kept = [(o["block"], o["traced"]) for o in metrics.steady(ops)]
        self.assertEqual(kept, [(2, False), (3, False), (4, False), (1, True)])

    def test_traced_run_keeps_the_last_untraced_loop(self):
        # untraced blocks 0-1, traced 2-5, untraced again 6-7
        ops = [{"block": b, "traced": 2 <= b <= 5} for b in range(8)]
        kept = [o["block"] for o in metrics.steady(ops)]
        self.assertEqual(kept, [4, 5, 6, 7])


    def test_blocks_sum_per_loop(self):
        ops = [{"block": b, "traced": t, "wall_s": w}
               for b, t, w in [(0, False, 1.0), (0, False, 2.0), (1, False, 4.0), (0, True, 8.0)]]
        self.assertEqual(sorted(metrics.lake_blocks(ops)), [3.0, 4.0, 8.0])


class TotalTest(unittest.TestCase):
    def test_pipeline_total_takes_each_querys_fastest_run(self):
        # a cold first run does not count, so traced over untraced
        # totals compare warm runs with warm runs
        untraced = [op("q1", wall=5.0), op("q1", wall=2.0), op("q2", wall=3.0)]
        traced = [op("q1", wall=2.2, traced=True), op("q2", wall=3.3, traced=True)]
        self.assertAlmostEqual(metrics.total_s(untraced, lake=False), 5.0)
        self.assertAlmostEqual(metrics.total_s(traced, lake=False)
                               / metrics.total_s(untraced, lake=False), 1.1)

    def test_lake_total_is_the_median_block(self):
        ops = [{"block": b, "traced": False, "wall_s": w, "kind": "read"}
               for b, w in [(0, 1.0), (0, 1.0), (1, 5.0), (2, 3.0)]]
        self.assertAlmostEqual(metrics.total_s(ops, lake=True), 3.0)


def op(kind, ok=True, engine="graft", wall=1.0, pass_=0, cls="query", traced=False, pair=-1):
    return {"kind": kind, "name": kind, "ok": ok, "engine": engine, "wall_s": wall,
            "pass": pass_, "class": cls, "traced": traced, "error": None, "pair": pair}


class FailedFracTest(unittest.TestCase):
    def test_failed_frac(self):
        ops = [op("a"), op("b", ok=False), op("c"), op("d", ok=False)]
        self.assertAlmostEqual(stats.failed_frac(ops), 0.5)
        self.assertEqual(stats.failed_frac([]), 0.0)

    def run_record(self, ops):
        return {"info": {"workload": "tpch_sf1", "peak_heap_mb": 100.0,
                         "jvm_start_to_ready_s": 1.0},
                "setups": [{"setup_s": t, "session_ms": 1, "tables_ms": 1, "warmup_ms": 1}
                           for t in (1.0, 2.0, 3.0)],
                "ops": ops, "spans": [], "work": {}}

    def test_wrong_answer_and_throw_both_count(self):
        ops = [op("q1", wall=2.0, pair=0), op("q2", wall=1.0, pair=1), op("q3", ok=False),
               op("q1", engine="vanilla", wall=1.0, pair=0),
               op("q2", engine="vanilla", wall=1.0, pair=1),
               op("q1", wall=4.0, pass_=1)]
        check = {"wrong": {"q2": "1 mismatched cells"}, "by_oracle": ["q1", "q2"]}
        r = metrics.compute(self.run_record(ops), check, traced=False, cores=4)
        # graft ops attempted: q1 twice, q2, q3; q3 threw, q2 answered wrong
        self.assertEqual(r["attempted"], 4)
        self.assertEqual(r["failed"], 2)
        self.assertFalse(r["correct"])
        self.assertAlmostEqual(r["metrics"]["ok_frac"]["value"], 0.5)
        # only q1 stays comparable: its pair's graft run over its vanilla run
        self.assertAlmostEqual(r["metrics"]["graft_vs_vanilla"]["value"], 2.0)
        # the battery total takes each query's fastest graft run
        self.assertAlmostEqual(r["metrics"]["total_s"]["value"], 2.0)
        self.assertAlmostEqual(r["metrics"]["setup_s"]["value"], 2.0)

    def test_wrong_answer_fails_only_the_checked_run(self):
        ops = [op("q1", wall=2.0), op("q1", wall=3.0)]
        r = metrics.compute(self.run_record(ops), {"wrong": {"q1": "rows 1 vs 2"}},
                            traced=False, cores=4)
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))
        self.assertAlmostEqual(r["metrics"]["total_s"]["value"], 3.0)

    def test_vanilla_failures_are_not_counted(self):
        ops = [op("q1", pair=0), op("q1", engine="vanilla", ok=False, pair=0)]
        r = metrics.compute(self.run_record(ops), {"wrong": {}}, traced=False, cores=4)
        self.assertEqual((r["attempted"], r["failed"]), (1, 0))
        self.assertTrue(r["correct"])


if __name__ == "__main__":
    unittest.main()
