"""Unit tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class PercentileRule(unittest.TestCase):
    def test_highest_level_with_ten_beyond(self):
        self.assertIsNone(stats.tail_level(19))
        self.assertEqual(stats.tail_level(20), 0.5)
        self.assertEqual(stats.tail_level(39), 0.5)
        self.assertEqual(stats.tail_level(40), 0.75)
        self.assertEqual(stats.tail_level(99), 0.75)
        self.assertEqual(stats.tail_level(100), 0.9)
        self.assertEqual(stats.tail_level(200), 0.95)
        self.assertEqual(stats.tail_level(1000), 0.99)

    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 0.9), 90)
        self.assertEqual(stats.percentile(v, 0.5), 50)
        self.assertEqual(stats.tail(v), (0.9, 90))
        self.assertEqual(stats.tail(v[:15]), (None, None))
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


class SelfTime(unittest.TestCase):
    # (id, parent, name, op, start, end)
    SPANS = [
        (1, 0, "bench.request", 7, 0, 100),
        (2, 1, "recommend.request", 7, 5, 95),
        (3, 2, "ingest.read", 7, 10, 30),
        (4, 2, "ingest.read", 7, 20, 50),   # overlaps its sibling
        (5, 2, "ingest.read", 7, 60, 70),
        (6, 3, "ingest.read", 7, 25, 40),   # sticks out of its parent
    ]

    def test_children_union_is_subtracted(self):
        st = stats.self_times(self.SPANS)
        self.assertEqual(st[1], 10)
        self.assertEqual(st[2], 90 - (40 + 10))
        self.assertEqual(st[3], 20 - 5)
        self.assertEqual(st[6], 15)

    def test_by_layer(self):
        by = stats.self_time_by_layer(self.SPANS)
        self.assertEqual(by["bench"], 10)
        self.assertEqual(by["recommend"], 40)
        self.assertEqual(by["ingest"], 15 + 30 + 10 + 15)


class Determinism(unittest.TestCase):
    def test_zipf_is_seeded_and_skewed(self):
        users = list(range(200))
        a = gen.zipf_users(gen.rng_for(3, "requests"), users, 5000)
        b = gen.zipf_users(gen.rng_for(3, "requests"), users, 5000)
        c = gen.zipf_users(gen.rng_for(4, "requests"), users, 5000)
        self.assertEqual(a.tolist(), b.tolist())
        self.assertNotEqual(a.tolist(), c.tolist())
        counts = sorted((a == u).sum() for u in set(a.tolist()))
        self.assertGreater(counts[-1], 20 * counts[len(counts) // 2])

    def test_slices(self):
        bounds = gen.split_slices(10000)
        self.assertEqual(bounds[0], (0, 8000))
        self.assertEqual(len(bounds), 1 + gen.N_SLICES)
        for (lo, hi), (lo2, _) in zip(bounds[1:], bounds[2:]):
            self.assertEqual(hi, lo2)
            self.assertEqual(hi - lo, round(8000 * gen.SLICE_SHARE))

    def test_refresh_inputs_repeat_for_a_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            pa, pb = gen.generate("refresh", 11, a), gen.generate("refresh", 11, b)
            pc = gen.generate("refresh", 12, c)
            self.assertEqual(pa, pb)
            self.assertNotEqual(pa["clients"], pc["clients"])
            names = sorted(os.listdir(os.path.join(a, "slices")))
            self.assertEqual(len(names), gen.N_SLICES)
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, "slices"), os.path.join(b, "slices"), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertFalse(filecmp.cmp(os.path.join(a, "slices", names[0]),
                                         os.path.join(c, "slices", names[0]), shallow=False))
            ids = []
            for n in names:
                with open(os.path.join(a, "slices", n)) as f:
                    ids += [json.loads(ln)["event_id"] for ln in f]
            self.assertEqual(len(ids), len(set(ids)))


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(SPEC_PATH) as f:
            self.spec = json.load(f)

    def test_grammar(self):
        for ok in ("setup_s", "session.jobs", "mix.text_ms", "a-b.c_9"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", ".jobs", "_x", "a b", "a/b", "x" * 65, "ms%"):
            self.assertFalse(stats.valid_name(bad), bad)
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        names += [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertTrue(stats.valid_unit(m["unit"]), m["unit"])

    def test_every_metric_is_reported(self):
        rec = {
            "workload": "serve", "seed": 1, "traced": True, "nproc": 4, "spark_version": "x",
            "java_version": "x", "max_heap_mb": 1, "session_start_s": 1.0,
            "setup_reps_s": [2.0, 3.0, 4.0], "measured_s": 10.0, "window_s": 10.0,
            "ops": [["request", i * 10.0, 5.0 + i, True, i % 2 == 1] for i in range(30)],
            "failures": {}, "checks": [{"name": "c", "ok": True, "detail": "",
                                        "self_test_fails": True}],
            "extra": {"clients": 2}, "vm_hwm_kb": 2048, "load_avg_start": 0.5,
            "load_avg_end": 0.7,
            "trace": {"spans": [[1, 0, "recommend.request", 2, 0, 10], [2, 1, "ingest.read", 2, 1, 3]],
                      "session": {"jobs": 3}, "format": {},
                      "streaming": {"batch_ms": [], "add_batch_ms": [], "wal_commit_ms": []},
                      "files_kept": 0, "files_total": 0, "serve_plan_ms": [1.0],
                      "serve_rows_read_per_result": [2.0]},
        }
        for traced, key in ((False, "end_to_end"), (True, "per_layer")):
            line = metrics.summarize(rec, self.spec, traced)["line"]
            self.assertEqual(set(line["metrics"]), {m["name"] for m in self.spec[key]})
            self.assertTrue(line["correct"])
            self.assertEqual((line["attempted"], line["failed"]), (30, 0))
        line = metrics.summarize(rec, self.spec, False)["line"]
        self.assertEqual(line["metrics"]["setup_s"]["value"], 4.0)
        self.assertEqual(line["metrics"]["op_p50_ms"]["value"], stats.median(
            [5.0 + i for i in range(0, 30, 2)]))

    def test_a_check_that_cannot_fail_makes_the_run_incorrect(self):
        def check(ok, self_test):
            return {"name": "c", "ok": ok, "detail": "", "self_test_fails": self_test}
        self.assertTrue(metrics.correct([check(True, True), check(True, None)]))
        self.assertFalse(metrics.correct([check(True, True), check(True, False)]))
        self.assertFalse(metrics.correct([check(False, True)]))
        self.assertFalse(metrics.correct([]))


class OracleCompare(unittest.TestCase):
    def test_perturbation_is_caught(self):
        import pandas as pd
        df = pd.DataFrame({"b": [2.0, 1.0], "a": ["x", "y"]})
        same = pd.DataFrame({"a": ["y", "x"], "b": [1.0, 2.0]})
        self.assertIsNone(oracle.compare(df, same))
        self.assertIsNotNone(oracle.compare(oracle.perturb(df), same))
        empty = df.iloc[0:0]
        self.assertIsNotNone(oracle.compare(oracle.perturb(empty), empty))


if __name__ == "__main__":
    unittest.main()
