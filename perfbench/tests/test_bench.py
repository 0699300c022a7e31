"""Tests of the benchmark's own machinery: the seeded generator, the result
comparator and the arithmetic behind the metrics.

  python3 -m unittest discover -s perfbench/tests
"""
import collections
import json
import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

SMALL = ["--events", "500", "--keys", "20", "--span-minutes", "60",
         "--docs", "40", "--chain-max", "4", "--path-len", "12",
         "--vecs", "50"]


def scratch():
    root = os.path.join(os.path.dirname(BENCH), ".bench_build", "tests")
    os.makedirs(root, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=root)


def read_all(d):
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(base, n), "rb") as f:
                out[os.path.relpath(os.path.join(base, n), d)] = f.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with scratch() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.main(["--out", a, "--seed", "7"] + SMALL)
            gen.main(["--out", b, "--seed", "7"] + SMALL)
            gen.main(["--out", c, "--seed", "8"] + SMALL)
            fa, fb, fc = read_all(a), read_all(b), read_all(c)
            self.assertEqual(sorted(fa), ["documents.parquet",
                                          "embeddings.parquet",
                                          "events.parquet", "inputs.json",
                                          "paths/documents.parquet"])
            self.assertEqual(fa, fb)
            for n in ("events.parquet", "documents.parquet",
                      "embeddings.parquet", "paths/documents.parquet"):
                self.assertNotEqual(fa[n], fc[n], n)

    def test_properties_recorded_and_respected(self):
        with scratch() as t:
            gen.main(["--out", t, "--seed", "1"] + SMALL)
            ev = pd.read_parquet(os.path.join(t, "events.parquet"))
            self.assertEqual(len(ev), 500)
            self.assertLessEqual(ev.user_id.nunique(), 20)
            self.assertTrue(ev.ts.is_monotonic_increasing and ev.ts.is_unique)
            docs = pd.read_parquet(os.path.join(t, "documents.parquet"))
            self.assertEqual(len(docs), 40)
            with open(os.path.join(t, "inputs.json")) as f:
                props = f.read()
            for key in ("keys", "mix", "span_minutes", "chain_max", "longest_chain", "path_len",
                        "path_hops", "doc_words", "clusters"):
                self.assertIn(key, props)

    def test_path_chain_is_a_path_not_a_clique(self):
        with scratch() as t:
            gen.main(["--out", t, "--seed", "3", "--path-len", "40"])
            with open(os.path.join(t, "inputs.json")) as f:
                hops = json.load(f)["path_hops"]
            docs = pd.read_parquet(os.path.join(t, "paths",
                                                "documents.parquet"))
        self.assertEqual(len(docs), 40)
        # the longest shortest path is several links, so a fixpoint over
        # the near-duplicate graph needs more than one or two rounds
        self.assertGreaterEqual(hops, 3)
        sets = [gen.shingles(x) for x in docs.text]
        linked = sum(gen.jaccard(a, b) >= 0.6
                     for i, a in enumerate(sets) for b in sets[i + 1:])
        self.assertGreater(linked, 39)       # every step, and more
        self.assertLess(linked, 40 * 39 / 2)  # but not all pairs

    def test_missing_property_is_refused(self):
        with scratch() as t, self.assertRaises(SystemExit):
            gen.main(["--out", t, "--seed", "1", "--events", "10"])


class ComparatorTest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"user_id": np.array([1, 2, 3], dtype=np.int64),
                             "total": [1.5, 2.25, 0.1],
                             "kind": ["a", "b", "c"]})

    def test_identical_results_pass(self):
        ok, detail = compare.compare(self.frame(), self.frame())
        self.assertTrue(ok, detail)

    def test_column_order_does_not_matter(self):
        f = self.frame()
        self.assertTrue(compare.compare(f, f[["kind", "total", "user_id"]])[0])

    def test_perturbations_are_flagged(self):
        base = self.frame()
        one_ulp = base.copy()
        one_ulp.loc[2, "total"] = np.nextafter(0.1, 1.0)
        neg_zero = base.copy()
        neg_zero.loc[0, "total"] = 0.0
        neg_zero2 = neg_zero.copy()
        neg_zero2.loc[0, "total"] = -0.0
        text = base.copy()
        text.loc[1, "kind"] = "x"
        swapped = base.iloc[[1, 0, 2]].reset_index(drop=True)
        as_float = base.astype({"user_id": "float64"})
        for name, bad in (("ulp", one_ulp), ("text", text),
                          ("order", swapped), ("dtype", as_float),
                          ("rows", base.iloc[:2]),
                          ("columns", base.drop(columns="kind"))):
            ok, detail = compare.compare(bad, base)
            self.assertFalse(ok, name)
            self.assertTrue(detail, name)
        self.assertFalse(compare.compare(neg_zero, neg_zero2)[0])

    def test_empty_results_fail(self):
        empty = self.frame().iloc[:0]
        self.assertFalse(compare.compare(empty, empty)[0])

    def test_components_label_with_smallest_reachable_id(self):
        got = compare.components([(5, 3), (3, 9), (7, 8)])
        self.assertEqual(got.doc_id.tolist(), [3, 5, 7, 8, 9])
        self.assertEqual(got.component_id.tolist(), [3, 3, 7, 7, 3])
        self.assertEqual(got.component_size.tolist(), [3, 3, 2, 2, 3])


class StatsTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(0))
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_quantile_interpolates(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(stats.quantile(xs, 0), 1)
        self.assertEqual(stats.quantile(xs, 50), 2.5)
        self.assertEqual(stats.quantile(xs, 100), 4)
        self.assertAlmostEqual(stats.quantile(list(range(101)), 90), 90.0)
        self.assertIsNone(stats.quantile([], 50))

    def test_union_of_job_intervals(self):
        self.assertEqual(stats.union_length([]), 0)
        # overlapping, nested, touching and disjoint intervals
        self.assertEqual(stats.union_length(
            [(0, 10), (5, 15), (6, 7), (15, 20), (30, 31)]), 21)
        self.assertEqual(stats.merge([(3, 4), (0, 2), (1, 3)]), [(0, 4)])
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_self_time_with_overlapping_children(self):
        span = (100, 200)
        # children overlap each other and one sticks out of the span
        kids = [(110, 150), (140, 160), (190, 230)]
        self.assertEqual(stats.covered(span, kids), 60)
        self.assertEqual(stats.self_time(span, kids), 40)
        self.assertEqual(stats.self_time(span, []), 100)
        self.assertEqual(stats.self_time(span, [(0, 300)]), 0)

    def test_timeline_finds_containing_span(self):
        line = stats.Timeline([(10, 20, "a"), (0, 5, "b"), (30, 40, "c")])
        self.assertEqual(line.find(3)[2], "b")
        self.assertEqual(line.find(20)[2], "a")
        self.assertIsNone(line.find(25))
        self.assertIsNone(line.find(-1))


class MetricsTest(unittest.TestCase):
    def trace(self):
        tr = collections.defaultdict(list)
        tr["op"] = [
            {"name": "a", "kind": "deploy", "family": "fold", "start": 0,
             "end": 1000, "dur_ms": 1000, "plan_ms": 900, "rows_in": 10,
             "ok": True, "same": True},
            {"name": "b", "kind": "deploy", "family": "native",
             "start": 1000, "end": 1500, "dur_ms": 500, "plan_ms": 450,
             "rows_in": 10, "ok": True, "same": True}]
        dur = {"triggerExecution": 300, "addBatch": 200}
        state = {"state_rows": 0, "state_bytes": 0, "state_commit_ms": 0,
                 "state_removed": 0}
        tr["trigger"] = [
            dict(batch=0, start=100, dur=dur, **state),
            dict(batch=1, start=500, dur=dur, **state),
            dict(batch=0, start=1100, dur=dur,
                 **dict(state, state_rows=40, state_bytes=1000))]
        tr["job"] = [
            {"id": 1, "start": 150, "end": 250, "stages": [1, 2],
             "site": "write:T", "ok": True},
            {"id": 2, "start": 200, "end": 300, "stages": [3],
             "site": "probe:T", "ok": True},
            {"id": 3, "start": 1200, "end": 1300, "stages": [4], "site": "",
             "ok": True},
            {"id": 4, "start": 2000, "end": 2100, "stages": [5], "site": "",
             "ok": True}]  # outside every op: not counted
        stage = {"attempt": 0, "ok": True, "tasks": 2, "failed_tasks": 0,
                 "nonempty_tasks": 1, "cpu_ms": 5.0,
                 "sched_ms": 1, "input_bytes": 10, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0}
        tr["stage"] = [dict(stage, id=i, start=0, end=0) for i in range(1, 6)]
        tr["query"] = []
        tr["summary"] = [{"setup_s": [3.0, 1.0, 2.0], "vm_hwm_kb": 2048,
                          "heap_after_gc_mb": 300.5}]
        return tr

    def test_layers_attribute_jobs_to_ops_and_triggers(self):
        m = metrics.layers(self.trace())
        self.assertEqual(m["spark.jobs"]["value"], 1.5)
        self.assertEqual(m["spark.stages"]["value"], 2.0)
        # op a: jobs cover [150, 300] = 150 ms of 1000; op b: 100 of 500
        self.assertEqual(m["spark.job_busy_ms"]["value"], 125.0)
        self.assertEqual(m["spark.outside_jobs_ms"]["value"], 625.0)
        self.assertEqual(m["spark.jobs_per_trigger.fold"]["value"], 1.0)
        self.assertEqual(m["spark.stages_per_trigger.fold"]["value"], 1.5)
        self.assertEqual(m["spark.jobs_per_trigger.native"]["value"], 1.0)
        self.assertEqual(m["state.rows_total"]["value"], 40)
        self.assertEqual(m["spark.nonempty_task_ratio"]["value"], 0.5)
        self.assertEqual(m["live.fold.write_jobs_per_trigger"]["value"], 0.5)

    def test_end_to_end_live_latency_is_per_trigger(self):
        m = metrics.end_to_end(self.trace(), "live")
        self.assertEqual(m["setup_s"]["value"], 2.0)
        self.assertAlmostEqual(m["latency_ms_gm"]["value"], 300)
        self.assertEqual(m["latency_ms_gm"]["n"], 3)
        self.assertEqual(m["latency_ms_p50"]["value"], 300)
        self.assertAlmostEqual(m["op_s_gm"]["value"], (1.0 * 0.5) ** 0.5)
        self.assertEqual(m["op_s_p50"]["value"], 0.75)
        self.assertAlmostEqual(m["rows_per_s"]["value"], 20 / 1.5)
        self.assertEqual(m["peak_rss_mb"]["value"], 2.0)
        self.assertEqual(m["heap_retained_mb"]["value"], 300.5)

    def test_gmean_weighs_each_kind_alike(self):
        g = metrics.gmean_of_medians({"a": [1.0, 100.0, 4.0],
                                      "b": [9.0], "c": []})
        self.assertAlmostEqual(g, 6.0)  # medians 4 and 9
        self.assertIsNone(metrics.gmean_of_medians({}))

    def test_span_self_times(self):
        spans = {s["id"]: s for s in metrics.spans(self.trace())}
        # op0: deploy [0,100], triggers [100,400] and [500,800],
        # teardown [800,900], execute [900,1000]: no gap left but 400-500
        self.assertEqual(spans["op0"]["self_ms"], 100)
        trig = next(s for s in spans.values()
                    if s["op"] == "op0" and s["name"] == "trigger:0")
        self.assertEqual(trig["self_ms"], 300 - 150)  # jobs cover 150..300
        self.assertEqual(spans["op0.job1"]["parent"], trig["id"])


if __name__ == "__main__":
    unittest.main()
