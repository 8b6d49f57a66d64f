"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import metrics as m  # noqa: E402


def span(i, parent, start, end, name="s", op=0):
    return {"id": i, "name": name, "parent": parent, "op": op, "start": start, "end": end}


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        v, pct, n = m.tail(xs)
        self.assertEqual(n, 30)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
        self.assertEqual(m.tail(xs), m.tail(sorted(xs)))
        self.assertEqual(m.tail(xs)[0], 1.0)  # 12 samples: 10 beyond the 2nd smallest

    def test_too_few_samples_reports_max(self):
        self.assertEqual(m.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(m.tail([]), (0.0, 0.0, 0))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
                 span(3, 1, 15, 20)]
        st = m.self_times(spans)
        self.assertEqual(st[0], 100 - 50)  # children cover 10..60 with overlap
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_child_clipped_to_parent(self):
        st = m.self_times([span(0, -1, 0, 10), span(1, 0, 5, 20)])
        self.assertEqual(st[0], 5)


class Attribution(unittest.TestCase):
    def test_innermost_open_span_by_time(self):
        spans = [span(0, -1, 0, 100, "pass"), span(1, 0, 10, 50, "operators.a"),
                 span(2, 1, 20, 30, "inner"), span(3, 0, 60, 90, "operators.b")]
        jobs = [{"id": 1, "start": 5}, {"id": 2, "start": 12}, {"id": 3, "start": 25},
                {"id": 4, "start": 55}, {"id": 5, "start": 70}, {"id": 6, "start": 150}]
        got = {k: [j["id"] for j in v] for k, v in m.attribute(spans, jobs).items()}
        self.assertEqual(got, {0: [1, 4], 1: [2], 2: [3], 3: [5]})

    def test_traced_jobs_per_program(self):
        raw = {
            "trace": True, "functions": {}, "extra": {},
            "passes": [{"pass": 0, "start": 0, "end": 100, "gc_ms": 0, "heap_bytes": 1}],
            "ops": [], "spans": [span(0, -1, 0, 100, "pass"),
                                 span(1, 0, 10, 40, "operators.wordcount")],
            "events": {"jobs": [{"id": 1, "start": 15, "end": 20, "desc": ""},
                                {"id": 2, "start": 50, "end": 55,
                                 "desc": "Listing leaf files and directories"}],
                       "tasks": [{"stage": 0, "attempt": 0, "start": 16, "end": 19,
                                  "run_ms": 3, "ok": True, "shuffle_w": 0, "shuffle_r": 0,
                                  "spill": 0, "input": 1 << 20}],
                       "progress": [], "files_read": [[17, 2]]}}
        t = layers.traced(raw, "batch_course", 0.0)
        self.assertEqual(set(t), set(layers.trace_names()))
        self.assertEqual(t["operators.wordcount.jobs"][0], 1)
        self.assertEqual(t["operators.wordcount.s"][0], 0.03)
        self.assertEqual(t["spark.jobs"][0], 2)
        self.assertEqual(t["Tables.listing_jobs"][0], 1)
        self.assertEqual(t["Tables.files_read"][0], 2)
        self.assertEqual(t["Tables.input_mb"][0], 1.0)
        self.assertAlmostEqual(t["spark.idle_s"][0], 0.097)


class Triggers(unittest.TestCase):
    def test_placed_by_their_own_start(self):
        # Progress of the last trigger may be delivered after the op has
        # returned; the trigger still belongs to the op that ran it.
        op = {"start": 100, "end": 400}
        prog = [{"batch": 0, "start": 90, "rows": 5, "durations": {"triggerExecution": 5}},
                {"batch": 1, "start": 120, "rows": 5, "durations": {"triggerExecution": 100}},
                {"batch": 2, "start": 230, "rows": 5, "durations": {"triggerExecution": 160}},
                {"batch": 3, "start": 395, "rows": 0, "durations": {"triggerExecution": 4}}]
        raw = {"events": {"progress": prog}}
        self.assertEqual([p["batch"] for p in layers.triggers(raw, op)], [1, 2])

    def test_jobs_per_trigger_window(self):
        raw = {
            "trace": True, "functions": {}, "extra": {}, "spans": [],
            "passes": [{"pass": 0, "start": 0, "end": 500, "gc_ms": 0, "heap_bytes": 1}],
            "ops": [{"pass": 0, "kind": "stream", "name": "neardedup", "start": 10,
                     "end": 400, "ok": True, "err": ""}],
            "events": {"jobs": [{"id": i, "start": t, "end": t + 1, "desc": ""}
                                for i, t in enumerate([105, 150, 199, 205, 260])],
                       "tasks": [], "files_read": [],
                       "progress": [{"batch": b, "start": s, "rows": 1,
                                     "durations": {"triggerExecution": 100}}
                                    for b, s in ((0, 100), (1, 200))]}}
        t = layers.traced(raw, "stream_ingest", 0.0)
        self.assertEqual(t["streaming.jobs_per_trigger"][0], 2.5)  # 3 jobs, then 2
        self.assertEqual(t["streaming.trigger_p50_s"][0], 0.1)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_hash(self):
        for w in ("ann_mixed", "stream_ingest", "batch_course"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                ma, mb = gen.generate(w, 7, a), gen.generate(w, 7, b)
                self.assertEqual(ma["sha256"], mb["sha256"], w)
                self.assertEqual(ma["files"], mb["files"], w)

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(gen.generate("ann_mixed", 1, a)["sha256"],
                                gen.generate("ann_mixed", 2, b)["sha256"])

    def test_ann_schedule_deletes_only_live_ids(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("ann_mixed", 3, d)
            live = set(range(gen.SIZES["ann_mixed"]["embeddings"]))
            with open(os.path.join(d, "ops.txt")) as f:
                for line in f:
                    op, *ids = line.split()
                    ids = {int(x) for x in ids}
                    if op == "upsert":
                        self.assertFalse(ids & live)
                        live |= ids
                    elif op == "delete":
                        self.assertTrue(ids <= live)
                        live -= ids


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match_the_report(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([x["name"] for x in b["end_to_end"]], layers.e2e_names())
        self.assertEqual([(x["name"], x["unit"]) for x in b["per_layer"]],
                         [(n, layers.unit_of(n)) for n in layers.trace_names()])
        self.assertEqual([w["name"] for w in b["workloads"]], list(gen.SIZES))


if __name__ == "__main__":
    unittest.main()
