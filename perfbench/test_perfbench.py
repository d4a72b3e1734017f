#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic and declarations (no Spark):

    python3 perfbench/test_perfbench.py      # from the repository root
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import run  # noqa: E402

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def span(i, parent, name, start, end, req=0):
    return {"id": i, "parent": parent, "name": name, "req": req, "start": start, "end": end}


def stage(i, durations, **kw):
    return dict({"stage": i, "tasks": len(durations), "run_ms": sum(durations), "gc_ms": 1,
                 "shuffle_read": 10, "shuffle_write": 20, "input": 30, "output": 40,
                 "durations": durations}, **kw)


def raw_record(workload):
    """A minimal traced engine record: one untraced and one traced op, whose
    child spans (name, duration) start 10 ms apart."""
    names = {"anon_copy": [("plans.plan", 5), ("plans.propagate", 5), ("functions.scan_noop", 2),
                           ("functions.anon_noop", 6), ("functions.anon_noop", 7), ("functions.scan_noop", 3),
                           ("sinks.frames_noop", 5), ("graft.run", 8)],
             "corpus_dedup": [("dedup.corpus", 5), ("text.quality", 5), ("dedup.exact", 5), ("dedup.pairs", 5),
                              ("dedup.cluster", 5), ("dedup.keep", 5)],
             "index_ingest": [("index.append", 5), ("index.delete", 5), ("index.maintain", 5),
                              ("index.probe", 5)]}[workload]
    spans = [span(0, -1, "op", 1000.0, 1100.0, req=1)]
    spans += [span(i + 1, 0, n, 1000.0 + 10 * i, 1000.0 + 10 * i + d, req=1) for i, (n, d) in enumerate(names)]
    counts = {t: 10 for t in "region nation customer supplier part orders lineitem".split()}
    check = {"anon_copy": {"counts": counts, "source_rows": 100, "files_out": 7, "bytes_out": 1000,
                           "func_rows": 4000},
             "corpus_dedup": {"pairs_out": 3, "clusters_out": 2},
             "index_ingest": {"batch_id": 1, "compactions": 1, "segments": 5, "probe_ms": 4.0, "trace_ms": 5.0,
                              "durations": {"triggerExecution": 100, "addBatch": 90, "queryPlanning": 2,
                                            "walCommit": 3}}}[workload]
    return {
        "workload": workload, "cores": 4,
        "ops": [{"ms": 50.0, "core_ms": 50.0, "rows": 10, "traced": False, "ok": True, "error": None,
                 "check": dict(check, batch_id=0) if workload == "index_ingest" else check},
                {"ms": 100.0, "core_ms": 55.0, "rows": 10, "traced": True, "ok": True, "error": None,
                 "check": check}],
        "setup": {"session_s": 1.0, "setup_s": 2.0},
        "extra": {"live_bytes": 100, "survivors": 10},
        "trace_record": {"run_id": "t", "spans": spans,
                         "jobs": [{"id": 0, "start": 1001, "end": 1004, "stages": [0]},
                                  {"id": 1, "start": 1071, "end": 1072, "stages": [1]}],
                         "stages": [stage(0, [1, 1, 2]), stage(1, [4, 8])],
                         "scans": [{"execution_id": 7, "at": 1032.0, "files": 2, "bytes": 64},
                                   {"execution_id": 8, "at": 1030.0, "files": 5, "bytes": 100}]},
    }


class Declarations(unittest.TestCase):
    def test_names_follow_the_grammar_and_are_unique(self):
        names = [w["name"] for w in BENCH["workloads"]] + \
            [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        for n in names:
            self.assertRegex(n, M.NAME_RE, n)
        self.assertEqual(len(names), len(set(names)))
        for m in BENCH["end_to_end"] + BENCH["per_layer"]:
            self.assertRegex(m["unit"], M.UNIT_RE, m["name"])
            self.assertIn(m["better"], ("higher", "lower"))

    def test_setup_metric_is_declared(self):
        setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [dict(setup[0], unit="s", better="lower")])
        self.assertTrue(all(m["bound"] <= 0.25 for m in BENCH["end_to_end"]))

    def test_every_declared_metric_is_emitted_with_a_unit(self):
        for w in run.CHECKS:
            raw = raw_record(w)
            e2e = run.end_to_end(raw, gen_s=0.5)
            self.assertEqual(set(e2e), {m["name"] for m in BENCH["end_to_end"]}, w)
            self.assertTrue(all(v > 0 for v in e2e.values()), w)
            layer, report, overhead = M.per_layer(raw, BENCH["per_layer"])
            self.assertEqual(set(layer), {m["name"] for m in BENCH["per_layer"]}, w)
            for m in BENCH["per_layer"]:
                self.assertEqual(layer[m["name"]]["unit"], m["unit"])
                self.assertIsInstance(layer[m["name"]]["value"], float)
            self.assertEqual(overhead["overhead_ms"], 5.0)
            self.assertEqual(layer["trace.overhead_ms"]["value"], 5.0)
            self.assertEqual(len(report), len(raw["trace_record"]["spans"]))

    def test_spec_describes_exactly_the_declared_per_layer_metrics(self):
        with open(os.path.join(HERE, "spec.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(spec["per_layer"]), {m["name"] for m in BENCH["per_layer"]})


class Percentiles(unittest.TestCase):
    def test_no_tail_below_twenty_samples(self):
        self.assertIsNone(M.ptail(list(range(19))))

    def test_tail_keeps_ten_samples_beyond(self):
        for n in (20, 21, 37, 100, 1000):
            xs = list(range(n))
            p, v, count = M.ptail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            # The next percentile up would leave fewer than ten beyond it.
            k = -(-(p + 1) * n // 100)
            self.assertLess(n - k, 10, n)
        self.assertEqual(M.ptail(list(range(100)))[:2], (90, 89))
        self.assertEqual(M.ptail(list(range(20)))[:2], (50, 9))


class Spans(unittest.TestCase):
    TREE = [span(0, -1, "op", 0.0, 100.0), span(1, 0, "a", 10.0, 30.0), span(2, 0, "b", 20.0, 50.0),
            span(3, 0, "c", 90.0, 120.0), span(4, 2, "b.x", 25.0, 35.0)]

    def test_self_time_subtracts_the_union_of_children(self):
        st = M.self_times(self.TREE)
        # op: 100 minus children covering [10, 50] and [90, 100].
        self.assertEqual(st[0], 50.0)
        self.assertEqual(st[1], 20.0)
        self.assertEqual(st[2], 20.0)
        self.assertEqual(st[3], 30.0)
        self.assertEqual(st[4], 10.0)

    def test_jobs_go_to_the_innermost_open_span(self):
        jobs = [{"id": 0, "start": 26, "end": 27, "stages": []}, {"id": 1, "start": 60, "end": 61, "stages": []},
                {"id": 2, "start": 500, "end": 501, "stages": []}]
        got = {k: [j["id"] for j in v] for k, v in M.attribute_jobs(self.TREE, jobs).items()}
        self.assertEqual(got, {4: [0], 0: [1]})

    def test_spark_layer_ratios_state_their_base(self):
        stages = {0: stage(0, [10, 10, 40])}
        m = M.spark_layer(100.0, [{"id": 0, "start": 0, "end": 60, "stages": [0]}], stages, cores=2)
        self.assertEqual(m["spark.driver_gap_ms"], 40.0)
        self.assertEqual(m["spark.core_util"], 60 / (100.0 * 2))
        self.assertEqual(m["spark.task_skew"], 4.0)


class Layers(unittest.TestCase):
    def layer(self, workload):
        return {k: v["value"] for k, v in M.per_layer(raw_record(workload), BENCH["per_layer"])[0].items()}

    def test_spark_layer_covers_only_the_program_call(self):
        # Job 0 starts in the first child span, job 1 at 1071 (in graft.run
        # on anon_copy, in no child span on corpus_dedup): only the span
        # around the program call counts, or the whole op on ingest.
        self.assertEqual(self.layer("anon_copy")["spark.jobs"], 1.0)
        self.assertEqual(self.layer("corpus_dedup")["spark.jobs"], 1.0)
        self.assertEqual(self.layer("corpus_dedup")["spark.core_util"], 4 / (5.0 * 4))
        self.assertEqual(self.layer("index_ingest")["spark.jobs"], 2.0)
        self.assertEqual(self.layer("index_ingest")["spark.driver_gap_ms"], 100.0 - 3 - 1)

    def test_functions_time_is_the_median_paired_difference(self):
        m = self.layer("anon_copy")
        self.assertEqual(m["functions.anon_ms"], 4.0)
        self.assertEqual(m["functions.anon_rows_per_s"], 4000 / 4e-3)
        self.assertEqual(m["sinks.write_ms"], 3.0)

    def test_probe_scans_are_attributed_by_query_end_time(self):
        # The probe span is [1030, 1035]: a query that ended at its start
        # belongs to the span before it.
        m = self.layer("index_ingest")
        self.assertEqual(m["index.probe_files_read"], 2.0)
        self.assertEqual(m["index.probe_bytes_read"], 64.0)
        probe = [span(0, -1, "index.probe", 1030.0, 1035.4)]
        self.assertEqual([M.in_spans(at, probe) for at in (1030.0, 1030.5, 1036.0, 1036.5)],
                         [False, True, True, False])


class Oracle(unittest.TestCase):
    def test_materialized_marks_every_named_cte(self):
        sql = "WITH RECURSIVE a AS (SELECT 1),\nb AS (SELECT 2), reach(x) AS (SELECT 3) SELECT 1"
        self.assertEqual(run.materialized(sql), "WITH RECURSIVE a AS MATERIALIZED (SELECT 1),\n"
                         "b AS MATERIALIZED (SELECT 2), reach(x) AS (SELECT 3) SELECT 1")


if __name__ == "__main__":
    unittest.main()
