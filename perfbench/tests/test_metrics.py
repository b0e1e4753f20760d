"""Tests of the benchmark's own rules, on synthetic harness records.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import metrics  # noqa: E402

EXPECTED = json.loads(checks.EXPECTED.read_text())
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def op(i, kind, name, window, start, ms, **kw):
    return dict(id=i, kind=kind, name=name, window=window, due=start, start=start,
                end=start + ms, ok=True, compiles=1, compile_ms=2.0, **kw)


def closed_loop_raw(workload):
    """A traced closed-loop run: four units per window, each with spans,
    counters and Catalyst phases."""
    ops, spans, counters, phases = [], [], {}, []
    names = (["q1_sort_limit", "q2_count"] if workload == "athena_surface"
             else ["q_pagerank", "q_lpa"])
    unit, leaf = (("pass", "query") if workload == "athena_surface" else ("round", "call"))
    i, t = 0, 1000.0
    for window in ("untraced", "traced"):
        for _ in range(4):
            calls = []
            t0 = t
            for name in names:
                i += 1
                load = i + 1000
                o = op(i, leaf, name, window, t, 100.0, hash=EXPECTED[name]["hash"],
                       loads=[{"id": load, "table": "t", "ms": 7.0}])
                ops.append(o)
                calls.append(i)
                counters[str(i)] = {"jobs": 3, "build_jobs": 1, "stages": 3, "tasks": 4,
                                    "task_run_ms": 20.0, "task_cpu_ms": 10.0}
                counters[str(load)] = {"jobs": 1}
                if window == "traced":
                    spans += [
                        {"id": 10 * i, "op": i, "name": f"op:{name}", "parent": 0,
                         "start": t, "end": t + 100},
                        {"id": 10 * i + 1, "op": i, "name": "operators.build",
                         "parent": 10 * i, "start": t, "end": t + 40},
                        {"id": 10 * i + 2, "op": i, "name": "action",
                         "parent": 10 * i, "start": t + 40, "end": t + 100}]
                    phases.append({"files": 1, "phases": {
                        "analysis": {"start": t + 30, "end": t + 35},
                        "optimization": {"start": t + 41, "end": t + 45},
                        "planning": {"start": t + 45, "end": t + 50}}})
                t += 100.0
            ops.append(dict(id=i + 500, kind=unit, name=unit, window=window, due=t0,
                            start=t0, end=t, ok=True, calls=calls))
            i += 1
    return {"workload": workload, "setup_s": [3.0, 0.5, 0.4], "heap_live_mb": 80.0,
            "process_cpu_ms": 4000.0, "ops": ops, "spans": spans,
            "op_counters": counters, "query_phases": phases, "progress": []}


def ingest_run(tmp, late_ms=3.0):
    """An ingest run on disk: two files, the streaming source and sink logs
    that landed them in one batch each, and a final reader pass."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src, ckpt, landed = (tmp / "src", tmp / "ckpt" / "sources" / "0",
                         tmp / "landed" / "_spark_metadata")
    for d in (src, ckpt, landed):
        d.mkdir(parents=True)
    rows = [{"name": "Mr. First0 Last1", "gender": "male", "address": "1, Mill Lane",
             "city": "Riverton", "nation": "Utopia", "zip": "123", "latitude": 51.5,
             "longitude": -0.1, "email": "user0@example.com"},
            {"name": "", "gender": "female", "address": "2, Mill Lane", "city": "Lakeside",
             "nation": "Erewhon", "zip": "456", "latitude": None, "longitude": 3.25,
             "email": "user0@example.com"}]
    files, reader_sql = [], {"r_count": "SELECT count(*) AS cnt FROM graft.names"}
    for b, row in enumerate(rows):
        name = f"f{b:05d}.json"
        (src / name).write_text(json.dumps({k: v for k, v in row.items() if v is not None}) + "\n")
        part = tmp / "landed" / f"part-{b}.parquet"
        pq.write_table(pa.Table.from_pylist([row]), part)
        (ckpt / str(b)).write_text("v1\n" + json.dumps(
            {"path": f"file://{src / name}", "timestamp": 0, "batchId": b}) + "\n")
        (landed / str(b)).write_text("v1\n" + json.dumps(
            {"path": f"file://{part}", "size": part.stat().st_size, "action": "add"}) + "\n")
        commit = os.stat(landed / str(b)).st_mtime_ns / 1e6
        due = commit - 250.0
        files.append({"file": name, "due": due, "moved": due + late_ms,
                      "window": "untraced"})
    count_hash = checks.hash_df(checks.canon(__import__("pandas").DataFrame({"cnt": [2]})))
    return {"workload": "ingest_query_mix", "setup_s": [2.0, 1.0, 1.1], "heap_live_mb": 90.0,
            "process_cpu_ms": 900.0, "files": files, "records_per_file": 1,
            "reader_sql": reader_sql, "source_dir": str(src),
            "landed_dir": str(tmp / "landed"), "checkpoint_dir": str(tmp / "ckpt"),
            "ops": [dict(op(1, "read", "r_count", "untraced", files[0]["due"], 50.0),
                         hash="x"),
                    dict(op(2, "read", "r_count", "final", files[1]["due"], 50.0),
                         hash=count_hash)]}


class MetricNames(unittest.TestCase):
    def test_declared_metrics_match_the_code(self):
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["end_to_end"]}, metrics.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["per_layer"]}, metrics.LAYER_UNITS)
        self.assertEqual([w["name"] for w in BENCH["workloads"]],
                         ["athena_surface", "iterative_rebuild", "ingest_query_mix"])

    def test_every_metric_is_emitted_with_a_unit(self):
        for workload in ("athena_surface", "iterative_rebuild"):
            raw = closed_loop_raw(workload)
            e2e, report = metrics.e2e_metrics(raw)
            self.assertEqual(set(e2e), set(metrics.E2E_UNITS))
            layers = metrics.layer_metrics(raw)
            self.assertEqual(set(layers), set(metrics.LAYER_UNITS))
            for name, (value, unit) in report.items():
                self.assertTrue(unit, name)
        with tempfile.TemporaryDirectory() as tmp:
            raw = ingest_run(Path(tmp))
            facts = checks.ingest_facts(raw)
            e2e, report = metrics.e2e_metrics(raw, facts)
            self.assertEqual(set(e2e), set(metrics.E2E_UNITS))
            for name in ("ingest_latency_p50_ms", "ingest_drain_s", "reader_p50_ms",
                         "generator_late_ms", "setup_s", "heap_live_mb"):
                self.assertIn(name, report)
            self.assertAlmostEqual(report["ingest_latency_p50_ms"][0], 250.0, places=3)

    def test_layer_values_per_operation(self):
        m = metrics.layer_metrics(closed_loop_raw("athena_surface"))
        self.assertAlmostEqual(m["operators.build_ms"], 40.0)
        self.assertAlmostEqual(m["catalyst.optimization_ms"], 4.0)
        self.assertAlmostEqual(m["catalyst.analysis_ms"], 5.0)
        self.assertAlmostEqual(m["scheduler.jobs"], 3.0)
        self.assertAlmostEqual(m["sources.load_ms"], 7.0)
        self.assertAlmostEqual(m["sources.load_jobs"], 1.0)
        self.assertAlmostEqual(m["executor.cpu_per_run"], 0.5)
        rounds = metrics.layer_metrics(closed_loop_raw("iterative_rebuild"))
        self.assertAlmostEqual(rounds["scheduler.jobs"], 6.0)  # two calls per round


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertNotIn("x_p95_ms", metrics.timing("x", list(range(199))))
        self.assertIn("x_p90_ms", metrics.timing("x", list(range(199))))
        self.assertIn("x_p95_ms", metrics.timing("x", list(range(200))))
        self.assertIn("x_p99_ms", metrics.timing("x", list(range(1000))))
        few = metrics.timing("x", list(range(39)))
        self.assertEqual(sorted(few), ["x_n", "x_p50_ms"])

    def test_count_is_reported(self):
        self.assertEqual(metrics.timing("x", [1.0, 2.0, 3.0])["x_n"], (3, "count"))
        self.assertEqual(metrics.timing("x", [1.0, 2.0, 3.0])["x_p50_ms"], (2.0, "ms"))


class Generator(unittest.TestCase):
    def test_late_generator_fails_the_run(self):
        with tempfile.TemporaryDirectory() as tmp:
            on_time = ingest_run(Path(tmp) / "a", late_ms=3.0)
            self.assertEqual(checks.problems(on_time, checks.ingest_facts(on_time)), [])
            late = ingest_run(Path(tmp) / "b", late_ms=metrics.GENERATOR_LATE_LIMIT_MS + 1)
            bad = checks.problems(late, checks.ingest_facts(late))
            self.assertEqual(len(bad), 1)
            self.assertIn("late", bad[0])

    def test_lost_record_and_wrong_reader_answer_fail_the_run(self):
        with tempfile.TemporaryDirectory() as tmp:
            raw = ingest_run(Path(tmp))
            raw["ops"][1]["hash"] = "wrong"
            os.remove(Path(raw["landed_dir"]) / "_spark_metadata" / "1")
            bad = checks.problems(raw, checks.ingest_facts(raw))
            self.assertTrue(any("never landed" in b for b in bad))
            self.assertTrue(any("final r_count" in b for b in bad))

    def test_wrong_query_result_fails_the_run(self):
        raw = closed_loop_raw("athena_surface")
        self.assertEqual(checks.problems(raw), [])
        raw["ops"][0]["hash"] = "0" * 64
        self.assertEqual(len(checks.problems(raw)), 1)


class Spans(unittest.TestCase):
    def test_self_times_add_up_to_the_root(self):
        spans = [
            {"id": 1, "op": 1, "name": "op", "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "op": 1, "name": "build", "parent": 1, "start": 0.0, "end": 30.0},
            {"id": 3, "op": 1, "name": "action", "parent": 1, "start": 30.0, "end": 95.0},
            {"id": 4, "op": 1, "name": "plan", "parent": 3, "start": 30.0, "end": 40.0},
        ]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs, {1: 5.0, 2: 30.0, 3: 55.0, 4: 10.0})
        self.assertAlmostEqual(sum(selfs.values()), 100.0)
        self.assertEqual(metrics.reconcile(spans), {1: 0.0})

    def test_overlapping_children_are_covered_once(self):
        spans = [
            {"id": 1, "op": 1, "name": "op", "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "op": 1, "name": "a", "parent": 1, "start": 10.0, "end": 60.0},
            {"id": 3, "op": 1, "name": "b", "parent": 1, "start": 40.0, "end": 70.0},
        ]
        self.assertEqual(metrics.self_times(spans)[1], 40.0)
        # the overlap is concurrency: the tree's self times exceed the wall
        self.assertAlmostEqual(metrics.reconcile(spans)[1], 0.2)

    def test_phases_attach_to_the_innermost_span(self):
        spans = [
            {"id": 1, "op": 7, "name": "op", "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "op": 7, "name": "action", "parent": 1, "start": 50.0, "end": 100.0},
        ]
        out = metrics.attach_phases(spans, [{"phases": {
            "optimization": {"start": 52, "end": 60}, "execution": {"start": 60, "end": 99},
            "analysis": {"start": 200, "end": 210}}}])
        added = [s for s in out if s["name"].startswith("catalyst.")]
        self.assertEqual(len(added), 1)
        self.assertEqual((added[0]["parent"], added[0]["op"]), (2, 7))
        self.assertEqual(metrics.self_times(out)[2], 42.0)


if __name__ == "__main__":
    unittest.main()
