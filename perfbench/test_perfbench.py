"""Tests of the benchmark's own generator and checker (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


class Small:
    """Shrinks the generator's sizes for the duration of a test."""

    def __enter__(self):
        self.saved = {k: dict(getattr(gen, k)) for k in ("INGEST", "SERVE", "CORPUS", "ANN")}
        gen.INGEST.update(batches=3, rows=400)
        gen.SERVE.update(rows_per_day=200, requests=60, history_rows=60)
        gen.CORPUS.update(docs=600, warm_docs=50)
        gen.ANN.update(base=500, ingest_files=2, query_files=3)
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            getattr(gen, k).clear()
            getattr(gen, k).update(v)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with Small(), tempfile.TemporaryDirectory() as tmp:
            for w in gen.WORKLOADS:
                a, b, c = (os.path.join(tmp, w, x) for x in "abc")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                files = tree(a)
                self.assertTrue(files, w)
                self.assertEqual(files, tree(b), w)
                match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)
                _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
                self.assertTrue(differ, f"{w}: another seed gave the same inputs")

    def test_ingest_injects_every_dlq_reason(self):
        with Small(), tempfile.TemporaryDirectory() as tmp:
            gen.generate("weather_ingest", 3, tmp)
            man = json.load(open(os.path.join(tmp, "manifest.json")))
            for r in gen.DLQ_REASONS:
                self.assertGreater(man["injected"][r], 0, r)
            self.assertGreater(man["injected"]["dup_rows"], 0)
            self.assertGreater(man["injected"]["late_rows"], 0)


def write_rows(path, cols):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


class CheckerTest(unittest.TestCase):
    """The checker accepts a right answer and rejects a wrong one."""

    def ingest_outputs(self, data, out, corrupt):
        files = sorted(os.listdir(os.path.join(data, "batches")))
        ev = check.read_events([os.path.join(data, "batches", f) for f in files])
        valid, reasons = [], []
        for r in zip(ev["event_id"], ev["user_id"], ev["ts"], ev["event_type"], ev["value"], ev["props"]):
            why = check.dlq_reason(r[1], r[2], r[3], r[4])
            (reasons.append(why) if why else valid.append(r))
        rows = sorted(check.keep_last(valid).values())
        if corrupt:
            rows = rows[1:]  # one key lost on the way
        cols = list(zip(*rows))
        write_rows(os.path.join(out, "final_table"), {
            "event_id": list(cols[0]), "user_id": list(cols[1]), "ts_us": list(cols[2]),
            "event_type": list(cols[3]), "value": list(cols[4]), "props": list(cols[5])})
        write_rows(os.path.join(out, "dlq"), {"reason": reasons})
        return {"counts": {"batches_delivered": len(files), "dlq_dir": os.path.join(out, "dlq")}, "checks": []}

    def test_weather_ingest(self):
        with Small(), tempfile.TemporaryDirectory() as tmp:
            data = os.path.join(tmp, "data")
            gen.generate("weather_ingest", 5, data)
            for corrupt in (False, True):
                out = os.path.join(tmp, f"out{corrupt}")
                res = self.ingest_outputs(data, out, corrupt)
                fails, facts = check.run("weather_ingest", data, out, res)
                self.assertEqual(bool(fails), corrupt, fails)
                self.assertGreater(facts["dup_ratio"], 1.0)

    def test_corpus_curate_rejects_a_kept_exact_copy(self):
        with Small(), tempfile.TemporaryDirectory() as tmp:
            data = os.path.join(tmp, "data")
            gen.generate("corpus_curate", 5, data)
            man = json.load(open(os.path.join(data, "manifest.json")))
            copies = {d for g in man["exact_groups"] for d in g[1:]}
            ids = pq.read_table(os.path.join(data, "documents.parquet")).column("doc_id").to_pylist()
            for wrong in (False, True):
                run = os.path.join(tmp, f"run{wrong}")
                kept = [d for d in ids if d not in copies or wrong]
                write_rows(os.path.join(run, "curated"), {"doc_id": kept})
                write_rows(os.path.join(run, "packed"), {"doc_id": kept[:10]})
                fails, _ = check.run("corpus_curate", data, tmp, {"counts": {"runs": [run]}})
                self.assertEqual(bool(fails), wrong, fails)

    def test_corpus_curate_rejects_runs_without_output(self):
        with Small(), tempfile.TemporaryDirectory() as tmp:
            data = os.path.join(tmp, "data")
            gen.generate("corpus_curate", 5, data)
            runs = [os.path.join(tmp, f"run{i}") for i in range(2)]
            for run in runs:
                os.makedirs(run)  # every run threw before writing its packed set
            fails, _ = check.run("corpus_curate", data, tmp, {"counts": {"runs": runs}})
            self.assertTrue(fails)
            fails, _ = check.run("corpus_curate", data, tmp, {"counts": {"runs": []}})
            self.assertTrue(fails)

    def test_weather_ingest_rejects_no_batches(self):
        with Small(), tempfile.TemporaryDirectory() as tmp:
            data = os.path.join(tmp, "data")
            gen.generate("weather_ingest", 5, data)
            out = os.path.join(tmp, "out")
            write_rows(os.path.join(out, "dlq"), {"reason": pa.array([], pa.string())})
            res = {"counts": {"batches_delivered": 0, "dlq_dir": os.path.join(out, "dlq")}, "checks": []}
            fails, _ = check.run("weather_ingest", data, out, res)
            self.assertTrue(fails)

    def test_weather_serve_rejects_a_stale_cached_answer(self):
        table = [(1, 3, 100, "view", 10.0), (2, 3, 200, "view", 30.0), (3, 4, 150, "click", 5.0)]
        want = check.station_answers(table, "agg_station", 3, 0, 1000)
        self.assertTrue(check.same(check.program_answer("agg_station", [
            {"avg_value": 20.0, "min_value": 10.0, "max_value": 30.0, "n": 2}]), want))
        self.assertFalse(check.same(check.program_answer("agg_station", [
            {"avg_value": 10.0, "min_value": 10.0, "max_value": 10.0, "n": 1}]), want))
        self.assertEqual(check.station_answers(table, "raw_station", 3, 0, 1000), [2, 1])
        self.assertEqual(check.station_answers(table, "latest_per_key", None, None, None), [[3, 2], [4, 3]])


class ReportTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [{"id": 1, "parent": 0, "layer": "a", "start_ns": 0, "end_ns": 100, "request": 1},
                 {"id": 2, "parent": 1, "layer": "b", "start_ns": 10, "end_ns": 40, "request": 1},
                 {"id": 3, "parent": 1, "layer": "b", "start_ns": 30, "end_ns": 60, "request": 1}]
        self.assertEqual(report.self_times(spans), {"a": 50 / 1e6, "b": 60 / 1e6})

    def test_probe_samples_reach_the_table(self):
        res = {"counts": {}, "samples": {"probe/station.raw_station.build_ms": [4.0, 6.0],
                                         "probe/functions.vec_dot.ms": [2.0]}}
        with tempfile.TemporaryDirectory() as out:
            table, _ = report.per_layer("weather_serve", None, out, res, {})
        self.assertEqual(table["station.raw_station.build_ms"]["value"], 5.0)
        self.assertEqual(table["functions.vec_dot_ms"]["value"], 2.0)

    def test_metric_names_match_benchmark_json(self):
        spec = json.load(open(os.path.join(os.path.dirname(report.HERE), "BENCHMARK.json")))
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, set(report.CONTRACT_E2E))
        with tempfile.TemporaryDirectory() as out:
            table, _ = report.per_layer("weather_ingest", None, out, {"counts": {}, "samples": {}}, {})
        self.assertEqual({m["name"] for m in spec["per_layer"]}, set(table))
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(gen.WORKLOADS))
        layers = json.load(open(os.path.join(report.HERE, "layers.json")))
        for entry in layers["layers"]:
            self.assertLessEqual(set(entry["metrics"]), set(table), entry["layer"])

    def test_span_layers_match_the_harness(self):
        """The layer tags perfbench.Layers puts on spans are the ones report.py reports."""
        src = open(os.path.join(report.HERE, "src", "perfbench", "Workloads.scala")).read()
        block = re.search(r"object Layers \{(.*?)\n\}", src, re.S).group(1)
        self.assertEqual(set(re.findall(r'= "([^"]+)"', block)), set(report.LAYERS))


if __name__ == "__main__":
    unittest.main()
