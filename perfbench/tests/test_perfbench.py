"""Tests of the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import gen  # noqa: E402
import metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def digests(d):
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for kind in sorted(gen.GENERATORS):
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.GENERATORS[kind](5, a)
                gen.GENERATORS[kind](5, b)
                gen.GENERATORS[kind](6, c)
                da, db, dc = digests(a), digests(b), digests(c)
                self.assertEqual(da, db, kind)
                self.assertIn("plant.json", da)
                self.assertNotEqual(da, dc, kind)

    def test_satellite_plant_records_its_properties(self):
        with tempfile.TemporaryDirectory() as t:
            p = gen.gen_satellite(3, t)
        self.assertGreater(p["discovered"], 0)
        self.assertGreater(p["bodies_under_limit"], p["discovered"])  # top-K bites
        for kind in ("f1_footprint", "f2_window", "f3_cloudy", "f4_in_sink", "selected"):
            self.assertGreater(p["reject_share"][kind], 0, kind)
        self.assertGreaterEqual(p["raster_sides"]["max"], 224)  # a few near the cap
        self.assertLessEqual(p["raster_sides"]["max"], 256)
        for images in p["expected"].values():
            for img in images:
                self.assertTrue(0 <= img["white_fraction"] <= 1)

    def test_expected_stats_are_exact_ratios(self):
        s = gen.expected_stats(16, 16, 4, (10, 20, 30))
        self.assertEqual(s["white_fraction"], 0.25)
        self.assertEqual(s["red_average"], (4 * gen.WHITE[0] + 12 * 10) / 16)

    def test_index_plant_mix(self):
        with tempfile.TemporaryDirectory() as t:
            p = gen.gen_index(3, t)
        self.assertEqual(len(p["batches"]), gen.BATCHES)
        for b in p["batches"]:
            self.assertEqual(b["docs_admitted"], b["mix"]["docs"]["fresh"])
            self.assertEqual(b["vectors_admitted"], b["mix"]["vectors"]["fresh"])


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(range(10)))
        self.assertEqual(metrics.tail(range(11)), (0, 100 / 11, 11))

    def test_ten_samples_beyond(self):
        xs = list(range(100))
        v, pct, n = metrics.tail(reversed(xs))
        self.assertEqual((v, n), (89, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_printed_row_carries_the_sample_count(self):
        name, v, unit, note = metrics.tail_row("serve_tail_s", metrics.tail(range(20)))
        self.assertEqual((name, v, unit), ("serve_tail_s", 9, "s"))
        self.assertIn("20 samples", note)
        self.assertIsNone(metrics.tail_row("x", None)[1])


class SelfTimeTest(unittest.TestCase):
    def node(self, i, parent, layer, s, e):
        return {"id": i, "parent": parent, "layer": layer, "start": s, "end": e}

    def test_children_are_subtracted_once_where_they_overlap(self):
        nodes = [self.node(1, 0, "a", 0.0, 10.0),
                 self.node(2, 1, "b", 1.0, 4.0),
                 self.node(3, 1, "b", 3.0, 5.0),   # overlaps 2
                 self.node(4, 1, "c", 9.0, 12.0),  # runs past its parent
                 self.node(5, 2, "d", 2.0, 3.0)]
        st = metrics.self_times(nodes)
        self.assertAlmostEqual(st["a"], 10 - 4 - 1)
        self.assertAlmostEqual(st["b"], (3 - 1) + 2)
        self.assertAlmostEqual(st["c"], 3)
        self.assertAlmostEqual(st["d"], 1)

    def test_layer_of_call_site(self):
        self.assertEqual(metrics.layer_of_site("sinks.Sink.upsertAppend"), "Sink")
        self.assertEqual(metrics.layer_of_site("operators.FpIndex.loadFlat"), "ManifestSink")
        self.assertEqual(metrics.layer_of_site("operators.Dedup.bandTable"), "operators")
        self.assertEqual(metrics.layer_of_site("Tables.load"), "Tables")
        self.assertEqual(metrics.layer_of_site(""), "")


def span(i, parent, name, layer, op, s, e):
    return {"id": i, "parent": parent, "name": name, "layer": layer, "op": op,
            "start": s * 1e3, "end": e * 1e3}


def job(i, sp, site, s, e, stages):
    return {"id": i, "span": sp, "site": site, "start": s * 1000, "end": e * 1000,
            "stages": stages}


def stage(i, j, cpu, shuffle_read=0):
    return {"id": i, "job": j, "tasks": 2, "submitted": 0, "completed": 1, "cpu_s": cpu,
            "shuffle_read": shuffle_read, "shuffle_write": 0, "spill": 0,
            "task_max_ms": 30, "task_median_ms": 10}


def common(trace):
    return {"setup_s": [9.0, 1.0, 1.2], "heap_mb": [50.0, 80.0], "gc_s": 0.2, "warmup_s": 3.0,
            "stamp": {"loadavg": "0 0 0", "cores": 4, "calibration_s": 0.03},
            "trace": dict(trace, handler_s=0.01, elapsed_s=20.0)}


def satellite_raw():
    raw = common({"spans": [span(0, -1, "day 2024-06-10", "pipeline.SatellitePipeline", 1, 0, 3),
                            span(1, -1, "replay 2024-06-10", "pipeline.SatellitePipeline", 2, 3, 4)],
                  "jobs": [job(0, 0, "sinks.Sink.writeArtifacts", 0, 1, [0]),
                           job(1, 0, "sinks.Sink.upsertAppend", 1, 2, [1])],
                  "stages": [stage(0, 0, 1.0), stage(1, 1, 0.5, shuffle_read=10)]})
    raw.update({"episodes": [{"days": [{"date": "2024-06-10", "s": 3.0, "appended": 24,
                                        "replay_s": 1.0, "replay_appended": 0}],
                              "wall_s": 4.0}],
                "kernel_cpu_s": 0.4, "kernel_mpix": 0.2, "discovered": 1100, "candidates": 30,
                "artifact_mb": 1.5, "sink_files": 3, "plant": {"in_window_rows": {"d": 100}, "megapixels": 0.2}})
    return raw


def index_raw():
    raw = common({"spans": [span(0, -1, "buildAll", "pipeline.IndexBuild", 1, 0, 5),
                            span(1, -1, "admitDocs 0", "pipeline.IndexDelta", 2, 5, 6),
                            span(2, -1, "serve 0", "streaming.Incremental", 2, 6, 8),
                            span(3, 2, "retrievalStream", "streaming.Incremental", 2, 6, 7),
                            span(4, 3, "construct", "streaming.Incremental", 2, 6, 6.5)],
                  "jobs": [job(0, 0, "CacheRegistry.value", 0, 1, [0]),
                           job(1, 1, "pipeline.IndexDelta.admitDocs", 5, 6, [1]),
                           job(2, 4, "Tables.load", 6, 6.2, [2])],
                  "stages": [stage(0, 0, 2.0), stage(1, 1, 0.1), stage(2, 2, 0.1)]})
    batch = {"admit_docs_s": 1.0, "admit_vectors_s": 0.5, "serve_s": 2.0,
             "serve_calls": [{"call": "retrievalStream", "s": 1.0}],
             "docs_admitted": 6, "docs_rejected": 6, "vectors_admitted": 6, "vectors_rejected": 5,
             "probe_doc_stage": "exact_dedup", "probe_vec_matches": 1, "manifests": 11,
             "files_per_serve_scan": 11}
    raw.update({"episodes": [{"build_s": 5.0, "artifact_mb": 2.0, "cache_entries": 5,
                              "model_entries": 1, "batches": [batch], "wall_s": 8.0}]})
    return raw


class MetricNameTest(unittest.TestCase):
    def test_benchmark_json_names_and_units(self):
        s = spec()
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in s[k]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        for k in ("end_to_end", "per_layer"):
            for m in s[k]:
                self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
        self.assertIn("setup_s", [m["name"] for m in s["end_to_end"]])
        with open(os.path.join(PERFBENCH, "layers.json")) as f:
            layers = json.load(f)["metrics"]
        self.assertEqual(set(layers), {m["name"] for m in s["per_layer"]})

    def test_every_printed_metric_is_declared(self):
        s = spec()
        e2e = [m["name"] for m in s["end_to_end"]]
        per = [m["name"] for m in s["per_layer"]]
        workloads = [w["name"] for w in s["workloads"]]
        for w, raw in (("satellite_daily", satellite_raw()), ("index_lifecycle", index_raw())):
            self.assertIn(w, workloads)
            self.assertEqual(sorted(metrics.end_to_end(w, raw)), sorted(e2e), w)
            got = metrics.per_layer(w, raw, per)
            self.assertEqual(sorted(got), sorted(per), w)
            for name, v, unit, _ in metrics.named_metrics(w, raw):
                self.assertRegex(name, NAME)

    def test_index_layers(self):
        per = [m["name"] for m in spec()["per_layer"]]
        got = metrics.per_layer("index_lifecycle", index_raw(), per)
        self.assertEqual(got["IndexBuild.jobs"], 1)
        self.assertEqual(got["CacheRegistry.entries_built"], 5)
        self.assertEqual(got["Tables.construct_jobs"], 1)
        self.assertEqual(got["retrieval.jobs"], 1)
        self.assertEqual(got["IndexDelta.admit_jobs"], 1)
        self.assertEqual(got["functions.raster_cpu_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
