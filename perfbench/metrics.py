"""Metric arithmetic for the benchmark: tail percentiles, span self time,
layer attribution, and the end-to-end and per-layer metrics of each
workload, derived from the raw file the JVM runner writes."""
import statistics

CORES = 4
MB = 1048576.0
RETRIEVAL_CALLS = ("retrievalStream", "ivfTopKServe")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n) or None when there are too few
    samples (n <= beyond)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return xs[i], 100.0 * (i + 1) / n, n


def union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(nodes):
    """Self time per layer: each node's duration minus the part of it
    covered by its children (union of child intervals clipped to the
    node). `nodes` are dicts with id, parent, layer, start, end."""
    children = {}
    for n in nodes:
        children.setdefault(n["parent"], []).append(n)
    out = {}
    for n in nodes:
        s, e = n["start"], n["end"]
        covered = union_length([(max(s, c["start"]), min(e, c["end"]))
                                for c in children.get(n["id"], ())
                                if min(e, c["end"]) > max(s, c["start"])])
        out[n["layer"]] = out.get(n["layer"], 0.0) + (e - s) - covered
    return out


def layer_of_site(site):
    """Repository layer named by a job's call site (module.method)."""
    if not site:
        return ""
    return layer_of_module(site.rsplit(".", 1)[0] if "." in site else site)


def layer_of_module(module):
    """Layer a repository module (e.g. `operators.FpIndex`) belongs to."""
    if module in ("operators.FpIndex", "sources.ManifestSink"):
        return "ManifestSink"
    if module in ("CacheRegistry", "ModelRegistry"):
        return "CacheRegistry"
    if module.startswith("operators."):
        return "operators"
    if module.startswith("functions."):
        return "functions"
    return {"pipeline.SatellitePipeline": "SatellitePipeline", "sinks.Sink": "Sink",
            "pipeline.IndexBuild": "IndexBuild", "pipeline.IndexDelta": "IndexDelta",
            "streaming.Incremental": "Incremental", "Tables": "Tables"}.get(module, module)


def span_tree(trace):
    """Benchmark spans plus one child span per Spark job (under the span
    active when it was submitted) and per stage (under its job), each
    job attributed to the layer its call site names, else the layer of
    its span. Times in seconds."""
    spans = {s["id"]: s for s in trace["spans"]}
    nodes = [{"id": ("s", s["id"]), "parent": ("s", s["parent"]),
              "layer": layer_of_module(s["layer"]),
              "start": s["start"] / 1e3, "end": s["end"] / 1e3, "name": s["name"]}
             for s in trace["spans"]]
    job_layer = {}
    for j in trace["jobs"]:
        parent = spans.get(j["span"])
        if j["end"] < 0 or parent is None:  # outside every timed operation
            continue
        layer = layer_of_site(j["site"]) or layer_of_module(parent["layer"])
        job_layer[j["id"]] = layer
        nodes.append({"id": ("j", j["id"]), "parent": ("s", j["span"]), "layer": layer,
                      "start": j["start"] / 1e3, "end": j["end"] / 1e3, "name": j["site"]})
    for st in trace["stages"]:
        if st["job"] in job_layer and st["submitted"] >= 0 and st["completed"] >= 0:
            nodes.append({"id": ("t", st["id"]), "parent": ("j", st["job"]),
                          "layer": job_layer[st["job"]], "start": st["submitted"] / 1e3,
                          "end": st["completed"] / 1e3, "name": "stage"})
    return nodes


class Trace:
    """Index over one traced run's spans, jobs and stages."""

    def __init__(self, trace):
        self.raw = trace
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.kids = {}
        for s in trace["spans"]:
            self.kids.setdefault(s["parent"], []).append(s["id"])
        self.stages = {s["id"]: s for s in trace["stages"]}
        self.jobs_by_span = {}
        for j in trace["jobs"]:
            self.jobs_by_span.setdefault(j["span"], []).append(j)

    def subtree(self, span_id):
        out, todo = [], [span_id]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.kids.get(i, ()))
        return out

    def jobs(self, span_id):
        return [j for i in self.subtree(span_id) for j in self.jobs_by_span.get(i, ())]

    def job_stages(self, jobs):
        seen = set()
        for j in jobs:
            for sid in j["stages"]:
                if sid in self.stages and sid not in seen and self.stages[sid]["job"] == j["id"]:
                    seen.add(sid)
                    yield self.stages[sid]

    def totals(self, span_ids):
        jobs = [j for s in span_ids for j in self.jobs(s)]
        st = list(self.job_stages(jobs))
        return {"jobs": len(jobs), "stages": len(st), "tasks": sum(s["tasks"] for s in st),
                "cpu_s": sum(s["cpu_s"] for s in st),
                "shuffle_read_mb": sum(s["shuffle_read"] for s in st) / MB,
                "shuffle_write_mb": sum(s["shuffle_write"] for s in st) / MB,
                "spill_mb": sum(s["spill"] for s in st) / MB,
                "stage_list": st, "job_list": jobs}

    def duration(self, span_id):
        s = self.spans[span_id]
        return (s["end"] - s["start"]) / 1e3


# ------------------------------------------------------------ end to end

def e2e_satellite(raw):
    eps = raw["episodes"]
    return {
        "wall_s": median(e["wall_s"] for e in eps),
        "cold_s": median(sum(d["s"] for d in e["days"]) for e in eps),
        "warm_s": median(statistics.mean(d["replay_s"] for d in e["days"]) for e in eps),
        "items_per_s": median(sum(d["appended"] for d in e["days"]) / sum(d["s"] for d in e["days"])
                              for e in eps),
    }


def e2e_index(raw):
    eps = raw["episodes"]

    def admit_rate(e):
        n = sum(b["docs_admitted"] + b["docs_rejected"] + b["vectors_admitted"]
                + b["vectors_rejected"] for b in e["batches"])
        return n / sum(b["admit_docs_s"] + b["admit_vectors_s"] for b in e["batches"])
    return {
        "wall_s": median(e["wall_s"] for e in eps),
        "cold_s": median(e["build_s"] for e in eps),
        "warm_s": median(statistics.mean(b["serve_s"] for b in e["batches"]) for e in eps),
        "items_per_s": median(admit_rate(e) for e in eps),
    }


E2E = {"satellite_daily": e2e_satellite, "index_lifecycle": e2e_index}


def end_to_end(workload, raw):
    m = E2E[workload](raw)
    m["setup_s"] = median(raw["setup_s"])
    m["heap_peak_mb"] = max(raw["heap_mb"])
    return m


def named_metrics(workload, raw):
    """The workload's own named metrics (printed before the result line),
    as (name, value, unit, note)."""
    rows = []
    if workload == "satellite_daily":
        days = [d for e in raw["episodes"] for d in e["days"]]
        rows += [("images_per_s", sum(d["appended"] for d in days) / sum(d["s"] for d in days), "1/s",
                  f"{sum(d['appended'] for d in days)} images over {len(days)} ingest days, "
                  f"{raw['plant']['megapixels']} Mpix per episode"),
                 ("replay_s", median(d["replay_s"] for d in days), "s",
                  f"median of {len(days)} replays")]
    else:
        batches = [b for e in raw["episodes"] for b in e["batches"]]
        admits = [b["admit_docs_s"] + b["admit_vectors_s"] for b in batches]
        serves = [c["s"] for b in batches for c in b["serve_calls"]]
        rows += [("build_s", median(e["build_s"] for e in raw["episodes"]), "s", ""),
                 ("admit_p50_s", median(admits), "s", f"{len(admits)} batches"),
                 tail_row("admit_tail_s", tail(admits)),
                 ("serve_p50_s", median(serves), "s", f"{len(serves)} serve calls"),
                 tail_row("serve_tail_s", tail(serves))]
    return rows


def op_lines(workload, raw):
    """One line per timed operation, in run order."""
    out = []
    for k, e in enumerate(raw["episodes"]):
        if workload == "satellite_daily":
            out += [f"op episode={k} day {d['date']} {d['s']:.3f} s appended={d['appended']} "
                    f"replay {d['replay_s']:.3f} s appended={d['replay_appended']}"
                    for d in e["days"]]
        else:
            out.append(f"op episode={k} buildAll {e['build_s']:.3f} s")
            for i, b in enumerate(e["batches"]):
                out.append(f"op episode={k} batch={i} admitDocs {b['admit_docs_s']:.3f} s "
                           f"admitVectors {b['admit_vectors_s']:.3f} s " +
                           " ".join(f"{c['call']} {c['s']:.3f} s" for c in b["serve_calls"]))
    return out


def tail_row(name, t):
    if t is None:
        return (name, None, "s", "too few samples: needs more than 10")
    v, pct, n = t
    return (name, v, "s", f"p{pct:.1f} of {n} samples (10 beyond)")


# --------------------------------------------------------------- per layer

def per_layer(workload, raw, names):
    """Every per-layer metric named in BENCHMARK.json: measured where the
    workload exercises the layer, 0 where it does not."""
    m = {n: 0.0 for n in names}
    tr = Trace(raw["trace"])
    if workload == "satellite_daily":
        m.update(layers_satellite(raw, tr))
    else:
        m.update(layers_index(raw, tr))
    m["jvm.gc_s"] = raw["gc_s"]
    m["tracing.overhead_share"] = raw["trace"]["handler_s"] / raw["trace"]["elapsed_s"]
    unknown = set(m) - set(names)
    assert not unknown, f"metrics missing from BENCHMARK.json: {sorted(unknown)}"
    return m


def layers_satellite(raw, tr):
    days = [s for s in tr.raw["spans"] if s["name"].startswith("day ")]
    jobs_per_day, skew, upsert, cpu_sink, cpu_joins = [], [], [], [], []
    for d in days:
        t = tr.totals([d["id"]])
        jobs_per_day.append(t["jobs"])
        upsert.append(sum(1 for j in t["job_list"] if j["site"] == "sinks.Sink.upsertAppend"))
        sink_jobs = {j["id"] for j in t["job_list"] if j["site"].startswith("sinks.Sink")}
        joins = [s for s in t["stage_list"] if s["shuffle_read"] > 0]
        cpu_joins.append(sum(s["cpu_s"] for s in joins))
        cpu_sink.append(sum(s["cpu_s"] for s in t["stage_list"]
                            if s["job"] in sink_jobs and s["shuffle_read"] == 0))
        heavy = max(t["stage_list"], key=lambda s: s["cpu_s"], default=None)
        if heavy and heavy["task_median_ms"] > 0:
            skew.append(heavy["task_max_ms"] / heavy["task_median_ms"])
    episodes = raw["episodes"]
    n_days = sum(len(e["days"]) for e in episodes)
    kernel = raw["kernel_cpu_s"]
    appended = sum(d["appended"] for d in episodes[-1]["days"])
    in_window = sum(raw["plant"]["in_window_rows"].values())
    return {
        "functions.raster_cpu_s": kernel,
        "functions.cpu_us_per_mpix": 1e6 * kernel / raw["kernel_mpix"],
        "functions.task_skew": median(skew),
        "SatellitePipeline.discovered": raw["discovered"],
        "SatellitePipeline.candidates": raw["candidates"],
        "SatellitePipeline.yield": appended / in_window,
        "SatellitePipeline.jobs_per_day": median(jobs_per_day),
        # executor CPU per ingest day, split by what the stage ran: the
        # row kernels (measured alone, per day), the rest of the sink
        # stages, and the stages behind a shuffle (joins, the anti-join)
        "SatellitePipeline.cpu_functions_s": kernel / max(1, len(episodes[-1]["days"])),
        "SatellitePipeline.cpu_sink_s": max(0.0, median(cpu_sink) - kernel / max(1, len(episodes[-1]["days"]))),
        "SatellitePipeline.cpu_joins_s": median(cpu_joins),
        "Sink.artifact_mb": raw["artifact_mb"],
        "Sink.appended": appended,
        "Sink.files": raw["sink_files"],
        "Sink.replay_appended": sum(d["replay_appended"] for e in episodes for d in e["days"]),
        "Sink.upsert_jobs": median(upsert),
    } if n_days else {}


def layers_index(raw, tr):
    """The build's jobs and executor work, the admissions, and per batch
    the serving session: its calls split into DataFrame construction,
    planning and execution, with the jobs each part fires."""
    spans = tr.raw["spans"]
    build = [s for s in spans if s["name"] == "buildAll"][0]
    b = tr.totals([build["id"]])
    ep = raw["episodes"][0]
    batches = ep["batches"]
    admit_jobs = {}
    for s in spans:
        if s["name"].startswith("admit"):
            admit_jobs[s["op"]] = admit_jobs.get(s["op"], 0) + len(tr.jobs(s["id"]))
    per_batch = {}
    for serve in (s for s in spans if s["name"].startswith("serve ")):
        calls = [tr.spans[i] for i in tr.kids.get(serve["id"], ())]
        parts = [tr.spans[i] for c in calls for i in tr.kids.get(c["id"], ())]
        t = tr.totals([serve["id"]])
        inc = tr.totals([c["id"] for c in calls if c["layer"] == "streaming.Incremental"])
        row = {
            "Tables.construct_jobs": sum(len(tr.jobs(x["id"])) for x in parts
                                         if x["name"] == "construct"),
            "operators.jobs": t["jobs"], "operators.stages": t["stages"],
            "operators.tasks": t["tasks"],
            "scheduling.ms_per_job": 1e3 * max(0.0, tr.duration(serve["id"]) - t["cpu_s"] / CORES)
            / max(1, t["jobs"]),
            "retrieval.jobs": sum(len(tr.jobs(c["id"])) for c in calls
                                  if c["name"] in RETRIEVAL_CALLS),
            "Incremental.serve_jobs": inc["jobs"], "Incremental.serve_cpu_s": inc["cpu_s"],
        }
        for part in ("construct", "plan", "exec"):
            row[f"operators.{part}_s"] = sum(tr.duration(x["id"]) for x in parts
                                             if x["name"] == part)
        for k, v in row.items():
            per_batch.setdefault(k, []).append(v)
    out = {k: median(v) for k, v in per_batch.items()}
    out.update({
        "IndexBuild.jobs": b["jobs"],
        "IndexBuild.executor_cpu_s": b["cpu_s"],
        "IndexBuild.artifact_mb": ep["artifact_mb"],
        "operators.executor_cpu_s": b["cpu_s"],
        "operators.shuffle_write_mb": b["shuffle_write_mb"],
        "operators.shuffle_read_mb": b["shuffle_read_mb"],
        "operators.spill_mb": b["spill_mb"],
        "CacheRegistry.entries_built": ep["cache_entries"],
        "ModelRegistry.entries": ep["model_entries"],
        "IndexDelta.admit_jobs": median(admit_jobs.values()),
        "IndexDelta.admitted": sum(x["docs_admitted"] + x["vectors_admitted"] for x in batches),
        "IndexDelta.rejected": sum(x["docs_rejected"] + x["vectors_rejected"] for x in batches),
        "ManifestSink.manifests_first": batches[0]["manifests"],
        "ManifestSink.manifests_last": batches[-1]["manifests"],
        "ManifestSink.files_per_serve_scan_first": batches[0]["files_per_serve_scan"],
        "ManifestSink.files_per_serve_scan_last": batches[-1]["files_per_serve_scan"],
    })
    return out
