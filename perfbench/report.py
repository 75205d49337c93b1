"""Metrics of a benchmark run, from the JVM's result.json and span file.

end_to_end() gives the user-visible metrics of one pass: the
workload-generic names BENCHMARK.json lists (CONTRACT_E2E), each of which
is one of the workload's own named metrics, plus those named metrics.
per_layer() turns a traced run's spans and listener counts into each
layer's self time and the per-layer metric table of BENCHMARK.json.

    python3 perfbench/report.py <run_dir>    re-derives the per-layer
    table of a finished traced run from its out/ directory.
"""
import json
import os
import statistics
import sys

from gen import DLQ_REASONS

HERE = os.path.dirname(os.path.abspath(__file__))

# BENCHMARK.json end_to_end names: what each workload's unit of work is
CONTRACT_E2E = ("op_p50_ms", "work_per_s", "setup_s")

# the layers spans are tagged with (perfbench.Layers), each reported as self_ms.<layer>
with open(os.path.join(HERE, "layers.json")) as _f:
    LAYERS = tuple(json.load(_f)["span_layers"])

# spans whose call only constructs a DataFrame (the build of build/plan/exec)
BUILD_SPANS = ("SnapshotTable.read", "StationQueries.", "Curation.curateKeepBest",
               "TrainingPrep.mixPack", "EventStream.upsertSinkSnapshot", "Ingest.dlq")
STATION_KINDS = ("raw_station", "agg_station", "timeseries_station", "latest_per_key")


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    it; (percentile label, value). Fewer than 20 samples: the maximum."""
    xs = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return f"p{p}", xs[min(len(xs) - 1, int(len(xs) * p / 100))]
    return "max", xs[-1] if xs else 0.0


def m(value, unit, **extra):
    return dict(value=float(value), unit=unit, **extra)


def samples(res, pass_, name):
    """Samples of one pass: setup, run, untraced, traced, probe (a traced
    run's steps timed on their own, after its passes) or finish."""
    return res["samples"].get(f"{pass_}/{name}", [])


def stream_ms(res, pass_, source_part="", query=None, key="triggerExecution"):
    """One duration of every trigger of the pass that read rows, for the
    streams whose source description contains `source_part` (or whose
    id is `query`)."""
    return [p["ms"].get(key, 0) for p in res.get("stream_progress", [])
            if p["pass"] == pass_ and source_part in p["source"] and query in (None, p["query"])]


def end_to_end(workload, data, res, pass_):
    """The pass's end-to-end metrics, each with its unit and sample count."""
    c = res["counts"]
    out = {"setup_s": m(res["setup_s"], "s"),
           "peak_rss_mb": m(res["peak_rss_mb"], "MB")}
    if workload == "weather_ingest":
        man = json.load(open(os.path.join(data, "manifest.json")))
        rows = sum(man["rows_per_batch"][i] for i in c.get(f"{pass_}_batches", []))
        commit = samples(res, pass_, "commit_ms")
        label, t = tail(commit)
        named = {"ingest_rows_per_s": m(rows / c[f"{pass_}_wall_s"], "rows/s"),
                 "commit_p50_ms": m(p50(commit), "ms", n=len(commit)),
                 "commit_tail_ms": m(t, "ms", percentile=label, n=len(commit))}
        op, work = "commit_p50_ms", "ingest_rows_per_s"
    elif workload == "weather_serve":
        q = samples(res, pass_, "query_ms")
        label, t = tail(q)
        vis = samples(res, pass_, "visible_ms")
        named = {"query_p50_ms": m(p50(q), "ms", n=len(q)),
                 "query_tail_ms": m(t, "ms", percentile=label, n=len(q)),
                 "visible_p50_ms": m(p50(vis), "ms", n=len(vis)),
                 "requests_per_s": m(c[f"{pass_}_requests"] / c[f"{pass_}_wall_s"], "1/s")}
        op, work = "query_p50_ms", "requests_per_s"
    elif workload == "corpus_curate":
        man = json.load(open(os.path.join(data, "manifest.json")))
        cur = samples(res, pass_, "curate_ms")
        named = {"curate_s": m(p50(cur) / 1000, "s", n=len(cur)),
                 "docs_per_s": m(man["docs"] / (p50(cur) / 1000) if cur else 0.0, "docs/s")}
        op, work = None, "docs_per_s"
        out["op_p50_ms"] = m(p50(cur), "ms", n=len(cur), meaning="curate_s")
    else:
        knn = stream_ms(res, pass_, "query-src")
        label, t = tail(knn)
        named = {"ann_ingest_rows_per_s": m(c.get(f"{pass_}_ingested_rows", 0.0)
                                            / max(c.get(f"{pass_}_ingest_s", 0.0), 1e-9), "rows/s"),
                 "knn_p50_ms": m(p50(knn), "ms", n=len(knn)),
                 "knn_tail_ms": m(t, "ms", percentile=label, n=len(knn))}
        op, work = "knn_p50_ms", "ann_ingest_rows_per_s"
    if op:
        out["op_p50_ms"] = dict(named[op], meaning=op)
    out["work_per_s"] = dict(named[work], unit="1/s", meaning=work)
    out.update(named)
    return out


def self_times(spans):
    """Per layer: total self time in ms (span minus the part of its
    interval that its children cover)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        self_ns = s["end_ns"] - s["start_ns"] - covered
        total[s["layer"]] = total.get(s["layer"], 0.0) + self_ns / 1e6
    return total


def load_spans(out):
    path = os.path.join(out, "spans.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f]


def per_layer(workload, data, out, res, facts=None):
    """(metric table, self ms per layer per operation) of a traced run.
    Layers a workload does not run report 0."""
    facts = facts or {}
    c = res["counts"]
    eng = res.get("engine") or {}
    spans = load_spans(out)
    ops = max(len({s["request"] for s in spans if s["request"] >= 0}), 1)
    t = {}

    def put(name, value, unit):
        t[name] = m(value, unit)

    # streaming: Spark's own per-trigger durations of the traced pass, of
    # the stream that carries the workload's operation
    sel = {"weather_ingest": dict(query=c.get("stream.upsert_id")),
           "ann_serve": dict(source_part="query-src")}.get(workload)
    for name, key in (("trigger", "triggerExecution"), ("add_batch", "addBatch"),
                      ("wal_commit", "walCommit"), ("query_planning", "queryPlanning"),
                      ("get_batch", "getBatch")):
        put(f"stream.{name}_ms.p50", p50(stream_ms(res, "traced", key=key, **sel)) if sel else 0.0, "ms")

    # ops.Ingest
    ing = workload == "weather_ingest"
    put("ingest.dlq_ms", p50(stream_ms(res, "traced", query=c.get("stream.dlq_id"))) if ing else 0.0, "ms")
    put("ingest.valid_rows", facts.get("valid_rows", 0), "count")
    for r in DLQ_REASONS:
        put(f"ingest.dlq_rows.{r}", facts.get("dlq_rows", {}).get(r, 0), "count")
    put("ingest.dup_ratio", facts.get("dup_ratio", 0.0), "ratio")

    # sources.SnapshotTable
    commits = len(c.get("traced_batches", [])) if ing else 0
    jobs = (eng.get("jobs_by_group") or {}).get(c.get("stream.upsert_run_id", ""), 0)
    put("snapshot.jobs_per_commit", jobs / commits if commits else 0.0, "count")
    put("snapshot.partitions_rewritten.p50", p50(c.get("snapshot.partitions_rewritten", [])), "count")
    put("snapshot.write_amp", c.get("snapshot.bytes_written", 0) / c["snapshot.input_bytes"]
        if c.get("snapshot.input_bytes") else 0.0, "ratio")
    reads = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == "SnapshotTable.read"]
    put("snapshot.read_build_ms", p50(reads), "ms")
    put("snapshot.manifest_entries", c.get("snapshot.manifest_entries", 0), "count")
    put("snapshot.read_branches", c.get("snapshot.read_branches", 0), "count")

    # sources.ResultCache
    hits, misses = samples(res, "traced", "hit_ms"), samples(res, "traced", "miss_ms")
    put("cache.hit_ratio", len(hits) / (len(hits) + len(misses)) if hits or misses else 0.0, "ratio")
    put("cache.hit_ms.p50", p50(hits), "ms")
    put("cache.miss_ms.p50", p50(misses), "ms")
    put("cache.miss_overhead_ms", p50(samples(res, "probe", "cache.miss_overhead_ms")), "ms")
    put("cache.invalidations", c.get("cache.invalidations", 0), "count")

    # ops.StationQueries: build / plan / exec per request kind
    for k in STATION_KINDS:
        for part in ("build", "plan", "exec"):
            put(f"station.{k}.{part}_ms", p50(samples(res, "probe", f"station.{k}.{part}_ms")), "ms")
    put("station.files_scanned", p50(samples(res, "probe", "station.files_scanned")), "count")
    put("station.rows_scanned_per_row_out", p50(samples(res, "probe", "station.rows_scanned_per_row_out")),
        "ratio")

    # corpus operators, each materialised on its own
    for name in ("textanalysis.quality_filter", "textdedup.exact", "textdedup.minhash_lsh",
                 "corpus.near_dup_clusters", "curation.keep_best", "trainingprep.mix_pack"):
        put(f"{name}_ms", p50(samples(res, "probe", f"{name}.ms")), "ms")
    put("textdedup.pairs_out", c.get("textdedup.pairs_out", 0), "count")
    put("curation.kept_ratio", c.get("curation.kept_ratio", 0.0), "ratio")

    # functions: kernels in isolation
    for k in ("shingle_hashes", "minhash_sig", "simhash64", "vec_dot"):
        put(f"functions.{k}_ms", p50(samples(res, "probe", f"functions.{k}.ms")), "ms")

    # ops.Similarity
    sink = c.get("timing_sink") or {}
    put("ivf.index_load_ms", p50(sink.get("query.index_load", [])), "ms")
    put("ivf.probe_rank_ms", p50(sink.get("query.probe_score_write", [])), "ms")
    put("ivf.append_ms", p50(sink.get("ingest.append", [])), "ms")
    # a query batch's result write is the one command reading index cells
    knn_writes = [x for x in eng.get("queries", []) if x["phase"] == "" and x["func"] == "command"
                  and x["partitions"] > 0] if workload == "ann_serve" else []
    put("ivf.cells_probed.p50", p50([x["partitions"] for x in knn_writes]), "count")
    put("ivf.files_scanned.p50", p50([x["files"] for x in knn_writes]), "count")
    if knn_writes:
        man = json.load(open(os.path.join(data, "manifest.json")))
        results = len(knn_writes) * man["query_rows"] * man["k"]
        put("ivf.rows_scanned_per_result", sum(x["rows"] for x in knn_writes) / results, "ratio")
    else:
        put("ivf.rows_scanned_per_result", 0.0, "ratio")
    put("ivf.index_files_end", c.get("ivf.index_files_end", 0), "count")
    put("ivf.compactions", len(sink.get("ingest.auto_compact", [])), "count")

    # spark engine, per operation of the traced pass
    put("spark.jobs", eng.get("jobs", 0) / ops, "count")
    put("spark.stages", eng.get("stages", 0) / ops, "count")
    put("spark.tasks", eng.get("tasks", 0) / ops, "count")
    put("spark.shuffle_write_bytes", eng.get("shuffle_write_bytes", 0) / ops, "bytes")
    put("spark.spill_bytes", eng.get("spill_bytes", 0) / ops, "bytes")
    put("spark.task_skew", eng.get("task_skew", 0.0), "ratio")
    build = {}
    for s in spans:
        if any(s["name"].startswith(b) for b in BUILD_SPANS):
            build[s["request"]] = build.get(s["request"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e6
    put("spark.build_ms", p50(list(build.values())), "ms")
    put("spark.plan_ms", p50([x["plan_ms"] for x in eng.get("queries", []) if x["phase"] == ""]), "ms")
    put("spark.exec_ms", p50([x["exec_ms"] for x in eng.get("queries", []) if x["phase"] == ""]), "ms")
    put("jvm.gc_ms", eng.get("jvm_gc_ms", 0.0) / ops, "ms")

    self_ms = {layer: v / ops for layer, v in self_times(spans).items()}
    for layer in LAYERS:
        put(f"self_ms.{layer}", self_ms.get(layer, 0.0), "ms")
    return t, self_ms


if __name__ == "__main__":
    run_dir = sys.argv[1]
    res = json.load(open(os.path.join(run_dir, "out", "result.json")))
    table, _ = per_layer(res["workload"], os.path.join(run_dir, "data"), os.path.join(run_dir, "out"), res)
    for name, v in table.items():
        print(f"{name} {v['value']:.6g} {v['unit']}")
