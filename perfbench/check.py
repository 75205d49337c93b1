"""Output checks of the pipeline benchmark, run after the timed region.

Each check recomputes the expected answer independently of Spark, from
the generated inputs and gen.py's manifest, and compares it with what
the program wrote. run() returns (failures, facts): a list of failure
messages (empty when every output is right) and the counts the checks
measured on the way (valid rows, DLQ rows per reason, recall, ...).
"""
import datetime
import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq

from gen import DLQ_REASONS, VALID_TYPES


def read_dir(path, columns=None):
    """Rows of every parquet file under a Spark output directory."""
    files = sorted(f for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
                   if "/_" not in f[len(path):] and "/." not in f[len(path):])
    if not files:
        return {c: [] for c in (columns or [])}
    tables = [pq.read_table(f, columns=columns) for f in files]
    out = {}
    for t in tables:
        for name in t.column_names:
            out.setdefault(name, []).extend(t.column(name).to_pylist())
    return out


def ts_us(values):
    """Naive timestamps (datetime or int micros) as int micros."""
    epoch = datetime.datetime(1970, 1, 1)
    return [None if v is None else v if isinstance(v, int) else
            (v - epoch) // datetime.timedelta(microseconds=1) for v in values]


def read_events(files):
    cols = {}
    for f in files:
        t = pq.read_table(f)
        for name in t.column_names:
            cols.setdefault(name, []).extend(t.column(name).to_pylist())
    cols["ts"] = ts_us(cols.get("ts", []))
    return cols


def dlq_reason(user_id, ts, etype, value):
    """First failing rule, in Ingest.dlq's order; None when valid."""
    if user_id is None or ts is None:
        return "missing_key"
    if value is None or etype is None:
        return "missing_field"
    if value < 0.0 or value > 300.0:
        return "value_out_of_range"
    if etype not in VALID_TYPES:
        return "bad_event_type"
    return None


def keep_last(rows):
    """rows: tuples (event_id, user_id, ts_us, ...) → newest per (user_id, ts)."""
    best = {}
    for r in rows:
        k = (r[1], r[2])
        if k not in best or r[0] > best[k][0]:
            best[k] = r
    return best


def check_weather_ingest(data, out, res):
    fails, facts = [], {}
    man = json.load(open(os.path.join(data, "manifest.json")))
    n = int(res["counts"]["batches_delivered"])
    if n == 0:
        fails.append("no batch was delivered")
    files = sorted(glob.glob(os.path.join(data, "batches", "*.parquet")))[:n]
    ev = read_events(files)
    rows = list(zip(ev["event_id"], ev["user_id"], ev["ts"], ev["event_type"], ev["value"], ev["props"]))
    reasons = {r: 0 for r in DLQ_REASONS}
    valid = []
    for r in rows:
        why = dlq_reason(r[1], r[2], r[3], r[4])
        if why is None:
            valid.append(r)
        else:
            reasons[why] += 1
    injected = {r: sum(b[r] for b in man["injected_per_batch"][:n]) for r in DLQ_REASONS}
    if reasons != injected:
        fails.append(f"generator/validator disagree on invalid rows: {reasons} vs injected {injected}")
    dlq = read_dir(res["counts"]["dlq_dir"], ["reason"])
    got = {r: dlq["reason"].count(r) for r in DLQ_REASONS}
    if got != injected or len(dlq["reason"]) != sum(injected.values()):
        fails.append(f"DLQ rows per reason {got} (total {len(dlq['reason'])}) != injected {injected}")
    if len(valid) + len(dlq["reason"]) != len(rows):
        fails.append(f"valid {len(valid)} + DLQ {len(dlq['reason'])} != input {len(rows)}")
    expected = keep_last(valid)
    t = read_dir(os.path.join(out, "final_table"))
    table = list(zip(t.get("event_id", []), t.get("user_id", []), t.get("ts_us", []),
                     t.get("event_type", []), t.get("value", []), t.get("props", [])))
    if sorted(table) != sorted(expected.values()):
        fails.append(f"final table ({len(table)} rows) != keep-last over valid input "
                     f"({len(expected)} rows)")
    facts.update({"input_rows": len(rows), "valid_rows": len(valid), "distinct_keys": len(expected),
                  "dlq_rows": got, "dup_ratio": len(valid) / max(len(expected), 1),
                  "input_rows_per_batch": man["rows_per_batch"][:n]})
    return fails, facts


def station_answers(table, kind, station, lo, hi):
    """The station query recomputed from the table rows (tuples
    event_id, user_id, ts_us, event_type, value)."""
    if kind == "latest_per_key":
        best = {}
        for r in table:
            k = r[1]
            if k not in best or (r[2], r[0]) > (best[k][2], best[k][0]):
                best[k] = r
        return [[u, best[u][0]] for u in sorted(best)]
    sel = [r for r in table if r[1] == station and lo <= r[2] <= hi]
    if kind == "raw_station":
        return [r[0] for r in sorted(sel, key=lambda r: -r[2])]
    if kind == "agg_station":
        if not sel:
            return []
        vs = [r[4] for r in sel]
        return [[sum(vs) / len(vs), min(vs), max(vs), len(vs)]]
    if kind == "timeseries_station":
        hour = 3_600_000_000
        buckets = {}
        for r in sel:
            buckets.setdefault(r[2] // hour * hour, []).append(r[4])
        return [[b, sum(v) / len(v), min(v), max(v), len(v)] for b, v in sorted(buckets.items())]
    raise ValueError(kind)


def program_answer(kind, rows):
    if kind == "latest_per_key":
        return [[r["user_id"], r["event_id"]] for r in rows]
    if kind == "raw_station":
        return [r["event_id"] for r in rows]
    if kind == "agg_station":
        return [[r["avg_value"], r["min_value"], r["max_value"], r["n"]] for r in rows]
    return [[r["bucket"], r["avg_value"], r["min_value"], r["max_value"], r["reading_count"]] for r in rows]


def same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return abs(a - b) <= 1e-4 * max(1.0, abs(a))
    return a == b


def check_weather_serve(data, out, res):
    fails, facts = [], {}
    man = json.load(open(os.path.join(data, "manifest.json")))
    n_tr = int(res["counts"]["trickles_committed"])
    files = ([os.path.join(data, "base.parquet")] + sorted(glob.glob(os.path.join(data, "history", "*.parquet")))
             + sorted(glob.glob(os.path.join(data, "trickle", "*.parquet")))[:n_tr])
    ev = read_events(files)
    expected = keep_last(zip(ev["event_id"], ev["user_id"], ev["ts"], ev["event_type"], ev["value"]))
    t = read_dir(os.path.join(out, "serve_table"))
    table = list(zip(t["event_id"], t["user_id"], t["ts_us"], t["event_type"], t["value"]))
    if sorted(table) != sorted(expected.values()):
        fails.append(f"served table ({len(table)} rows) != keep-last over base, history and "
                     f"committed trickles ({len(expected)} rows)")
    ranges = man["ranges_us"]
    n_keys = bad = 0
    with open(os.path.join(out, "cached_answers.jsonl")) as f:
        for line in f:
            a = json.loads(line)
            lo, hi = ranges[a["range"]] if a["range"] >= 0 else (None, None)
            want = station_answers(table, a["kind"], a["station"], lo, hi)
            got = program_answer(a["kind"], a["rows"])
            n_keys += 1
            if not same(got, want):
                bad += 1
                if bad <= 3:
                    fails.append(f"cached answer of {a['kind']} station={a['station']} "
                                 f"range={a['range']} differs from the uncached answer")
    if bad > 3:
        fails.append(f"... {bad} cached answers differ in total")
    if n_keys == 0:
        fails.append("no cached answers to check")
    facts.update({"distinct_keys_checked": n_keys, "table_rows": len(table)})
    return fails, facts


def check_corpus_curate(data, out, res):
    fails, facts = [], {}
    man = json.load(open(os.path.join(data, "manifest.json")))
    ids = set(pq.read_table(os.path.join(data, "documents.parquet"), columns=["doc_id"])
              .column("doc_id").to_pylist())
    kept_ratio = []
    for run in res["counts"]["runs"]:
        if not os.path.exists(os.path.join(run, "packed")):
            continue  # a run that threw is counted as a failed operation
        cur = read_dir(os.path.join(run, "curated"), ["doc_id"])["doc_id"]
        packed = read_dir(os.path.join(run, "packed"), ["doc_id"])["doc_id"]
        cs = set(cur)
        name = os.path.basename(run)
        if len(cs) != len(cur):
            fails.append(f"{name}: curated set repeats a document")
        if not cs <= ids:
            fails.append(f"{name}: curated set holds {len(cs - ids)} ids not in the input")
        kept_copies = sum(1 for g in man["exact_groups"] if sum(1 for d in g if d in cs) > 1)
        if kept_copies:
            fails.append(f"{name}: {kept_copies} exact-copy groups keep more than one document")
        if not packed or not set(packed) <= cs:
            fails.append(f"{name}: packed training set is empty or not a subset of the curated set")
        kept_ratio.append(len(cs) / len(ids))
        near_removed = sum(1 for a, b in man["near_pairs"] if not (a in cs and b in cs))
        facts["near_pairs_split"] = near_removed / max(len(man["near_pairs"]), 1)
    if not kept_ratio:
        fails.append("no curate run produced a packed training set")
    facts["kept_ratio"] = kept_ratio
    facts["exact_copies"] = man["exact_copies"]
    return fails, facts


def check_ann_serve(data, out, res):
    fails, facts = [], {}
    man = json.load(open(os.path.join(data, "manifest.json")))
    k, qrows = man["k"], man["query_rows"]

    def vectors(files):
        ids, vecs = [], []
        for f in files:
            t = pq.read_table(f)
            ids.extend(t.column("vec_id").to_pylist())
            vecs.append(np.array(t.column("embedding").to_pylist(), dtype=np.float64))
        return np.array(ids), np.vstack(vecs)

    ingest = sorted(glob.glob(os.path.join(data, "ingest", "*.parquet")))
    queries = sorted(glob.glob(os.path.join(data, "queries", "*.parquet")))
    cids, cvec = vectors([os.path.join(data, "base.parquet")] + ingest)
    cvec /= np.linalg.norm(cvec, axis=1, keepdims=True)
    got = read_dir(res["counts"]["knn_dir"], ["query_id", "neighbor_id"])
    ann = {}
    for q, nb in zip(got["query_id"], got["neighbor_id"]):
        ann.setdefault(q, []).append(nb)
    recalls = []
    for r in res["counts"]["rounds"]:
        n_corpus = man["base"] + man["ingest_rows"] * r["ingest_files_done"]
        qids, qvec = vectors(queries[r["query_files_from"]:r["query_files_to"]])
        qvec /= np.linalg.norm(qvec, axis=1, keepdims=True)
        sims = np.round(qvec @ cvec[:n_corpus].T, 4)
        for i, q in enumerate(qids.tolist()):
            nbs = ann.get(q, [])
            if len(nbs) != k or len(set(nbs)) != k or max(nbs) >= n_corpus:
                fails.append(f"query {q}: {len(nbs)} neighbours, expected {k} distinct ids of the "
                             f"{n_corpus}-vector corpus")
                continue
            order = np.lexsort((cids[:n_corpus], -sims[i]))[:k]
            recalls.append(len(set(nbs) & set(cids[order].tolist())) / k)
    if not recalls:
        fails.append("no query batch was answered")
    facts["knn_recall"] = float(np.mean(recalls)) if recalls else 0.0
    facts["queries_scored"] = len(recalls)
    return fails[:5] + ([f"... {len(fails)} failures in total"] if len(fails) > 5 else []), facts


CHECKS = {
    "weather_ingest": check_weather_ingest,
    "weather_serve": check_weather_serve,
    "corpus_curate": check_corpus_curate,
    "ann_serve": check_ann_serve,
}


def run(workload, data, out, res):
    try:
        return CHECKS[workload](data, out, res)
    except Exception as e:  # a missing or unreadable output is a failed check
        return [f"check could not run: {type(e).__name__}: {e}"], {}
