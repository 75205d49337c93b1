"""Seeded input generator for the pipeline benchmark.

Every file the program under test reads is made here, from the seed alone:
the same seed gives byte-identical files (test_perfbench.py checks this).
Each workload gets its own directory and a manifest.json recording what was
injected (duplicates, invalid rows per DLQ reason, late rows, exact and near
copies), which the output checks in check.py compare against.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("weather_ingest", "weather_serve", "corpus_curate", "ann_serve")

DAY_US = 86_400_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 (naive, UTC session)
VALID_TYPES = ("click", "view", "purchase", "signup")
DLQ_REASONS = ("missing_key", "missing_field", "value_out_of_range", "bad_event_type")

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

# ── sizes (one place to retune) ────────────────────────────────────────
INGEST = dict(stations=300, batches=24, rows=4000, batch_hours=12,
              dup_share=0.20, invalid_share=0.04, late_share=0.02, warm_batches=2)
SERVE = dict(stations=30, days=7, rows_per_day=2500, history_commits=2,
             history_rows=500, requests=600, refreshes=3, trickle_every=8, trickle_rows=24,
             zipf_s=0.8)
# ranges ending at the last day: dashboards use the first two, the
# read-after-write probe after each trickle commit uses the last
SERVE_RANGES_DAYS = (1, 7, 2)
SERVE_KINDS = ("raw_station", "agg_station", "timeseries_station", "latest_per_key")
CORPUS = dict(docs=8000, vocab=3000, min_words=25, max_words=110,
              exact_share=0.08, near_share=0.08, low_quality_share=0.05,
              sources=5, warm_docs=400)
ANN = dict(dim=64, clusters=48, base=6000, ingest_files=16, ingest_rows=600,
           query_files=48, query_rows=24, k=10)


def rng_for(seed, workload):
    return np.random.default_rng([int(seed), WORKLOADS.index(workload)])


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


# ── weather events ─────────────────────────────────────────────────────

class EventIds:
    """Monotone producer sequence: arrival order is event_id order."""

    def __init__(self, start=0):
        self.next = start

    def take(self, n):
        out = np.arange(self.next, self.next + n, dtype=np.int64)
        self.next += n
        return out


def _events_table(event_id, ts, user_id, event_type, value, props):
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(event_type, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    }, schema=EVENT_SCHEMA)


def _fresh_keys(rng, n, stations, lo_us, span_us, taken):
    """n (user_id, ts) keys with ts in [lo, lo+span), unique across `taken`."""
    users, tss = [], []
    while len(users) < n:
        m = n - len(users)
        u = rng.integers(0, stations, m)
        t = lo_us + rng.integers(0, span_us, m)
        for a, b in zip(u.tolist(), t.tolist()):
            if (a, b) not in taken and len(users) < n:
                taken.add((a, b))
                users.append(a)
                tss.append(b)
    return users, tss


def event_batches(rng, ids, n_batches, rows, stations, batch_us, t0_us,
                  dup_share, invalid_share, late_share, history=None):
    """Time-ordered event batches with re-deliveries, late rows and every
    DLQ reason. Returns (row dicts per batch, injected counts in total and
    per batch).
    `history` carries the valid keys seen so far (re-delivery targets)."""
    history = [] if history is None else history
    taken = set(history)
    counts = dict(rows=0, dup_rows=0, late_rows=0, **{r: 0 for r in DLQ_REASONS})
    per_batch = []
    batches = []
    for b in range(n_batches):
        before = dict(counts)
        lo = t0_us + b * batch_us
        n_dup = int(rows * dup_share)
        n_bad = int(rows * invalid_share)
        day = (lo - t0_us) // DAY_US
        n_late = int(rows * late_share) if day >= 1 else 0
        n_new = rows - n_dup - n_bad - n_late
        users, tss = _fresh_keys(rng, n_new, stations, lo, batch_us, taken)
        if n_late:
            # late arrivals land one to three days back: older partitions
            back = int(rng.integers(1, min(3, day) + 1))
            lu, lt = _fresh_keys(rng, n_late, stations, lo - back * DAY_US, batch_us, taken)
            users += lu
            tss += lt
        fresh = list(zip(users, tss))
        # re-deliveries: an earlier key again, newer event_id, new value;
        # half from this batch, half from the recent past
        pool_recent = history[-rows * 4:]
        dups = []
        for i in range(n_dup):
            if pool_recent and i % 2:
                dups.append(pool_recent[int(rng.integers(0, len(pool_recent)))])
            else:
                dups.append(fresh[int(rng.integers(0, len(fresh)))])
        keys = fresh + dups
        etype = [VALID_TYPES[i] for i in rng.integers(0, 4, len(keys)).tolist()]
        value = np.round(rng.uniform(0.0, 300.0, len(keys)), 2).tolist()
        uid = [k[0] for k in keys]
        ts = [k[1] for k in keys]
        # invalid rows, spread over every DLQ reason
        bad_u, bad_t, bad_e, bad_v = [], [], [], []
        for i in range(n_bad):
            reason = DLQ_REASONS[i % len(DLQ_REASONS)]
            u = int(rng.integers(0, stations))
            t = lo + int(rng.integers(0, batch_us))
            e, v = VALID_TYPES[i % 4], float(round(rng.uniform(0, 300), 2))
            if reason == "missing_key":
                u = None
            elif reason == "missing_field":
                v = None
            elif reason == "value_out_of_range":
                v = 300.0 + float(round(rng.uniform(1, 500), 2)) if i % 2 else -float(round(rng.uniform(1, 50), 2))
            else:
                e = "error"
            counts[reason] += 1
            bad_u.append(u)
            bad_t.append(t)
            bad_e.append(e)
            bad_v.append(v)
        uid += bad_u
        ts += bad_t
        etype += bad_e
        value += bad_v
        # arrival order inside the file: interleave, but every re-delivery
        # keeps a higher event_id than the row it supersedes
        n = len(uid)
        perm = rng.permutation(n)
        order = np.concatenate([perm[perm < len(fresh)], perm[perm >= len(fresh)]])
        eid = ids.take(n)
        props = ['{"k": %d}' % k for k in rng.integers(0, 100, n).tolist()]
        cols = dict(
            event_id=eid,
            ts=[ts[i] for i in order],
            user_id=[uid[i] for i in order],
            event_type=[etype[i] for i in order],
            value=[value[i] for i in order],
            props=props)
        batches.append(cols)
        history.extend(fresh)
        counts["rows"] += n
        counts["dup_rows"] += n_dup
        counts["late_rows"] += n_late
        per_batch.append({k: counts[k] - before[k] for k in counts})
    return batches, counts, per_batch


def gen_weather_ingest(rng, out):
    c = INGEST
    ids = EventIds()
    batch_us = c["batch_hours"] * 3_600_000_000
    warm, _, _ = event_batches(rng, ids, c["warm_batches"], 300, c["stations"], batch_us,
                            T0_US - 30 * DAY_US, c["dup_share"], c["invalid_share"], 0.0)
    for i, cols in enumerate(warm):
        write_parquet(_events_table(**cols), f"{out}/warm/w{i:05d}.parquet")
    batches, counts, injected = event_batches(
        rng, ids, c["batches"], c["rows"], c["stations"], batch_us, T0_US,
        c["dup_share"], c["invalid_share"], c["late_share"])
    for i, cols in enumerate(batches):
        write_parquet(_events_table(**cols), f"{out}/batches/b{i:05d}.parquet")
    write_json({"workload": "weather_ingest", "batches": c["batches"],
                "rows_per_batch": [b["rows"] for b in injected], "injected": counts,
                "injected_per_batch": injected,
                "dup_share": c["dup_share"], "late_share": c["late_share"],
                "invalid_share": c["invalid_share"]}, f"{out}/manifest.json")


# ── weather serving ────────────────────────────────────────────────────

def gen_weather_serve(rng, out):
    c = SERVE
    ids = EventIds()
    day0 = T0_US
    # base history: one create over all days
    n = c["days"] * c["rows_per_day"]
    taken = set()
    users, tss = [], []
    for d in range(c["days"]):
        u, t = _fresh_keys(rng, c["rows_per_day"], c["stations"], day0 + d * DAY_US, DAY_US, taken)
        users += u
        tss += t
    base = dict(event_id=ids.take(n), ts=tss, user_id=users,
                event_type=[VALID_TYPES[i] for i in rng.integers(0, 4, n).tolist()],
                value=np.round(rng.uniform(0, 300, n), 2).tolist(),
                props=['{"k": %d}' % k for k in rng.integers(0, 100, n).tolist()])
    write_parquet(_events_table(**base), f"{out}/base.parquet")
    keys = list(zip(users, tss))

    def upsert_rows(m, day_lo, day_hi, station=None):
        # half overwrite existing keys (newer event_id), half new keys
        half = m // 2
        lo, hi = day0 + day_lo * DAY_US, day0 + day_hi * DAY_US
        cand = [k for k in (keys[int(i)] for i in rng.integers(0, len(keys), m * 8))
                if lo <= k[1] < hi and (station is None or k[0] == station)][:half]
        if station is None:
            nu, nt = _fresh_keys(rng, m - len(cand), c["stations"], lo, hi - lo, taken)
        else:
            nu, nt = [], []
            while len(nu) < m - len(cand):
                t = lo + int(rng.integers(0, hi - lo))
                if (station, t) not in taken:
                    taken.add((station, t))
                    nu.append(station)
                    nt.append(t)
        ks = cand + list(zip(nu, nt))
        keys.extend(zip(nu, nt))
        mm = len(ks)
        return dict(event_id=ids.take(mm), ts=[k[1] for k in ks], user_id=[k[0] for k in ks],
                    event_type=[VALID_TYPES[i] for i in rng.integers(0, 4, mm).tolist()],
                    value=np.round(rng.uniform(0, 300, mm), 2).tolist(),
                    props=['{"k": %d}' % k for k in rng.integers(0, 100, mm).tolist()])

    # history commits fragment the table: each touches two random days
    for h in range(c["history_commits"]):
        d = int(rng.integers(0, c["days"] - 1))
        write_parquet(_events_table(**upsert_rows(c["history_rows"], d, d + 2)),
                      f"{out}/history/h{h:05d}.parquet")
    # dashboard sessions: a panel opens (a cache miss) and is refreshed
    # `refreshes` times (hits). Panels open in Zipf-popularity order over a
    # seeded permutation of every (kind, station, range) key plus the
    # global latest-per-station view, each at most once, so every seed
    # has the same share of misses.
    keys_all = [{"kind": kind, "station": st, "range": rg}
                for kind in SERVE_KINDS[:3]
                for st in range(c["stations"]) for rg in range(len(SERVE_RANGES_DAYS) - 1)]
    keys_all.append({"kind": "latest_per_key"})
    order = rng.permutation(len(keys_all))
    pop = np.arange(1, len(keys_all) + 1, dtype=np.float64) ** -c["zipf_s"]
    pop /= pop.sum()
    n_panels = c["requests"] // (1 + c["refreshes"])
    panels = order[rng.choice(len(keys_all), size=n_panels, replace=False, p=pop)]
    picks = [int(k) for k in panels for _ in range(1 + c["refreshes"])]
    last_day = c["days"] - 1
    ranges = []
    for days in SERVE_RANGES_DAYS:
        start = day0 + (last_day + 1 - days) * DAY_US
        ranges.append([start, day0 + (last_day + 1) * DAY_US - 1])
    with open(f"{out}/requests.jsonl", "w") as f:
        for i in picks:
            f.write(json.dumps(keys_all[i], sort_keys=True) + "\n")
    # trickle commits: the station of a popular dashboard gets new and
    # updated rows on its newest day
    n_trickle = c["requests"] // c["trickle_every"] + 1
    trickle_st = []
    for t in range(n_trickle):
        key = keys_all[order[rng.choice(len(keys_all), p=pop)]]
        s = key.get("station", int(rng.integers(0, c["stations"])))
        trickle_st.append(s)
        write_parquet(_events_table(**upsert_rows(c["trickle_rows"], last_day, last_day + 1, s)),
                      f"{out}/trickle/t{t:05d}.parquet")
    write_json({"workload": "weather_serve", "ranges_us": ranges,
                "trickle_every": c["trickle_every"], "trickle_stations": trickle_st,
                "refreshes": c["refreshes"],
                "stations": c["stations"], "days": c["days"],
                "base_rows": n, "history_commits": c["history_commits"],
                "requests": c["requests"]}, f"{out}/manifest.json")


# ── corpus ─────────────────────────────────────────────────────────────

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "for", "on", "with")
LANGS = ("en", "de", "fr", "es", "zh")


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    out = []
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))].tolist())
        if w not in words and w not in STOPWORDS:
            words.add(w)
            out.append(w)
    return out


def corpus_docs(rng, n_docs, c, id0=0):
    vocab = np.array(_vocab(rng, c["vocab"]))
    zipf = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.0
    zipf /= zipf.sum()
    n_exact = int(n_docs * c["exact_share"])
    n_near = int(n_docs * c["near_share"])
    n_orig = n_docs - n_exact - n_near
    lens = rng.integers(c["min_words"], c["max_words"] + 1, n_orig)
    words = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=zipf)]
    # about one word in six is a stopword, so the stopword-ratio rule passes
    stop = rng.random(len(words)) < 1 / 6
    words[stop] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
    low = rng.random(n_orig) < c["low_quality_share"]
    texts = []
    at = 0
    for m, bad in zip(lens.tolist(), low.tolist()):
        ws = words[at:at + m].tolist()
        at += m
        if bad:
            ws = [ws[0]] * m  # one repeated word: fails the distinct-ratio rule
        texts.append(" ".join(ws))
    exact_of, near_of = [], []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig))
        exact_of.append(src)
        texts.append(texts[src])
    for _ in range(n_near):
        src = int(rng.integers(0, n_orig))
        ws = texts[src].split(" ")
        for j in rng.integers(0, len(ws), 2).tolist():  # a two-word edit
            ws[j] = vocab[int(rng.integers(0, len(vocab)))]
        near_of.append(src)
        texts.append(" ".join(ws))
    # shuffle positions so copies are not clustered by id
    perm = rng.permutation(n_docs)
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[perm] = np.arange(id0, id0 + n_docs, dtype=np.int64)
    groups = {}
    for k, src in enumerate(exact_of):
        groups.setdefault(int(doc_id[src]), []).append(int(doc_id[n_orig + k]))
    exact_groups = [[s] + sorted(v) for s, v in sorted(groups.items())]
    near_pairs = [[int(doc_id[src]), int(doc_id[n_orig + n_exact + k])]
                  for k, src in enumerate(near_of)]
    order = np.argsort(doc_id, kind="stable")
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs).tolist()]
    source = ["src%d" % i for i in rng.integers(0, c["sources"], n_docs).tolist()]
    tbl = pa.table({
        "doc_id": pa.array(doc_id[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array([lang[i] for i in order], pa.string()),
        "source": pa.array([source[i] for i in order], pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    return tbl, exact_groups, near_pairs


def gen_corpus_curate(rng, out):
    c = CORPUS
    tbl, exact_groups, near_pairs = corpus_docs(rng, c["docs"], c)
    write_parquet(tbl, f"{out}/documents.parquet")
    warm, _, _ = corpus_docs(rng, c["warm_docs"], c, id0=10_000_000)
    write_parquet(warm, f"{out}/warm.parquet")
    write_json({"workload": "corpus_curate", "docs": c["docs"],
                "exact_groups": exact_groups, "near_pairs": near_pairs,
                "exact_copies": sum(len(g) - 1 for g in exact_groups),
                "near_copies": len(near_pairs)}, f"{out}/manifest.json")


# ── embeddings ─────────────────────────────────────────────────────────

def _vectors(rng, centers, n):
    lab = rng.integers(0, len(centers), n)
    v = centers[lab] + rng.normal(0.0, 0.1, (n, centers.shape[1]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _emb_table(ids, vecs):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(ids) * vecs.shape[1] + 1, vecs.shape[1], dtype=np.int32)), flat),
    })


def gen_ann_serve(rng, out):
    c = ANN
    centers = rng.normal(0.0, 1.0, (c["clusters"], c["dim"]))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    nid = c["base"]
    write_parquet(_emb_table(np.arange(nid), _vectors(rng, centers, nid)), f"{out}/base.parquet")
    for i in range(c["ingest_files"]):
        ids = np.arange(nid, nid + c["ingest_rows"])
        nid += c["ingest_rows"]
        write_parquet(_emb_table(ids, _vectors(rng, centers, len(ids))), f"{out}/ingest/i{i:05d}.parquet")
    qid = 0
    for i in range(c["query_files"]):
        ids = np.arange(qid, qid + c["query_rows"])
        qid += c["query_rows"]
        write_parquet(_emb_table(ids, _vectors(rng, centers, len(ids))), f"{out}/queries/q{i:05d}.parquet")
    ids = np.arange(1_000_000, 1_000_000 + c["query_rows"])  # warm-up queries: an id range of their own
    write_parquet(_emb_table(ids, _vectors(rng, centers, len(ids))), f"{out}/warm_queries.parquet")
    write_json({"workload": "ann_serve", "dim": c["dim"], "base": c["base"],
                "ingest_files": c["ingest_files"], "ingest_rows": c["ingest_rows"],
                "query_files": c["query_files"], "query_rows": c["query_rows"],
                "k": c["k"]}, f"{out}/manifest.json")


GENERATORS = {
    "weather_ingest": gen_weather_ingest,
    "weather_serve": gen_weather_serve,
    "corpus_curate": gen_corpus_curate,
    "ann_serve": gen_ann_serve,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](rng_for(seed, workload), out)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit("usage: gen.py {%s} <seed> <out_dir>" % "|".join(WORKLOADS))
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
