"""Seeded input generator for the graft benchmark.

Every input a workload reads is made here from the seed alone, with
numpy's PCG64 generator and pyarrow's single-threaded parquet writer, so
a repeated seed gives byte-identical files. Beside the files it writes
`manifest.json`:

- `inputs`: the input properties reported with the metrics (rows, bytes,
  duplicate fraction, batch count);
- `expect`: the answers the benchmark checks graft's outputs against,
  computed here from the generated rows;
- `sha256`: a digest of every file, for the determinism check.

Usage: python3 gen.py <analyst|curation|stream_ingest> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000

# A fixed vocabulary (independent of the seed), so every seed costs the
# same per word. Gopher's stopwords are mixed in so that prose passes
# its stopword rule.
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _vocab(n=3000):
    rng = np.random.default_rng(12345)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


VOCAB = _vocab()

AGENCIES = ["Austin Police Department", "Dallas Police Department",
            "Houston Police", "Denver Sheriff", "Seattle Police Department",
            "Tucson Police", "Cincinnati Police", "Louisville Metro Police",
            "Phoenix Police", "Boston Police Department", "Baltimore County",
            "Fairfax County Police"]
# raw value -> the standardized label graft's race LUT must produce
RACE_RAWS = {"W": "WHITE", "WHITE": "WHITE", "B": "BLACK", "BLACK": "BLACK",
             "A": "ASIAN", "ASIAN": "ASIAN"}
SEX_RAWS = ["M", "F", "MALE", "FEMALE"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def _sentence(rng, n_words):
    """One sentence: Zipf-ish words plus stopwords, ending in '.'."""
    idx = np.minimum(rng.zipf(1.3, n_words) - 1, len(VOCAB) - 1)
    words = [VOCAB[i] for i in idx]
    for p in rng.integers(0, n_words, max(1, n_words // 4)):
        words[p] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return " ".join(words) + "."


def _doc(rng, n_lines):
    # >= 11 words a line keeps a 5-line doc at >= 51 space-separated
    # tokens (line breaks join two words), above Gopher's 50-word floor
    return "\n".join(_sentence(rng, int(rng.integers(11, 15)))
                     for _ in range(n_lines))


def _near_dup(rng, text):
    """Replace two words: character 5-gram Jaccard stays well above 0.8."""
    words = text.split(" ")
    for p in rng.integers(0, len(words), 2):
        tail = "." if words[p].endswith(".") else ""
        words[p] = VOCAB[int(rng.integers(0, len(VOCAB)))] + tail
    return " ".join(words)


# ---- analyst: sf0.1-sized police-style tables ---------------------------

def gen_analyst(rng, out):
    n_orders, n_items, n_events, n_cust = 150_000, 600_000, 100_000, 15_000
    files = {}
    region = pa.table({"r_regionkey": np.arange(5, dtype=np.int64),
                       "r_name": [f"REGION_{i}" for i in range(5)]})
    nation = pa.table({"n_nationkey": np.arange(25, dtype=np.int64),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": np.arange(25, dtype=np.int64) % 5})
    c_nation = rng.integers(0, 25, n_cust)
    c_seg = rng.integers(0, len(SEGMENTS), n_cust)
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": c_nation.astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in c_seg]})
    # orders: years 1992..1998, keys shuffled so the file is not sorted
    o_key = rng.permutation(n_orders).astype(np.int64)
    o_cust = rng.integers(0, n_cust, n_orders).astype(np.int64)
    day0 = np.datetime64("1992-01-01", "D").astype(np.int64)
    ndays = np.datetime64("1999-01-01", "D").astype(np.int64) - day0
    o_day = day0 + rng.integers(0, ndays, n_orders)
    o_year = (o_day.astype("datetime64[D]").astype("datetime64[Y]")
              .astype(np.int64) + 1970)
    orders = pa.table({
        "o_orderkey": o_key, "o_custkey": o_cust,
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": _ts(o_day * US_PER_DAY),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n_orders)})
    l_order = rng.integers(0, n_orders, n_items).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_linenumber": np.arange(n_items, dtype=np.int32) % 7 + 1,
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_items), 2),
        "l_discount": np.round(rng.integers(0, 11, n_items) / 100, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_items),
        "l_shipdate": _ts((day0 + rng.integers(0, ndays, n_items)) * US_PER_DAY)})
    # events: one month of police-style stop records
    e_ts = EVENT_T0 + np.sort(rng.integers(0, 31 * US_PER_DAY, n_events))
    e_id = rng.permutation(n_events).astype(np.int64)
    e_ag = rng.integers(0, len(AGENCIES), n_events)
    race_keys = list(RACE_RAWS)
    e_race = rng.integers(0, len(race_keys), n_events)
    events = pa.table({
        "event_id": e_id, "ts": _ts(e_ts),
        "user_id": rng.integers(0, 1000, n_events).astype(np.int64),
        "agency": [AGENCIES[i] for i in e_ag],
        "subject_race": [race_keys[i] for i in e_race],
        "subject_sex": rng.choice(np.array(SEX_RAWS), n_events),
        "subject_age": rng.integers(16, 90, n_events).astype(str),
        "value": np.round(rng.uniform(0, 100, n_events), 2)})
    for name, t in [("region", region), ("nation", nation),
                    ("customer", customer), ("orders", orders),
                    ("lineitem", lineitem), ("events", events)]:
        files[f"{name}.parquet"] = t
        _write(t, os.path.join(out, f"{name}.parquet"))

    # expected answers
    has_order = np.zeros(n_cust, bool)
    has_order[o_cust] = True
    cat = {}  # (nation, segment) -> distinct customers with an order
    for n, s in zip(c_nation[has_order], c_seg[has_order]):
        cat[f"NATION_{n}|{SEGMENTS[s]}"] = cat.get(f"NATION_{n}|{SEGMENTS[s]}", 0) + 1
    years = sorted(set(int(y) for y in o_year))
    per_year = {str(y): int((o_year == y).sum()) for y in years}
    per_day = np.bincount(((e_ts - EVENT_T0) // US_PER_DAY).astype(np.int64),
                          minlength=31)
    e_day = ((e_ts - EVENT_T0) // US_PER_DAY).astype(np.int64)
    agency_per_day = {a: [int(x) for x in np.bincount(e_day[e_ag == i], minlength=31)]
                      for i, a in enumerate(AGENCIES)}
    race_of = np.array([RACE_RAWS[k] for k in race_keys])[e_race]
    # per-day white counts, for the standardize slice check
    white_per_day = np.bincount(
        ((e_ts - EVENT_T0) // US_PER_DAY)[race_of == "WHITE"].astype(np.int64),
        minlength=31)
    # lineitems per order, for mergeRelated over a date range of orders
    items_per_order = np.bincount(l_order, minlength=n_orders)
    items_per_day = np.bincount(o_day - day0, weights=items_per_order[o_key],
                                minlength=ndays).astype(np.int64)
    orders_per_day = np.bincount(o_day - day0, minlength=ndays)
    expect = {
        "catalog": cat, "customers_with_orders": int(has_order.sum()),
        "years": years, "orders_per_year": per_year,
        "events_per_day": [int(x) for x in per_day],
        "white_per_day": [int(x) for x in white_per_day],
        "agency_per_day": agency_per_day,
        "n_events": n_events, "n_orders": n_orders,
        "order_day0": "1992-01-01",
        "orders_per_day": [int(x) for x in orders_per_day],
        "items_per_order_day": [int(x) for x in items_per_day]}
    inputs = {"rows": sum(t.num_rows for t in files.values()),
              "dup_fraction": 0.0, "batches": 0}
    return inputs, expect


# ---- curation: a corpus with seeded near-duplicates and contamination ----

def gen_curation(rng, out):
    n_base, mult, dup_frac = 5000, 2, 0.10
    n = n_base * mult
    n_dup = int(n * dup_frac)
    n_bench, n_contam, n_pii, n_junk = 200, 200, 1000, 1000
    ids = np.arange(n, dtype=np.int64)
    texts = [None] * n
    dup_of = -np.ones(n, np.int64)
    # which docs are junk (fail quality), near-dups, contaminated, PII-bearing
    order = rng.permutation(n)
    junk = set(order[:n_junk].tolist())
    clean_pool = order[n_junk:]
    dup_ids = np.sort(clean_pool[:n_dup])
    dup_set = set(dup_ids.tolist())
    originals = [int(i) for i in clean_pool[n_dup:]]
    contam = set(rng.choice(originals, n_contam, replace=False).tolist())
    pii = set(rng.choice(originals, n_pii, replace=False).tolist())
    # benchmark items are single 14-18 word lines, so word 8-grams of an
    # injected item survive inside the corpus line that carries it
    bench = [_sentence(rng, int(rng.integers(14, 19))) for _ in range(n_bench)]
    for i in range(n):
        if i in dup_set:
            continue
        if i in junk:
            kind = i % 3
            texts[i] = ("lorem ipsum " + _doc(rng, 4) if kind == 0 else
                        "{code} " + _doc(rng, 4) if kind == 1 else
                        _sentence(rng, 6))
            continue
        t = _doc(rng, int(rng.integers(5, 7)))
        if i in contam:
            t = t + "\n" + bench[int(rng.integers(0, n_bench))]
        if i in pii:
            t = t + f"\ncontact user{i} at user{i}@example.com or 555.{i % 1000:03d}.0199 today."
        texts[i] = t
    src_pool = [i for i in originals if i not in contam and i not in pii]
    srcs = rng.choice(src_pool, n_dup, replace=False)
    for d, s in zip(dup_ids, srcs):
        texts[d] = _near_dup(rng, texts[s])
        dup_of[d] = s
    docs = pa.table({"doc_id": ids, "text": texts,
                     "source": [f"src{i % 8}" for i in range(n)]})
    _write(docs, os.path.join(out, "documents.parquet"))
    bench_t = pa.table({"doc_id": np.arange(n_bench, dtype=np.int64) + 10_000_000,
                        "text": bench})
    _write(bench_t, os.path.join(out, "benchmark.parquet"))
    # embeddings: 16 clusters; a near-dup doc's vector is its source's
    # vector plus small noise, so it is its source's nearest neighbour
    dim, cells = 64, 16
    cent = rng.normal(0, 1, (cells, dim))
    label = rng.integers(0, cells, n)
    vec = cent[label] + rng.normal(0, 0.6, (n, dim))
    vec[dup_ids] = vec[dup_of[dup_ids]] + rng.normal(0, 0.01, (n_dup, dim))
    label[dup_ids] = label[dup_of[dup_ids]]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({"vec_id": ids,
                    "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
                    "label": label.astype(np.int32)})
    _write(emb, os.path.join(out, "embeddings.parquet"))
    expect = {"n_docs": n, "n_junk": n_junk,
              "junk_ids": sorted(int(i) for i in junk),
              "dup_pairs": [[int(d), int(dup_of[d])] for d in dup_ids],
              "contaminated_ids": sorted(int(i) for i in contam),
              "pii_ids": sorted(int(i) for i in pii)}
    inputs = {"rows": n, "dup_fraction": dup_frac, "batches": 0}
    return inputs, expect


# ---- stream_ingest: batch files dropped one at a time -------------------

def gen_stream(rng, out, n_batches=100, ev_per=300, docs_per=24):
    ev_dir = os.path.join(out, "stage", "events")
    doc_dir = os.path.join(out, "stage", "docs")
    os.makedirs(ev_dir)
    os.makedirs(doc_dir)
    step = 15 * 60 * 1_000_000  # each batch advances event time 15 minutes
    n_users = 150
    next_id = 0
    prev = None  # (ids, ts, users) of the previous batch, to re-send from
    n_dups = 0
    prev_texts = []
    batch_rows = []
    ev_user, ev_ts, file_ts = [], [], []  # for the session oracle
    for b in range(n_batches):
        base = EVENT_T0 + b * step
        # in-order times plus a 20% share moved back by up to 10 minutes:
        # out of order, but inside the 30-minute watermark
        ts = base + np.sort(rng.integers(0, step, ev_per))
        late = rng.random(ev_per) < 0.2
        ts = np.where(late, ts - rng.integers(0, 10 * 60 * 1_000_000, ev_per), ts)
        ts = np.maximum(ts, EVENT_T0)
        ids = np.arange(next_id, next_id + ev_per, dtype=np.int64)
        next_id += ev_per
        # a user is active two batches in five (30 minutes on, 45 off),
        # so sessions close once the watermark passes their gap
        active = np.array([u for u in range(n_users) if (b + u) % 5 < 2], dtype=np.int64)
        users = rng.choice(active, ev_per)
        fresh = (ids, ts, users)
        # re-deliveries: 5% of rows repeat a row of the previous batch
        # (same id, time and user), still inside both watermarks
        if prev is not None:
            pick = rng.integers(0, ev_per, ev_per // 20)
            ids, ts, users = (np.concatenate([x, y[pick]]) for x, y in zip(fresh, prev))
            n_dups += len(pick)
        prev = fresh
        ev = pa.table({"event_id": ids, "ts": _ts(ts), "user_id": users,
                       "event_type": rng.choice(np.array(
                           ["click", "view", "purchase", "error"]), len(ids))})
        _write(ev, os.path.join(ev_dir, f"{b:05d}.parquet"))
        ev_user.append(users)
        ev_ts.append(ts)
        file_ts.append((int(ts.min()), int(ts.max())))
        texts = []
        for j in range(docs_per):
            if prev_texts and rng.random() < 0.1:
                texts.append(_near_dup(rng, prev_texts[int(rng.integers(0, len(prev_texts)))]))
            else:
                texts.append(_doc(rng, int(rng.integers(4, 8))))
        prev_texts = texts
        d_ts = base + np.sort(rng.integers(0, step, docs_per))
        docs = pa.table({"doc_id": np.arange(b * docs_per, (b + 1) * docs_per,
                                             dtype=np.int64),
                         "text": texts, "ts": _ts(d_ts)})
        _write(docs, os.path.join(doc_dir, f"{b:05d}.parquet"))
        batch_rows.append(ev.num_rows + docs.num_rows)
    inputs = {"rows": n_batches * ev_per + n_dups + n_batches * docs_per,
              "dup_fraction": round(n_dups / (n_batches * ev_per + n_dups), 4),
              "batches": n_batches}
    expect = {"rows_per_batch": batch_rows, "n_batches": n_batches,
              "sessions": _sessions(np.concatenate(ev_user), np.concatenate(ev_ts),
                                    file_ts)}
    return inputs, expect


def _sessions(users, ts, file_ts, gap_us=30 * 60 * 1_000_000):
    """The sessions Streams.sessionizeStreamDf (30-minute gap and
    watermark) emits, as [user, start_us, end_us, n_events, close]. A
    user's events, re-deliveries included, chain while the next is at
    most the gap after the last. A session is emitted once the watermark
    (the largest event time seen, in whole ms, less 30 minutes) passes
    its end plus the gap; `close` is the number of dropped files after
    which that holds. Sessions no prefix closes are left out."""
    # watermark in µs once k files are in, at index k - 1
    wm = np.array([(hi // 1000) * 1000 for _, hi in file_ts], dtype=np.int64)
    wm = np.maximum.accumulate(wm) - gap_us
    for k, (lo, _) in enumerate(file_ts[1:], 1):
        # a row at or below the watermark would be dropped as late
        assert lo > wm[k - 1], f"events file {k} holds rows behind the watermark"
    out = []
    order = np.lexsort((ts, users))
    users, ts = users[order], ts[order]
    start = 0
    for i in range(1, len(ts) + 1):
        if i < len(ts) and users[i] == users[start] and ts[i] - ts[i - 1] <= gap_us:
            continue
        end = int(ts[i - 1])
        k = int(np.searchsorted(wm, end + gap_us, side="right")) + 1
        if k <= len(file_ts):
            out.append([int(users[start]), int(ts[start]), end, i - start, k])
        start = i
    return out


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    fn = {"analyst": gen_analyst, "curation": gen_curation,
          "stream_ingest": gen_stream}[workload]
    inputs, expect = fn(rng, out)
    digests, total = {}, 0
    for root, _, names in sorted(os.walk(out)):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(root, name)
            with open(p, "rb") as f:
                data = f.read()
            total += len(data)
            digests[os.path.relpath(p, out)] = hashlib.sha256(data).hexdigest()
    inputs["bytes"] = total
    manifest = {"workload": workload, "seed": seed, "inputs": inputs,
                "expect": expect, "sha256": digests}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
