"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical files.  They run before the timed window.

- clickstream_csv: the reference's 9-column Kaggle Nov-2019 event export
  (FIXTURES.md section A): whitespace-free values, null brands and category
  codes, per-session funnel shapes, and a fixed event-time span.
- tables: `events`, `documents` and `embeddings` in the shape of the
  engine's parquet testdata (FIXTURES.md section B), at scale factor SF
  (sf=1 is 1M events, 50k documents, 20k embeddings).  A DUP_SHARE of the
  documents corpus are near-duplicates.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "es", "de", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Kaggle-shaped clickstream vocabulary
CATEGORY_CODES = [
    "electronics.smartphone", "electronics.audio.headphone",
    "electronics.video.tv", "appliances.kitchen.refrigerators",
    "appliances.kitchen.washer.lg", "computers.notebook",
    "computers.peripherals.printer", "apparel.shoes.keds",
    "furniture.living_room.sofa", "construction.tools.drill",
    "kids.toys", "auto.accessories.player.pioneer",
]
BRANDS = ["samsung", "apple", "xiaomi", "huawei", "lg", "sony", "bosch",
          "lenovo", "acer", "hp", "nike", "pioneer"]
# a session's event sequence; weights favour the common view-only session
FUNNELS = [("view",), ("view", "view"), ("view", "cart"),
           ("view", "cart", "purchase"), ("view", "purchase"), ("cart",)]
FUNNEL_P = [0.45, 0.2, 0.12, 0.1, 0.08, 0.05]

SF = 0.01
DUP_SHARE = 0.05

CSV_START = dt.datetime(2019, 11, 1)
CSV_SPAN_S = 24 * 3600  # fixed span: one day of events


def _session_uuid(rng, n):
    b = rng.integers(0, 2**63, size=(n, 2), dtype=np.int64)
    hx = [f"{int(a):016x}{int(c):016x}" for a, c in b]
    return [f"{h[:8]}-{h[8:12]}-4{h[13:16]}-a{h[17:20]}-{h[20:32]}" for h in hx]


def clickstream_csv(path, seed, rows):
    """Write `rows` events as a headed CSV; returns (rows, bytes)."""
    rng = np.random.default_rng([seed, 1])
    sessions = []
    n = 0
    while n < rows:
        f = FUNNELS[rng.choice(len(FUNNELS), p=FUNNEL_P)]
        f = f[: rows - n]
        sessions.append(f)
        n += len(f)
    ns = len(sessions)
    uuids = _session_uuid(rng, ns)
    users = rng.integers(500_000_000, 580_000_000, size=ns)
    starts = rng.integers(0, CSV_SPAN_S - 600, size=ns)
    products = rng.integers(1_000_000, 1_100_000, size=ns)
    cat_ix = rng.integers(0, len(CATEGORY_CODES), size=ns)
    code_null = rng.random(ns) < 0.3
    brand_null = rng.random(ns) < 0.15
    prices = np.round(rng.gamma(2.0, 120.0, size=ns), 2)
    lines = ["event_time,event_type,product_id,category_id,category_code,"
             "brand,price,user_id,user_session"]
    for i, f in enumerate(sessions):
        t = int(starts[i])
        code = "" if code_null[i] else CATEGORY_CODES[cat_ix[i]]
        brand = "" if brand_null[i] else BRANDS[cat_ix[i]]
        cat_id = 2053013552226107603 + int(cat_ix[i]) * 1_000_003
        for ev in f:
            t += int(rng.integers(1, 120))
            ts = (CSV_START + dt.timedelta(seconds=min(t, CSV_SPAN_S - 1)))
            lines.append(f"{ts:%Y-%m-%d %H:%M:%S} UTC,{ev},{products[i]},{cat_id},"
                         f"{code},{brand},{prices[i]:.2f},{users[i]},{uuids[i]}")
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return rows, len(data)


def _documents(rng, n):
    lens = rng.integers(10, 101, size=n)
    toks = rng.integers(0, len(WORDS), size=int(lens.sum()))
    words = np.array(WORDS)[toks]
    texts, off = [], 0
    for ln in lens:
        texts.append(" ".join(words[off:off + ln]))
        off += ln
    # near-duplicates: a stated share of documents copy an earlier document's
    # text with one appended token, so MinHash/SimHash see high similarity
    n_dup = int(round(n * DUP_SHARE))
    dup_ids = rng.choice(np.arange(1, n), size=n_dup, replace=False)
    for d in sorted(dup_ids):
        src = int(rng.integers(0, d))
        texts[d] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), n_dup


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, size=n)
    v = centers[lab] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)),
        pa.array(v.reshape(-1)))
    return pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                     "embedding": emb,
                     "label": pa.array(lab.astype(np.int32))})


def _events(rng, n):
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.choice(span_us, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(15, n // 66), size=n)),
        "event_type": pa.array(np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def tables(out_dir, seed, names):
    """Write the named tables as `<out_dir>/<name>.parquet`.

    Returns {name: (rows, bytes)} and, when documents are written, the
    number of near-duplicate documents under the key "near_dups"."""
    os.makedirs(out_dir, exist_ok=True)
    n = lambda base: max(5, int(round(base * SF)))
    made, extra = {}, {}
    for name in names:
        rng = np.random.default_rng([seed, 100 + sorted(TABLE_NAMES).index(name)])
        if name == "events":
            t = _events(rng, n(1_000_000))
        elif name == "documents":
            t, extra["near_dups"] = _documents(rng, n(50_000))
        elif name == "embeddings":
            t = _embeddings(rng, n(20_000))
        else:
            raise ValueError(f"unknown table {name}")
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        made[name] = (t.num_rows, os.path.getsize(path))
    return made, extra


TABLE_NAMES = ["events", "documents", "embeddings"]
