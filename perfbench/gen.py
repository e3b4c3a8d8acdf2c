"""Seeded inputs for the batch workloads, as parquet files the program
reads through `graft.sources.Tables`.

The shapes follow the repository's sf0.1 test tables and
`graft.GenData`'s documented rules; only the row counts are smaller
(see README.md):

- events: monotone timestamps over 30 days (one arrival slot per event,
  jittered inside its slot, so no two events tie), uniform users and the
  five event types, Exponential(50) values rounded to cents and
  {"k": 0..99} payloads;
- documents: words drawn uniformly from GenData's 30-word vocabulary,
  10..100 words per document, 5% near-duplicates that append " dup" to
  a base document's text, round-robin sources over 20, languages
  en 0.40 and es/fr/de/zh 0.15 each;
- embeddings: 64-dimensional unit-normalised Gaussians with a uniform
  label 0..9, independent of the vector.

The same seed always gives the same files.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_US = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
DAYS_30_US = 30 * 86_400 * 1_000_000


def rng(seed, stream):
    return np.random.default_rng([seed, stream])


def events_columns(r, n, users):
    """Event rows as numpy columns; ts is strictly increasing in event_id."""
    ids = np.arange(n, dtype=np.int64)
    slot = max(2, DAYS_30_US // max(1, n))
    ts = EPOCH_US + ids * slot + r.integers(0, slot, n)
    return {
        "event_id": ids,
        "ts_us": ts.astype(np.int64),
        "user_id": users(r, n).astype(np.int64),
        "event_type": np.array(TYPES)[r.integers(0, len(TYPES), n)],
        "value": np.round(-50.0 * np.log1p(-r.random(n)), 2),
        "k": r.integers(0, 100, n),
    }


def write_events(path, seed, n, n_users):
    c = events_columns(rng(seed, 1), n, lambda r, m: r.integers(0, n_users, m))
    table = pa.table({
        "event_id": c["event_id"],
        "ts": pa.array(c["ts_us"], pa.timestamp("us")),
        "user_id": c["user_id"],
        "event_type": c["event_type"],
        "value": c["value"],
        "props": [f'{{"k": {k}}}' for k in c["k"]],
    })
    pq.write_table(table, path)


def write_documents(path, seed, n):
    r = rng(seed, 2)
    is_dup = r.random(n) < 0.05
    bases = np.flatnonzero(~is_dup)
    base = np.where(is_dup, bases[r.integers(0, len(bases), n)], np.arange(n))
    words = {}
    for b in np.unique(base):
        k = int(r.integers(10, 101))
        words[b] = " ".join(VOCAB[i] for i in r.integers(0, len(VOCAB), k))
    text = [words[b] + (" dup" if d else "") for b, d in zip(base, is_dup)]
    u = r.random(n)
    lang = np.select([u < 0.40, u < 0.55, u < 0.70, u < 0.85], ["en", "es", "fr", "de"], "zh")
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    pq.write_table(table, path)


def write_embeddings(path, seed, n, dim=64):
    r = rng(seed, 3)
    v = r.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32),
    })
    pq.write_table(table, path)


def generate(out_dir, seed, sizes):
    """Write the tables named in `sizes` into `out_dir`, once per seed."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    if "events" in sizes:
        write_events(os.path.join(out_dir, "events.parquet"), seed, *sizes["events"])
    if "documents" in sizes:
        write_documents(os.path.join(out_dir, "documents.parquet"), seed, sizes["documents"])
    if "embeddings" in sizes:
        write_embeddings(os.path.join(out_dir, "embeddings.parquet"), seed, sizes["embeddings"])
    open(done, "w").close()
    return out_dir
