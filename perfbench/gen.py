"""Seeded input generators.  Every table is a pure function of
``(seed, size)``: the same seed writes byte-identical data, so a run
can be repeated and two commits can be compared on the same inputs.

Nothing here imports the library; the program under test receives
only the parquet files written below.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HIST_CATS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")

# the registry rows' text vocabulary (30 words, like the sf0.1 testdata)
DOC_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """One file, or a directory of ``parts`` files so a scan gets one
    task per file regardless of the split-size setting."""
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def hist_columns(seed: int, n_rows: int) -> dict[str, np.ndarray]:
    """The hist_scan table as numpy columns (also the check's input)."""
    rng = np.random.default_rng([seed, 1])
    return {
        "x": rng.normal(0.0, 1.0, n_rows),
        "y": rng.uniform(-5.0, 5.0, n_rows),
        "z": rng.exponential(2.0, n_rows),
        "w": rng.uniform(0.5, 1.5, n_rows),
        "cat": rng.integers(0, len(HIST_CATS), n_rows).astype(np.int8),
    }


def write_hist_table(cols: dict[str, np.ndarray], path: str,
                     parts: int) -> None:
    cat = pa.DictionaryArray.from_arrays(
        pa.array(cols["cat"]), pa.array(HIST_CATS))
    table = pa.table({k: cols[k] for k in ("x", "y", "z", "w")}
                     | {"cat": cat.cast(pa.string())})
    _write(table, path, parts)


def _words(rng: np.random.Generator, n_docs: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n_docs)
    flat = rng.integers(0, len(DOC_VOCAB), int(lens.sum()))
    vocab = np.array(DOC_VOCAB, dtype=object)
    out, pos = [], 0
    for n in lens:
        out.append(" ".join(vocab[flat[pos:pos + n]]))
        pos += n
    return out


def write_registry_tables(seed: int, out_dir: str, *, docs: int,
                          embeddings: int, events: int) -> None:
    """The tables the registry rows read, shaped like the sf testdata:
    an ``events`` stream, ``documents`` (5% planted ``' dup'``
    near-duplicates plus a few verbatim copies) and unit
    ``embeddings`` in 10 labelled clusters."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    e0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, events))
    _write(pa.table({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": e0 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, events)],
        "value": np.round(rng.exponential(50.0, events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    }), os.path.join(out_dir, "events.parquet"))

    text = _words(rng, docs, 10, 100)
    n_near = docs // 20
    for i, src in zip(rng.choice(docs, n_near, replace=False),
                      rng.integers(0, docs, n_near)):
        text[i] = text[src] + " dup"
    for i, src in zip(rng.choice(docs, max(docs // 500, 1), replace=False),
                      rng.integers(0, docs, max(docs // 500, 1))):
        text[i] = text[src]
    _write(pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    dim = 64
    labels = rng.integers(0, 10, embeddings).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vec = centers[labels] + rng.normal(0.0, 0.6, (embeddings, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(embeddings, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": labels,
    }), os.path.join(out_dir, "embeddings.parquet"))
