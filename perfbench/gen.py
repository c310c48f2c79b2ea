"""Seeded input generator for the benchmark.

Writes ``events``, ``documents`` and ``embeddings`` parquet files with the
shapes of the engine's testdata tables (one row group each), so every
registry query and its DuckDB oracle run on them unchanged. The same seed
always gives byte-identical inputs; sizes are fixed per scale, so two seeds
differ in content only, never in volume.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Table sizes: events at a tenth of sf0.1 (so a micro-batch step is
#: dominated by job and metadata overhead, as in the reference's hourly
#: refresh), documents and embeddings between sf0.01 and sf0.1, so one
#: curation pass fits more than once into a run.
SIZE = {"events": 10_000, "users": 300, "documents": 1_000, "embeddings": 500, "batches": 24}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DAYS = 30
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Time-ordered sensor-like events over 30 days: ``user_id`` is the
    entity, ``value`` a PM2.5-like reading (heavy right tail, a few past
    the top AQI breakpoint)."""
    ts = np.sort(rng.integers(0, DAYS * 86_400_000_000, n)) + T0_US
    value = np.round(rng.exponential(50.0, n), 2)
    value[rng.choice(n, max(1, n // 50_000), replace=False)] = 512.34
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad corpus over a 30-word vocabulary; 5% of documents are
    near-duplicates of an earlier one (one extra token), a few are exact
    copies, so every dedup family has real work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with a weak per-label offset (10 labels)."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    cents = rng.normal(0.0, 0.6, (10, dim))
    v = rng.normal(0.0, 1.0, (n, dim)) + cents[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


#: Share of each micro-batch's rows offered again with the next batch.
OVERLAP = 0.25


def micro_batches(ev: pa.Table, rng: np.random.Generator, n: int) -> list[pa.Table]:
    """Split the time-ordered events into ``n`` micro-batches at seeded cut
    points (sizes within 25% of the mean). Every batch after the first
    also re-offers the last ``OVERLAP`` of the rows before it: the
    reference's re-run double-append, which the store's dedup gate has to
    drop, in every batch rather than in some."""
    rows = ev.num_rows
    w = rng.uniform(0.75, 1.25, n)
    cuts = np.concatenate([[0], np.cumsum(w / w.sum() * rows).astype(int)])
    cuts[-1] = rows
    out = []
    for i, (a, b) in enumerate(zip(cuts[:-1], cuts[1:])):
        lo = a - int(OVERLAP * (a - cuts[i - 1])) if i else a
        out.append(ev.slice(int(lo), int(b - lo)))
    return out


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the three tables under ``out_dir``, plus the events split into
    ``batches/bNNN/events.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": events(np.random.default_rng([seed, 1]), SIZE["events"], SIZE["users"]),
        "documents": documents(np.random.default_rng([seed, 2]), SIZE["documents"]),
        "embeddings": embeddings(np.random.default_rng([seed, 3]), SIZE["embeddings"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    parts = micro_batches(tables["events"], np.random.default_rng([seed, 4]), SIZE["batches"])
    for i, part in enumerate(parts):
        os.makedirs(os.path.join(out_dir, "batches", f"b{i:03d}"))
        pq.write_table(part, os.path.join(out_dir, "batches", f"b{i:03d}", "events.parquet"))
    return {name: t.num_rows for name, t in tables.items()}

