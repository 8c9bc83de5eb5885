"""Seeded generators for the benchmark's input tables.

The registry rows read four of the testdata tables (TESTDATA.md):
``events``, ``customer``, ``documents`` and ``embeddings``.
``write_tables`` writes them with the same schemas and value shapes as
those files (one Parquet file, one row group each), so the benchmark
never reads data from outside its own checkout. The same seed gives the
same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
JAN_2024_US = 1_704_067_200_000_000
DAYS_30_US = 30 * 86_400 * 1_000_000


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, DAYS_30_US, n)) + JAN_2024_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty repeats another document's
    text with `` dup`` appended, so the dedup rows find real pairs."""
    texts = [
        " ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        for _ in range(n)
    ]
    dups = rng.choice(n, size=n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        texts[i] = texts[rng.choice(originals)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write the tables named in ``sizes`` under ``out_dir``. ``sizes``
    keys: ``events`` (with ``users``), ``customer``, ``documents``,
    ``embeddings``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    makers = {
        "events": lambda: events(rng, sizes["events"], sizes["users"]),
        "customer": lambda: customer(rng, sizes["customer"]),
        "documents": lambda: documents(rng, sizes["documents"]),
        "embeddings": lambda: embeddings(rng, sizes["embeddings"]),
    }
    for name, make in makers.items():
        if name in sizes:
            _write(os.path.join(out_dir, f"{name}.parquet"), make())
