"""Seeded generator for the benchmark's input tables.

Writes the `events`, `documents` and `embeddings` tables the repo's
queries and streaming entry points read, one parquet file each, with the
same column names, types and value domains. Event counts follow the
scale factor `sf` the way the repo's fixtures do (events = 1M*sf over
15k*sf users). The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
EVENTS_PER_SF, USERS_PER_SF = 1_000_000, 15_000


def events(
    rng: np.random.Generator, first_id: int, n: int, n_users: int,
    t0_us: int = 0,
) -> pd.DataFrame:
    """`n` events with ids from `first_id`, time-ordered after `t0_us`."""
    ts_us = t0_us + np.sort(rng.integers(0, EVENTS_SPAN_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype="int64"),
            "ts": EVENTS_T0 + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(n: int, seed: int, dup_frac: float = 0.1) -> pd.DataFrame:
    """Bag-of-words documents; `dup_frac` of them are near-duplicates of
    an earlier document (a few words swapped for "dup"), so the dedup
    operators find real clusters."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_frac:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 1 + len(toks) // 20):
                toks[j] = "dup"
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(toks))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings(n: int, seed: int, dim: int = 64) -> pd.DataFrame:
    """Unit-norm float32 vectors with a random class label."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, dim)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(v),
            "label": rng.integers(0, 10, n).astype("int32"),
        }
    )


def write_table(df: pd.DataFrame, path: str) -> int:
    """Write one table as a single parquet file; returns its size."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        table = table.set_column(
            table.schema.get_field_index("embedding"),
            "embedding",
            pa.array(df["embedding"].tolist(), type=pa.list_(pa.float32())),
        )
    pq.write_table(table, path)
    return os.path.getsize(path)
