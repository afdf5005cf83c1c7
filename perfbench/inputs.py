"""Seeded benchmark inputs.

Two kinds of input, both a pure function of ``--seed``:

* the flagship token table, written by the package's own
  ``datagen.write_token_table`` (40% hot ``web`` source key);
* ``events`` and ``documents`` parquet tables with the same schema and
  value distributions as the sf* query testdata, so the ``queries()``
  factories and their DuckDB oracles run on them unchanged.  Each table is
  one row group, like the testdata files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"],
                       dtype=object)
WORDS = np.array(
    ["spark", "window", "merge", "table", "column", "vector", "stream",
     "value", "data", "small", "join", "filter", "big", "group", "hash",
     "customer", "sort", "order", "slow", "line", "part", "fast", "row",
     "the", "agg", "key", "query", "a", "scan", "batch"], dtype=object)
LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENTS_PER_USER = 200 / 3          # testdata: 1500 users per 100k events
DUP_SHARE = 0.05                   # documents that copy another + " dup"


def write_events(path: str, n: int, rng: np.random.Generator) -> None:
    """Time-ordered event stream over 30 days, uniform users and types."""
    gaps = rng.exponential(1.0, n)
    span_us = 30 * 86400 * 10**6
    ts = (np.cumsum(gaps) / gaps.sum() * (span_us - 10**6)).astype(np.int64)
    ts += np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    n_users = max(1, round(n / EVENTS_PER_USER))
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)],
                               pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })
    pq.write_table(table, path, row_group_size=n)


def write_documents(path: str, n: int, rng: np.random.Generator) -> None:
    """10-100 words from a 30-word vocabulary; 5% of the documents copy
    another document and append " dup" (the near-duplicates the pair
    queries must find)."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })
    pq.write_table(table, path, row_group_size=n)


def write_query_tables(sf_dir: str, seed: int, rows: dict[str, int]) -> None:
    """Write the ``events`` and ``documents`` tables under ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_events(os.path.join(sf_dir, "events.parquet"), rows["events"], rng)
    write_documents(os.path.join(sf_dir, "documents.parquet"),
                    rows["documents"], rng)
