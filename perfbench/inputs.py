"""Seeded benchmark inputs: the ``events`` and ``documents`` parquet tables
the engine's transcripts view is synthesised from.

The shapes follow the engine's sf0.1 test tables: events (one transcript
turn each) from 1 500 users over 30 days, and 5 000 documents of 44-577
characters drawn from a small word pool. The seed changes which words, users
and timestamps appear, never the sizes, so every seed costs the same work to
within sampling noise.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000

# Common words appear in almost every document; rare words in a few percent
# of them. Search queries are drawn from both pools (see QUERY_POOLS).
COMMON_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
RARE_WORDS = (
    "lakehouse tombstone compaction quorum replica snapshot shard vacuum "
    "manifest bloom"
).split()
EVENT_TYPES = ["error", "view", "signup", "purchase", "click"]
LANGS = ["en", "de", "fr", "es", "zh"]

# The search workload's queries: two per selectivity stratum over the
# transcripts. Every seed asks the same six, in its own order, so seeds
# differ in data and order but not in how much work their query mix costs.
QUERIES = {
    # matches most turns (document words present in nearly every text)
    "broad": ("stream", "window"),
    # matches 5-20 % of turns (levels, ops, tool markers)
    "medium": ("error", "hdfs_read"),
    # matches well under 1 % of turns (rare document words)
    "narrow": ("tombstone", "quorum"),
}


def write_inputs(out_dir: str, seed: int, n_events: int) -> str:
    """Write ``n_events`` events and the documents under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts0 + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, N_USERS, n_events, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts = []
    for _ in range(N_DOCS):
        n_words = int(rng.integers(8, 100))
        words = list(rng.choice(COMMON_WORDS, n_words))
        if rng.random() < 0.03:
            words[int(rng.integers(0, n_words))] = str(rng.choice(RARE_WORDS))
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, N_DOCS)),
            "source": pa.array([f"src{i % 5}" for i in range(N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    return out_dir


def search_queries(seed: int) -> list[str]:
    """The six queries in the seed's order; the loop asks them in turn,
    so each is asked equally often."""
    queries = [q for stratum in QUERIES.values() for q in stratum]
    random.Random(seed).shuffle(queries)
    return queries
