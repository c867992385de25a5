"""Seeded inputs. The engine sees only what these functions generate.

The seed varies each input while its size stays within 2%: the corpus file
count, the query deck, the update batch and the session event table.
"""

from __future__ import annotations

import json
import random

# sf0.1 convention of bench.py: n_files = sf * 50,000
KG_FILES = 5_000
# sf0.01 events table: 10,000 events by 150 users over 30 days (~4k sessions)
STREAM_EVENTS = 10_000
STREAM_USERS = 150
# the small corpus that warms the engine before a measured build
WARMUP_FILES = 200
# --tiny sizes for the self-test
TINY_FILES = 60
TINY_EVENTS = 400

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def band(seed: int, base: int, label: str) -> int:
    """A size within +-2% of ``base``, drawn from the seed."""
    rng = random.Random(f"{label}:{seed}")
    return base + rng.randint(-(base // 50), base // 50)


def corpus_files(seed: int, tiny: bool = False) -> int:
    return band(seed, TINY_FILES if tiny else KG_FILES, "files")


def _nl_query(rng: random.Random, lower: bool = False) -> str:
    from cognee_spark.sources.corpus import nl_variant

    # variant 1 is the spaced surface form, e.g. "Zephyr Service"
    text = nl_variant(rng.randrange(48), 1)
    return text.lower() if lower else text


def _code_needle(rng: random.Random, n_files: int) -> str:
    """A class name of a seeded code file; node names are lower-cased."""
    from cognee_spark.sources.corpus import file_spec

    while True:
        spec = file_spec(rng.randrange(n_files), n_files)
        if spec.classes:
            return spec.classes[0].lower()


def query_deck(seed: int, n_files: int) -> list[tuple[str, str]]:
    """One deck of (search_type, query), shuffled by the seed.

    GRAPH_COMPLETION (the API default) has the largest share, TRIPLET the
    smallest. Every query without a golden twin is issued twice so its two
    result digests can be compared; TRIPLET_COMPLETION and CODE are checked
    against the golden oracle instead."""
    rng = random.Random(f"deck:{seed}")
    deck = [("GRAPH_COMPLETION", _nl_query(rng)) for _ in range(2)]
    deck += [
        ("CHUNKS", _nl_query(rng)),
        ("SUMMARIES", _nl_query(rng)),
        ("RAG_COMPLETION", _nl_query(rng)),
        ("HYBRID_COMPLETION", _nl_query(rng, lower=True)),
        ("CHUNKS_LEXICAL", _nl_query(rng, lower=True)),
        ("CODE", _code_needle(rng, n_files)),
    ]
    deck = deck * 2 + [("TRIPLET_COMPLETION", _nl_query(rng))]
    rng.shuffle(deck)
    return deck


def update_indices(seed: int, n_files: int) -> list[int]:
    """File indices of one update batch: about 1% of the corpus."""
    rng = random.Random(f"update:{seed}")
    return sorted(rng.sample(range(n_files), max(1, n_files // 100)))


def write_events(path: str, seed: int, tiny: bool = False) -> int:
    """Write an sf-shaped ``events.parquet`` (the sf tables' events schema:
    event_id, ts, user_id, event_type, value, props) and return its row
    count. Events are spread uniformly over 30 days and ``STREAM_USERS``
    users with the five event types in equal shares, as in the sf0.01
    table; event ids follow time order."""
    import numpy as np
    import pandas as pd

    n = band(seed, TINY_EVENTS if tiny else STREAM_EVENTS, "events")
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    frame = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts,
            "user_id": rng.integers(0, STREAM_USERS, n).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )
    frame.to_parquet(path, index=False)
    return n
