"""Seeded inputs shaped like the sf0.1 synthetic tables.

The benchmark cannot read a shared test-data directory (it runs from a
bare checkout), so it generates tables with the sf0.1 row counts,
key ranges and value distributions of ``events``, ``orders`` and
``documents``. The same seed gives the same tables, byte for byte.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

EVENTS_ROWS = 100_000
EVENT_USERS = 1_500
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400

ORDERS_ROWS = 150_000
ORDER_CUSTOMERS = 15_000
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)

DOCUMENTS_ROWS = 5_000
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)


def zipf_choice(rng: np.random.Generator, n: int, size: int, s: float = 1.1):
    """``size`` draws from ``range(n)`` with P(k) proportional to
    1/(k+1)**s, over a seeded permutation so hot keys are scattered."""
    w = 1.0 / np.arange(1, n + 1) ** s
    perm = rng.permutation(n)
    return perm[rng.choice(n, size=size, p=w / w.sum())]


def events(seed: int) -> pd.DataFrame:
    """``events``: one row per user event in January 2024. Timestamps
    are distinct, so the point-in-time "latest row at or before" is
    unique for every fact."""
    rng = np.random.default_rng([seed, 1])
    offs = np.sort(rng.choice(EVENTS_SPAN_S * 1_000_000, EVENTS_ROWS, replace=False))
    ts = pd.Timestamp(EVENTS_START) + pd.to_timedelta(offs, unit="us")
    return pd.DataFrame(
        {
            "event_id": np.arange(EVENTS_ROWS, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, EVENT_USERS, EVENTS_ROWS).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), EVENTS_ROWS)],
            "value": np.round(rng.exponential(50.0, EVENTS_ROWS), 2),
        }
    )


def orders(seed: int) -> pd.DataFrame:
    """``orders`` with the price already in integer cents, the column
    the incremental aggregate sums (exact under any fold order)."""
    rng = np.random.default_rng([seed, 2])
    price = rng.integers(100_191, 49_999_318, ORDERS_ROWS).astype(np.int64)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(ORDERS_ROWS, dtype=np.int64),
            "o_custkey": rng.integers(0, ORDER_CUSTOMERS, ORDERS_ROWS).astype(
                np.int64
            ),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, ORDERS_ROWS)],
            "price_cents": price,
        }
    )


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 10 to 100 words over the sf0.1 vocabulary."""
    lens = rng.integers(10, 101, n).tolist()
    vocab = VOCAB.tolist()
    words = [vocab[j] for j in rng.integers(0, len(vocab), sum(lens)).tolist()]
    out, at = [], 0
    for n_words in lens:
        out.append(" ".join(words[at : at + n_words]))
        at += n_words
    return out


def perturb(rng: np.random.Generator, text: str, edits: int) -> str:
    """A near duplicate: ``edits`` words replaced at seeded positions."""
    words = text.split()
    for i in rng.choice(len(words), size=min(edits, len(words)), replace=False):
        words[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(words)
