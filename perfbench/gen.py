"""Seeded generator for the benchmark's input tables.

Writes the four tables the benchmark workloads read (events, documents,
embeddings, orders) as single-row-group parquet files with the schema
and value shapes of the engine's scale-factor test data, so that the
same seed always gives byte-identical inputs. Scale factor ``sf`` sets
the row counts: sf=0.1 gives 100k events over 1,500 series, 5k
documents, 2k embeddings and 150k orders; sf=0.001 gives a toy copy of
the same shape.

The shapes mirror what the queries depend on:

* events: uniform users (about 67 events per series), ts uniform over
  30 days with microsecond resolution and event_id in ts order, five
  equally likely event types, value ~ Exp(mean 50) rounded to cents.
* documents: 10-100 tokens drawn uniformly from a 30-word vocabulary,
  about 5% near-duplicates (an existing text plus the token "dup") and
  a few exact duplicates, source = doc_id mod 20, skewed lang.
* embeddings: 64-dim unit-norm Gaussian vectors, labels 0..9.
* orders: uniform keys, statuses, priorities, prices and order dates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMB_DIM = 64

_EV_START = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
_EV_SPAN_US = 30 * 86_400 * 1_000_000
_ORD_START = np.datetime64("1995-01-01", "D").astype(np.int64)
_ORD_DAYS = int(np.datetime64("2001-08-01", "D").astype(np.int64) - _ORD_START)


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(round(1_000_000 * sf))
    users = max(1, int(round(15_000 * sf)))
    ts = np.sort(rng.integers(0, _EV_SPAN_US, size=n)) + _EV_START
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, size=n)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)]
            ),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(500, int(round(50_000 * sf)))
    lens = rng.integers(10, 101, size=n)
    toks = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(toks[e - ln : e]) for e, ln in zip(ends, lens)]
    # near-duplicates: 5% of docs repeat an earlier doc's text plus "dup"
    near = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for i in np.sort(near):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    # exact duplicates: about 0.16% of docs copy another doc verbatim
    for i in rng.choice(n, size=max(1, n * 16 // 10_000), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, size=n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(500, int(round(20_000 * sf)))
    vecs = rng.normal(size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
        }
    )


def _orders(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(round(1_500_000 * sf))
    days = _ORD_START + rng.integers(0, _ORD_DAYS + 1, size=n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), size=n)),
            "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, size=n)]),
            "o_totalprice": pa.array(
                rng.integers(100_000, 50_000_000, size=n) / 100.0
            ),
            "o_orderdate": pa.array(
                days * 86_400_000_000, type=pa.int64()
            ).cast(pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(PRIORITIES)[rng.integers(0, 5, size=n)]
            ),
        }
    )


TABLES = {
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
    "orders": _orders,
}


def generate(dst: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table for (seed, sf) under dst; returns row counts.
    Each table draws from its own child stream of the seed, so a table's
    content does not depend on which other tables are generated."""
    os.makedirs(dst, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rows = {}
    for (name, fn), ss in zip(TABLES.items(), streams):
        table = fn(np.random.default_rng(ss), sf)
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
