"""Seeded input tables for the benchmark, written as parquet.

The tables imitate the repo's sf0.1 test tables (``events``, ``documents``
and ``lineitem``): the same schemas, sizes, value distributions and
duplicate structure, measured on those tables and listed in README.md.
The benchmark cannot read the test tables themselves, because it runs in a
bare checkout of the repository, so it generates look-alikes. Every table
is a pure function of its ``Scale`` and a fixed data seed: the run seed
only draws the request list, so the expected checksum of every request in
a workload's catalog holds for every run seed.

Like the test tables, each file is one parquet row group.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000
SHIP_DAY0 = 9132  # 1995-01-02 in days since the epoch
SHIP_DAYS = 2499  # through 2001-11-04

# The 30 words of the test documents, each equally likely.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_DUP_FRAC = 0.05  # a document replaced by a copy of another plus " dup"
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@dataclass(frozen=True)
class Scale:
    """Table sizes. ``events`` covers ``days`` x ``units`` cells."""

    events: int = 0
    days: int = 0
    units: int = 0
    documents: int = 0
    lineitem: int = 0

    def tag(self) -> str:
        return "-".join(f"{k}{v}" for k, v in asdict(self).items() if v)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=table.num_rows)
    os.replace(tmp, path)


def events_table(n: int, days: int, units: int, rng: np.random.Generator) -> pa.Table:
    """Uniform times over ``days`` (event ids in time order), uniform users
    and event types, exponential values of mean 50 rounded to cents."""
    ts = EPOCH_2024_US + rng.integers(0, days * DAY_US, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.sort(ts), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, units, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    })


def documents_table(n: int, rng: np.random.Generator) -> pa.Table:
    """Documents of 10-100 uniform words; 5% are replaced by another
    document's text plus the word "dup" (near duplicates; two that copy
    the same document are exact duplicates)."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(k))])
             for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, int(n * NEAR_DUP_FRAC), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def lineitem_table(n: int, rng: np.random.Generator) -> pa.Table:
    """Independent uniform columns over the test table's ranges; keys
    scale with ``n`` as TPC-H's do."""
    flags = np.array(["A", "N", "R"])
    status = np.array(["O", "F"])
    ship = (SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n)) * DAY_US
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n // 30, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(status[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })


def generate(scale: Scale, out_dir: str) -> dict[str, int]:
    """Write the tables ``scale`` asks for into ``out_dir``; returns row
    counts by table. Re-running with the same scale writes identical files."""
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    if scale.events:
        t = events_table(scale.events, scale.days, scale.units, np.random.default_rng(DATA_SEED))
        _write(t, os.path.join(out_dir, "events.parquet"))
        rows["events"] = t.num_rows
    if scale.documents:
        t = documents_table(scale.documents, np.random.default_rng(DATA_SEED + 1))
        _write(t, os.path.join(out_dir, "documents.parquet"))
        rows["documents"] = t.num_rows
    if scale.lineitem:
        t = lineitem_table(scale.lineitem, np.random.default_rng(DATA_SEED + 2))
        _write(t, os.path.join(out_dir, "lineitem.parquet"))
        rows["lineitem"] = t.num_rows
    return rows
