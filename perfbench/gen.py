"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of the seed, so two runs with the
same ``--seed`` see byte-identical inputs. The engine only ever receives
the generated rows or files, never the seed.

The table generators reproduce the synthetic TPC-H-ish sf0.1 corpus the
engine's queries and ``bench.py`` run against: its column names and
types, row counts, value ranges and distributions (independent uniform
columns in ``lineitem``; vocabulary, lengths, languages, sources and
duplicate families in ``documents``), so the registered queries run
unchanged on them and cost what they cost on sf0.1.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the documents vocabulary: 30 words incl. the stopwords "the" and "a"
# the curation gate counts, so gate pass rates match the engine's corpus
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# ---------------------------------------------------------------------------
# row_ingest: batches of Python rows
# ---------------------------------------------------------------------------

# rows of a lenient batch before the first bad cell; the batch schema is
# inferred from this clean sample, as a writer infers from sample rows
SAMPLE_ROWS = 50
BAD_CELL_P = 0.03
_TS0 = dt.datetime(2015, 1, 1)
_D0 = dt.date(2010, 1, 1)


def nested_batch(rng: random.Random, n: int, id0: int) -> list[dict]:
    """Dict rows with ranged ints, decimals, timestamps, nulls, arrays and
    a nested struct. Every column is non-null somewhere in a batch of a
    few hundred rows, so inference never drops a column."""
    rows = []
    for i in range(n):
        rows.append(
            {
                "id": id0 + i,
                "qty": rng.randint(-30000, 30000),
                "views": rng.randint(0, 2**31 - 1),
                "big": rng.randint(-(2**40), 2**40),
                "price": Decimal(rng.randint(0, 10**9)).scaleb(-2),
                "ts": _TS0 + dt.timedelta(microseconds=rng.randint(0, 10**14)),
                "note": rng.choice(VOCAB) if rng.random() < 0.7 else None,
                "ratio": rng.random() if rng.random() < 0.8 else None,
                "tags": (
                    [rng.choice(VOCAB) for _ in range(rng.randint(1, 4))]
                    if rng.random() < 0.8
                    else None
                ),
                "dims": {
                    "w": rng.randint(0, 1000),
                    "h": rng.randint(0, 1000),
                    "unit": rng.choice(["cm", "in", None]),
                },
                "scores": [rng.randint(-100, 100) for _ in range(rng.randint(1, 5))],
            }
        )
    return rows


_BAD = {
    "amount": ["n/a", "12x.5", ""],
    "day": ["2017-13-45", "not-a-date", "yesterday"],
    "seen": ["soon", "2017-05-07T99:00:00Z", "-"],
    "count": ["lots", "1e3x", "?"],
}


def lenient_batch(rng: random.Random, n: int, id0: int) -> tuple[list[dict], list[dict]]:
    """Flat rows whose typed columns arrive as strings (decimal, ISO date,
    ISO instant) plus one int column; after the clean sample a seeded
    share of those cells is garbage. Returns ``(rows, expected)`` where
    ``expected`` holds the typed value of each cell, or None where the
    cell was bad."""
    rows, expected = [], []
    for i in range(n):
        # 5 integer digits + 2 decimals: always decimal(7,2), so the
        # sample's inferred type holds every later good value
        cents = rng.randint(1_000_000, 9_999_999)
        day = _D0 + dt.timedelta(days=rng.randint(0, 4000))
        seen = _TS0 + dt.timedelta(seconds=rng.randint(0, 3 * 10**8))
        count = rng.randint(1000, 30000)
        good = {
            "id": id0 + i,
            "amount": Decimal(cents).scaleb(-2),
            "day": day,
            "seen": seen,
            "count": count,
            "label": rng.choice(VOCAB),
        }
        row = {
            "id": id0 + i,
            "amount": f"{cents // 100}.{cents % 100:02d}",
            "day": day.isoformat(),
            "seen": seen.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "count": count,
            "label": good["label"],
        }
        if i >= SAMPLE_ROWS:
            for col, bads in _BAD.items():
                if rng.random() < BAD_CELL_P:
                    row[col] = rng.choice(bads)
                    good[col] = None
        rows.append(row)
        expected.append(good)
    return rows, expected


# ---------------------------------------------------------------------------
# orc_bulk: lineitem
# ---------------------------------------------------------------------------

SHIPDATE0 = np.datetime64("1995-01-02", "us")
SHIP_DAYS = 2499


def lineitem(seed: int, n: int) -> dict[str, np.ndarray]:
    """``n`` lineitem rows as numpy columns. Like the sf0.1 corpus, every
    column is drawn independently and uniformly over its range (price
    does not follow quantity); integer quantities keep sums exact in
    float64."""
    r = np.random.default_rng(seed)
    qty = r.integers(1, 51, n).astype(np.float64)
    days = r.integers(0, SHIP_DAYS, n)
    return {
        "l_orderkey": r.integers(0, max(n // 4, 1), n, dtype=np.int64),
        "l_partkey": r.integers(0, max(n // 30, 1), n, dtype=np.int64),
        "l_suppkey": r.integers(0, max(n // 600, 1), n, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100,
        "l_tax": r.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": SHIPDATE0 + days.astype("timedelta64[D]").astype("timedelta64[us]"),
    }


# ---------------------------------------------------------------------------
# llm_curation: documents
# ---------------------------------------------------------------------------


def documents(seed: int, n: int) -> dict[str, list]:
    """``n`` documents of 10-100 vocabulary words, as in sf0.1: 5% are
    near copies of an earlier document (its text plus ``" dup"``), 8 are
    exact copies, and document ``i`` comes from source ``i % 20``."""
    r = np.random.default_rng(seed)
    lengths = r.integers(10, 101, n)
    texts = [" ".join(r.choice(VOCAB, k)) for k in lengths]
    for i in r.choice(np.arange(1, n), max(n // 20, 1), replace=False):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    for i in r.choice(np.arange(1, n), 8, replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [LANGS[k] for k in r.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": [len(t) for t in texts],
    }


_DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def write_parquet(cols: dict, path: str, schema: pa.Schema | None = None,
                  row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, path, row_group_size=row_group_size)


def write_documents(cols: dict, corpus_dir: str, order: np.ndarray | None = None) -> None:
    """Write ``documents.parquet`` under ``corpus_dir``, rows in ``order``."""
    if order is not None:
        cols = {k: [v[i] for i in order] for k, v in cols.items()}
    write_parquet(cols, os.path.join(corpus_dir, "documents.parquet"), _DOC_SCHEMA)
