"""Seeded generator for the query suite's input tables.

Writes the five parquet tables the benchmark's queries read
(``orders lineitem documents events embeddings``) with the schemas
and value distributions of the repository's reference test tables:
uniform TPC-H-ish keys and prices, 31-word synthetic documents with
~5% " dup" near-copies, an exponential-valued event stream and
unit-norm 64-d embeddings.
Everything derives from one numpy ``Generator`` seeded by the
benchmark seed, so the same seed writes the same bytes of data.

``scale`` = 1.0 is the reference "sf0.01" row counts (lineitem 60k).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "a the join hash row batch scan column customer filter small slow "
    "merge order vector line table data agg value key stream window "
    "spark part group big sort query fast"
).split()

LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, days, n).astype(
        "timedelta64[D]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    words = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near-duplicates: another page's text plus a marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pd.DataFrame:
    gaps = rng.exponential(30 * 86400e6 / n, n)  # microseconds over ~30 days
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(root: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table as ``<root>/<name>.parquet``; returns row
    counts by table."""
    rng = np.random.default_rng(seed)
    n_cust = int(1500 * scale)
    n_supp = int(100 * scale)
    n_orders = int(15000 * scale)
    n_line = int(60000 * scale)
    n_part = int(2000 * scale)
    frames = {
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _dates(rng, n_orders, "1995-01-01", 2405),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_orders,
            ),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", 2499),
        }),
        "documents": _documents(rng, int(500 * scale)),
        "events": _events(rng, int(10000 * scale), max(10, int(150 * scale))),
        "embeddings": _embeddings(rng, int(500 * scale)),
    }
    os.makedirs(root, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(os.path.join(root, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in frames.items()}
