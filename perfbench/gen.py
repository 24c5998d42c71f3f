"""Seeded input generator for the benchmark.

Writes the ten tables the package reads (``session.TABLES``) with the
schemas of ``FIXTURES.md`` and the value distributions measured on the
fixture's sf0.01 and sf0.1 files by ``fixture_stats.py``; the figures and
the generator's reading of them are in ``fixture_stats.FIXTURE`` and in
``perfbench/README.md``. In short: uniform keys and measures, 1995-2001
order and ship dates, 150 users per 10 000 events, documents of 10-99
words drawn uniformly from a 30-word vocabulary of which one in twenty is
overwritten by another document plus the word "dup", and unit 64-d
embeddings with uniform labels 0..9.

The same ``(seed, sizes)`` always gives identical row values. Each table is
one parquet file with one row group, as in the fixture, so scans run in
parallel only after the package's layout rewrite
(``sources.layout.rewrite_for_parallel_scan``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the big small fast slow data table row column key value join group "
    "sort merge scan filter hash window stream batch query line order part "
    "customer vector spark agg"
).split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


@dataclass(frozen=True)
class Sizes:
    """Row counts. ``orders`` sets the TPC-H-ish family: lineitem is 4x
    orders, customer and part follow the fixture's ratios."""

    orders: int
    events: int
    documents: int
    embeddings: int


def _day_ts(start: str, days: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + days.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> dict:
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 100, n)]
    # one document in twenty is overwritten, in turn, by a uniformly drawn
    # document plus " dup": two draws of the same document give exact
    # copies, and a draw of an overwritten one gives "... dup dup"
    k = n // 20
    for dst, src in zip(rng.choice(n, k, replace=False), rng.integers(0, n, k)):
        texts[dst] = texts[src] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """Every table as an Arrow table; one child generator per table so a
    table's rows do not depend on the sizes of the others."""
    seeds = np.random.SeedSequence(seed).spawn(10)
    r = {name: np.random.default_rng(s) for name, s in zip(
        ("customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings", "nation", "region"), seeds)}
    n_ord = sizes.orders
    n_cust, n_supp, n_part, n_line = n_ord // 10, max(10, n_ord // 150), n_ord * 2 // 15, n_ord * 4
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
    }
    g = r["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(g, SEGMENTS, n_cust),
    })
    g = r["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(g, -999.99, 9999.99, n_supp),
    })
    g = r["part"]
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{c} {n}" for c, n in zip(_pick(g, COLORS, n_part), _pick(g, NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": _pick(g, P_TYPES, n_part),
        "p_size": g.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    g = r["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(g, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(g, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts("1995-01-01", g.integers(0, 2404, n_ord)),
        "o_orderpriority": _pick(g, PRIORITIES, n_ord),
    })
    g = r["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": g.integers(0, n_ord, n_line),
        "l_partkey": g.integers(0, n_part, n_line),
        "l_suppkey": g.integers(0, n_supp, n_line),
        "l_linenumber": g.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(g, 900.0, 105_000.0, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(g, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(g, ["F", "O"], n_line),
        "l_shipdate": _day_ts("1995-01-02", g.integers(0, 2498, n_line)),
    })
    g = r["events"]
    n_ev = sizes.events
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(g.integers(0, span_us, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": g.integers(0, max(1, n_ev * 3 // 200), n_ev),
        "event_type": _pick(g, EVENT_TYPES, n_ev),
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    out["documents"] = pa.table(_documents(r["documents"], sizes.documents))
    out["embeddings"] = _embeddings(r["embeddings"], sizes.embeddings)
    return out


def write(seed: int, sizes: Sizes, dst: str) -> dict[str, int]:
    """(Re)write every table as ``dst/<name>.parquet``; returns row counts."""
    os.makedirs(dst, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sizes).items():
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"), row_group_size=t.num_rows or 1)
        counts[name] = t.num_rows
    return counts
