"""Output checks: every query's result against its DuckDB oracle.

The oracle SQL is the package's own (``queries.ORACLES``), run by DuckDB on
the same input files. Both sides become an order-insensitive multiset of
rows with columns sorted by name; floats are compared after the queries'
own rounding, normalised to 9 decimals, as in ``tests/parity.py``.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from collections import Counter

import duckdb


def norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else round(v, 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def canon(columns: list[str], rows) -> tuple[list[str], Counter]:
    """Rows (sequences in ``columns`` order) as a name-sorted multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], Counter(
        tuple(norm(r[i]) for i in order) for r in rows
    )


def diff(name: str, got: tuple[list[str], Counter], want: tuple[list[str], Counter]) -> str | None:
    """``None`` when equal, else a one-line description of the mismatch."""
    if got[0] != want[0]:
        return f"{name}: columns {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        extra, missing = got[1] - want[1], want[1] - got[1]
        return (
            f"{name}: {sum(got[1].values())} rows vs oracle {sum(want[1].values())}; "
            f"only in result {list(extra)[:2]}, only in oracle {list(missing)[:2]}"
        )
    return None


class Oracle:
    """DuckDB views over the generated input files, one per table."""

    def __init__(self, input_dir: str, tables):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in tables:
            path = os.path.join(input_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> tuple[list[str], Counter]:
        res = self.con.execute(sql)
        return canon([d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()

