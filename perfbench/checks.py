"""Output checks, run outside every timed region.

Oracle-backed ops are compared with their DuckDB oracle the way the
library's own differential tests compare them: same column names, same
row count, and the same order-insensitive multiset of canonicalised
rows.  Expected results are computed once per process and cached.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, dt.date):
        return dt.datetime.combine(v, dt.time())
    return v


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Sorted multiset of canonicalised rows, columns ordered by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(row[i]) for i in order) for row in rows]
    return sorted(out, key=repr)


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name in tables:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
            )
        self._expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, name: str, sql: str) -> tuple[list[str], list[tuple]]:
        if name not in self._expected:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._expected[name] = (sorted(cols), canon_rows(cols, cur.fetchall()))
        return self._expected[name]

    def close(self) -> None:
        self.con.close()


def match_oracle(oracle: Oracle, name: str, sql: str, columns, rows) -> str | None:
    """None when the rows match the oracle, else a one-line reason."""
    want_cols, want_rows = oracle.expected(name, sql)
    if sorted(columns) != want_cols:
        return f"columns {sorted(columns)} != oracle {want_cols}"
    got = canon_rows(list(columns), rows)
    if len(got) != len(want_rows):
        return f"row count {len(got)} != oracle {len(want_rows)}"
    bad = sum(1 for a, b in zip(got, want_rows) if a != b)
    if bad:
        first = next((a, b) for a, b in zip(got, want_rows) if a != b)
        return f"{bad}/{len(got)} rows differ, first spark={first[0]} oracle={first[1]}"
    return None


def tree_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``; 0 when absent."""
    size = 0
    for root, _, fnames in os.walk(path):
        for f in fnames:
            try:
                size += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return size
