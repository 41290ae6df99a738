"""Output checks, run after timing.

Registry queries are compared with their DuckDB twin
(``oracle_sql()``) by the parity gate's own rule: row count, column
names, and an order-insensitive value multiset
(``tools/check_parity.py::_normalize``)."""

from __future__ import annotations

import hashlib
import os
import sys
from dataclasses import dataclass

import duckdb

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_parity import _normalize, _value_hash  # noqa: E402


@dataclass
class Outcome:
    ok: bool
    detail: str


def compare(
    got_cols: list[str], got_rows: list[tuple], want_cols: list[str], want_rows: list[tuple]
) -> Outcome:
    gc, gn = _normalize(list(got_cols), [tuple(r) for r in got_rows])
    wc, wn = _normalize(list(want_cols), [tuple(r) for r in want_rows])
    if len(gn) != len(wn):
        return Outcome(False, f"rows {len(gn)} != {len(wn)}")
    if gc != wc:
        return Outcome(False, f"columns {gc} != {wc}")
    if gn != wn:
        return Outcome(False, f"values differ: {_value_hash(gn)} != {_value_hash(wn)}")
    return Outcome(True, f"{len(gn)} rows, hash {_value_hash(gn)}")


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per parquet table in ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, f)}')"
            )
    return con


def check_against_oracle(df, con: duckdb.DuckDBPyConnection, sql: str) -> Outcome:
    got = [tuple(r) for r in df.collect()]
    res = con.execute(sql)
    want_cols = [d[0] for d in res.description]
    return compare(df.columns, got, want_cols, res.fetchall())


def rows_digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of a row set."""
    return hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()[:16]
