"""Output verification against the operators' DuckDB oracles.

The oracles run over the same generated ``events`` file the engine read.
``level3`` and ``matches`` are materialized once per run from the shared
synth SQL, so each per-request oracle only runs its own body. Results are
compared as order-insensitive canonical tables: columns sorted by name,
timestamps as epoch µs, integral numbers printed as integers whatever
their dtype, other numbers as exact float reprs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _num(v) -> str:
    if v is None or pd.isna(v):
        return "\0NULL"
    f = float(v)
    if f == int(f) and abs(f) < 2**53:
        return str(int(f))
    return repr(f)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) else s
            us = s.astype("datetime64[us]").astype("int64")
            df[c] = us.where(~s.isna(), -1)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("object").map(
                lambda v: "\0NULL" if pd.isna(v) else str(bool(v)))
        elif pd.api.types.is_numeric_dtype(s):
            df[c] = s.map(_num)
        else:
            df[c] = s.map(lambda v: "\0NULL" if v is None or (isinstance(v, float) and np.isnan(v))
                          else _num(v) if isinstance(v, (int, float, np.number))
                          else str(v))
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def table_hash(df: pd.DataFrame) -> str:
    c = canonical(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.astype(str).itertuples(index=False):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if table_hash(got) != table_hash(want):
        return "value hash differs"
    return None


class Oracle:
    """DuckDB connection holding ``events``, ``level3``, ``matches`` and the
    pair/exchange dimensions for one generated input."""

    def __init__(self, events_file: str):
        import duckdb

        from obadiah_spark.synth import (
            EXCHANGES_SQL, LEVEL3_BODY_SQL, MATCHES_BODY_SQL, PAIRS_SQL)

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_file}')")
        self.con.execute(f"CREATE TABLE level3 AS {LEVEL3_BODY_SQL}")
        self.con.execute(f"CREATE TABLE matches AS {MATCHES_BODY_SQL}")
        self.con.execute(f"CREATE TABLE pairs AS {PAIRS_SQL}")
        self.con.execute(f"CREATE TABLE exchanges AS {EXCHANGES_SQL}")

    def df(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()
