"""Untimed output checks against the registered DuckDB oracles.

Comparison follows the engine's oracle parity rules (see the top of
``__spark_entry__.py``): same column names, same row count, and equal
order-insensitive rows with numerics type-tagged, so an int 3 and a
float 3.0 differ.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import numpy as np
import pandas as pd


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("f", "NaN" if math.isnan(f) else f)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def canon(df: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    cols = tuple(sorted(df.columns))
    rows = [tuple(_cell(v) for v in r) for r in df[list(cols)].itertuples(index=False)]
    return cols, sorted(rows, key=lambda r: tuple(str(x) for x in r))


class Oracle:
    """A DuckDB connection with one view per input table."""

    def __init__(self, views: dict[str, str]) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for name, path in views.items():
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def canon(self, sql: str):
        return canon(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()
