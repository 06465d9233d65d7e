"""Output checks: every checked operation is compared with an independent
reference and a mismatch counts as a failed operation.

* batch tasks: the query's rows are hashed in a canonical order and
  compared with the hash of its ``__spark_entry__.oracle_sql()`` rows, run
  through DuckDB over the same generated parquet;
* the stream tasks: the alert rows and the final window rows must equal
  the batch oracle SQL of ``tick_stream_count_alert`` / ``tick_stream_window``
  over the points that were streamed.
"""

from __future__ import annotations

import decimal
import hashlib

import numpy as np
import pandas as pd


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) else df[c]
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and df[c].map(
                lambda x: isinstance(x, decimal.Decimal)).any():
            df[c] = df[c].astype(float)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frame_hash(df: pd.DataFrame) -> str:
    c = canonical(df)
    h = hashlib.sha256("|".join(c.columns).encode())
    h.update(pd.util.hash_pandas_object(c, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


def same_rows(got: pd.DataFrame, want: pd.DataFrame, float_rtol: float = 0.0,
              keys=None) -> tuple[bool, str]:
    """Order-insensitive equality; returns (ok, detail). Exact (by hash)
    unless ``float_rtol`` is set, in which case rows are aligned on the
    ``keys`` columns and float columns may differ by that relative
    amount."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    hg, hw = frame_hash(got), frame_hash(want)
    if hg == hw:
        return True, hg
    if float_rtol:
        g = canonical(got).sort_values(list(keys), ignore_index=True)
        w = canonical(want).sort_values(list(keys), ignore_index=True)
        bad = []
        for c in g.columns:
            if pd.api.types.is_float_dtype(g[c]):
                close = np.isclose(g[c], w[c], rtol=float_rtol, atol=0.0, equal_nan=True)
                if not close.all():
                    bad.append(c)
            elif not g[c].equals(w[c]):
                bad.append(c)
        if not bad:
            return True, f"equal within rtol {float_rtol:g}"
        return False, f"columns differ beyond rtol {float_rtol:g}: {bad}"
    g, w = canonical(got), canonical(want)
    bad = [c for c in g.columns if not g[c].equals(w[c])]
    return False, f"hash {hg} != {hw}; columns differ: {bad}"


class Oracle:
    """DuckDB over the generated parquet (or in-memory frames)."""

    def __init__(self, tables: dict, work_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
        for name, src in tables.items():
            if isinstance(src, str):
                self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
            else:
                self.con.register(name, src)

    def rows(self, sql: str) -> pd.DataFrame:
        return self.con.sql(sql).df()
