"""Self-check harness mimicking the driver's t2 correctness gate:
runs each __spark_entry__.queries() entry on Spark AND its oracle_sql()
through DuckDB at sf0.01, compares row count, column names, and
order-insensitive values.

Usage: python tests/oracle_check.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Streaming replays pin spark.sql.shuffle.partitions for the blocking
# run (run_available_now) — a session-wide conf that concurrent query
# builds must not race. Queries whose names carry one of these markers go
# through the streaming machinery and run serially after the parallel
# batch sweep (tests/test_oracle_all.py, tests/test_driver_contract.py).
SERIAL_MARKERS = ("stream", "tick_")


def is_serial(name: str) -> bool:
    return any(m in name for m in SERIAL_MARKERS)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            # decimals → float for comparison parity
            try:
                import decimal

                if df[c].map(lambda x: isinstance(x, decimal.Decimal)).any():
                    df[c] = df[c].astype(float)
            except Exception:
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name, sdf_pd, odf_pd) -> list[str]:
    problems = []
    if len(sdf_pd) != len(odf_pd):
        problems.append(f"row count spark={len(sdf_pd)} oracle={len(odf_pd)}")
    scols, ocols = sorted(sdf_pd.columns), sorted(odf_pd.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    if problems:
        return problems
    s, o = _norm(sdf_pd), _norm(odf_pd)
    for c in s.columns:
        sc, oc = s[c], o[c]
        if pd.api.types.is_float_dtype(sc) or pd.api.types.is_float_dtype(oc):
            sc = pd.to_numeric(sc, errors="coerce").astype(float)
            oc = pd.to_numeric(oc, errors="coerce").astype(float)
            bad = ~(
                (sc.isna() & oc.isna())
                | (sc == oc)
            )
            if bad.any():
                i = bad.idxmax()
                problems.append(
                    f"col {c}: {int(bad.sum())} value diffs, e.g. row {i}: "
                    f"spark={sc[i]!r} oracle={oc[i]!r}"
                )
        else:
            eq = (sc == oc) | (sc.isna() & oc.isna())
            if not eq.all():
                i = (~eq).idxmax()
                problems.append(
                    f"col {c}: {int((~eq).sum())} value diffs, e.g. row {i}: "
                    f"spark={sc[i]!r} oracle={oc[i]!r}"
                )
    return problems


def main():
    import __spark_entry__ as entry_mod
    from kapacitor_spark import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(sys.argv[1:])
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      - {p}")
        else:
            print(f"MATCH {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
