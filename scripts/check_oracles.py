"""Local differential checker replicating the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 side-by-side with
its ``oracle_sql()`` through DuckDB (same pre-registered views the driver
uses) and compares row count, sorted column names, and sorted values.

Usage: python scripts/check_oracles.py [name ...]   (default: all)
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            # lists/arrays -> tuples so they sort/compare
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    df = df.sort_values(by=list(df.columns), na_position="last",
                        ignore_index=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str:
    if len(spark_df) != len(oracle_df):
        return f"ROWS {len(spark_df)} vs {len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return (f"SCHEMA {sorted(spark_df.columns)} vs "
                f"{sorted(oracle_df.columns)}")
    s, o = normalize(spark_df), normalize(oracle_df)
    for c in s.columns:
        sc, oc = s[c], o[c]
        if pd.api.types.is_float_dtype(sc):
            ok = ((sc.isna() & oc.isna())
                  | (np.isclose(sc, oc, rtol=0, atol=0, equal_nan=True))).all()
            if not ok:
                near = ((sc.isna() & oc.isna())
                        | np.isclose(sc, oc, rtol=1e-9, atol=1e-12,
                                     equal_nan=True)).all()
                bad = (~((sc.isna() & oc.isna())
                         | np.isclose(sc, oc, rtol=0, atol=0,
                                      equal_nan=True))).idxmax()
                return (f"VALUES col={c} row={bad} "
                        f"{sc[bad]!r} vs {oc[bad]!r}"
                        + (" (NEAR: <1e-9 rel — float formulation diff)"
                           if near else ""))
        else:
            eq = (sc == oc) | (sc.isna() & oc.isna())
            if not eq.all():
                bad = (~eq).idxmax()
                return f"VALUES col={c} row={bad} {sc[bad]!r} vs {oc[bad]!r}"
    return "OK"


def main() -> int:
    import __spark_entry__ as entry_mod
    from serverless_data_pipeline_spark.session import get_spark

    only = set(sys.argv[1:])
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - qs.keys()
    if unknown:
        # a stale/typo'd name must not produce a false-green "ALL GREEN
        # (0 queries run)" verdict
        print(f"UNKNOWN query names: {sorted(unknown)}; "
              f"valid: {sorted(qs)}")
        return 2

    spark = get_spark(shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")

    failures = 0
    n_run = n_run_oracled = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        n_run_oracled += name in oracles
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        verdict = compare(name, sdf, odf)
        status = "ok   " if verdict == "OK" else "FAIL "
        if verdict != "OK":
            failures += 1
        print(f"{status}{name}: {verdict} ({len(sdf)} rows) "
              f"[{time.time()-t0:.1f}s]")
    subset = f" — SUBSET of {len(qs)}" if only else ""
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'} "
          f"({n_run} queries run, {n_run_oracled} with oracle{subset})")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
