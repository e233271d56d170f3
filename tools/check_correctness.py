"""Local differential harness — mimics the driver's DuckDB-oracle gate.

Runs every ``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin
at a given sf dir, then compares: row count, arrow schema (names + types),
and order-insensitive values (rows sorted by all columns, column order
sorted by name). Exact comparison — the queries themselves are responsible
for rounding computed doubles on both sides.

BYTE-SENSITIVE for floats: the driver hashes canonicalized value BYTES, so
``-0.0`` vs ``+0.0`` (numerically equal — pandas ``==`` passes) is a driver
FAIL. Two rounds were lost to exactly that blind spot on
``embedding_covariance`` (DuckDB ``ROUND`` preserves the sign of a tiny
negative, Spark's doesn't). Float columns are therefore additionally
compared via ``np.signbit`` after the numeric compare passes.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

# This checkout first, so a second copy (a parent for an A/B) tests itself.
sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from nyctaxidatapipeline_spark import get_spark  # noqa: E402
from nyctaxidatapipeline_spark.sources import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def signbit_mismatches(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """Columns where the two (already numerically-equal, row-aligned)
    frames differ in float sign bits — i.e. -0.0 on one side, +0.0 on
    the other. Byte-level different, so a driver value-hash mismatch."""
    bad = []
    for col in a.columns:
        av, bv = a[col], b[col]
        if not (pd.api.types.is_float_dtype(av)
                and pd.api.types.is_float_dtype(bv)):
            continue
        x = av.to_numpy(dtype="float64", na_value=np.nan)
        y = bv.to_numpy(dtype="float64", na_value=np.nan)
        ok = np.isnan(x) | (np.signbit(x) == np.signbit(y))
        if not bool(ok.all()):
            n = int((~ok).sum())
            bad.append(f"{col} ({n} signed-zero/sign mismatches)")
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        tag = f"[{name}]"
        try:
            sdf = fn(spark, sf_dir)
            spark_arrow = sdf.toArrow()
            spark_pd = spark_arrow.to_pandas()
        except Exception as e:  # noqa: BLE001
            print(f"{tag} SPARK ERROR: {e}")
            failures += 1
            continue
        if sql is None:
            print(f"{tag} rows-only: {len(spark_pd)} rows OK")
            continue
        try:
            duck_arrow = con.execute(sql).fetch_arrow_table()
            duck_pd = duck_arrow.to_pandas()
        except Exception as e:  # noqa: BLE001
            print(f"{tag} ORACLE ERROR: {e}")
            failures += 1
            continue

        ok = True
        if len(spark_pd) != len(duck_pd):
            print(f"{tag} ROWCOUNT spark={len(spark_pd)} duck={len(duck_pd)}")
            ok = False
        s_schema = {f.name: str(f.type) for f in spark_arrow.schema}
        d_schema = {f.name: str(f.type) for f in duck_arrow.schema}
        if s_schema != d_schema:
            print(f"{tag} SCHEMA spark={s_schema}\n{' ' * len(tag)} duck ={d_schema}")
            ok = False
        if ok:
            s_n, d_n = normalize(spark_pd), normalize(duck_pd)
            try:
                pd.testing.assert_frame_equal(s_n, d_n, check_exact=True)
            except AssertionError as e:
                print(f"{tag} VALUES differ: {str(e)[:500]}")
                ok = False
            if ok:
                sign_bad = signbit_mismatches(s_n, d_n)
                if sign_bad:
                    print(f"{tag} SIGNBIT (driver hash would differ): "
                          f"{', '.join(sign_bad)}")
                    ok = False
        if ok:
            print(f"{tag} OK ({len(spark_pd)} rows)")
        else:
            failures += 1
    spark.stop()
    print(f"\n{'FAIL' if failures else 'PASS'}: {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
