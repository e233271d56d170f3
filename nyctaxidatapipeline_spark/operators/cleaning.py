"""Cleaning: the reference's null-scrub ETL (F1).

Reference: ``cleaning.py:10-18`` — drop any row with a NULL in any of the 19
trip columns, i.e. ``WHERE c1 IS NOT NULL AND ... AND cN IS NOT NULL``.
``dropna`` compiles to exactly those IsNotNull filters, which Catalyst pushes
into the parquet scan (SURVEY.md §4) — at 100 TB the row-group statistics
skip fully-null chunks without decoding them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.quantiles import QUANTILES, quantiles


def drop_null_rows(df: DataFrame,
                   subset: Sequence[str] | None = None) -> DataFrame:
    """Rows non-null in every column of ``subset`` (default: all columns)."""
    return df.dropna(how="any", subset=list(subset) if subset else None)


def winsorize(df: DataFrame, col: str, lo: float = 0.01, hi: float = 0.99,
              out_col: str | None = None, mode: str = "exact",
              accuracy: int = 100) -> DataFrame:
    """Clip ``col`` to its [lo, hi] quantiles — the standard
    robust-scaling guard against fat-tailed outliers before features
    enter a model (NULLs pass through unclipped).

    100 TB shape: ONE percentile aggregate (``quantiles`` — both bounds
    off a single buffer) produces a 1-row bounds frame, broadcast back
    as a scalar cross join (the engine's established runtime-scalar
    pattern, cf. ``fare_anomalies``'s threshold and
    ``reshape.histogram``'s bin bounds); the clip itself is a
    shuffle-free narrow projection. ``mode='exact'`` (interpolated
    ``F.percentile``) sorts the whole column into one aggregation
    buffer — fine for oracle parity, not the 100 TB mode;
    ``mode='approx'`` uses the bounded-memory mergeable
    Greenwald-Khanna sketch (rank error <= 1/accuracy; exact rank
    statistics once accuracy >= n).
    """
    if mode not in ("exact", "approx"):
        raise ValueError(f"winsorize mode must be 'exact' or 'approx', "
                         f"got {mode!r}")
    out = out_col or col
    b = (quantiles(df, col, (lo, hi), mode=mode, accuracy=accuracy)
         .select(F.col(QUANTILES)[0].alias("_lo"),
                 F.col(QUANTILES)[1].alias("_hi")))
    # least/greatest SKIP nulls (greatest(NULL, lo) = lo), so the NULL
    # passthrough needs an explicit guard.
    clipped = F.when(
        F.col(col).isNotNull(),
        F.least(F.greatest(F.col(col), F.col("_lo")), F.col("_hi")))
    return (df.crossJoin(F.broadcast(b))
              .withColumn(out, clipped)
              .drop("_lo", "_hi"))
