"""The reference's seven analytics (A1-A7), re-expressed Spark-first.

Reference: ``yellow_taxi_etl.py:101-200`` (+ benchmark subset in
``new_etl.py``). Every operator is parameterized by column names so the same
logic runs on the taxi schema and on the driver fixture tables
(FIXTURES.md §C mapping). All pure DataFrame API: each groupBy compiles to a
partial+final HashAggregate pair around a single hash exchange; no UDFs.

Scale notes (100 TB):
  * groupBy keys here are (zone, hour, ...) — low cardinality (~265 zones x
    24 h), so the map-side partial aggregation collapses almost all rows
    before the shuffle; the exchange moves only |groups| x |map tasks| rows.
  * Hot zones (JFK, Midtown) skew the *input* but not the shuffle, because
    partial agg already reduced per-task output to one row per group.
  * The p99 threshold scan (A7) is a one-pass sketch; we keep it as a
    broadcast join rather than a driver collect so the whole anomaly query
    stays one lazy plan (no Python round-trip in the job's critical path).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.functions.features import decode_map
from nyctaxidatapipeline_spark.operators.quantiles import QUANTILES, quantiles


def demand_heatmap(df: DataFrame, zone_col: str, hour_col: str,
                   count_alias: str = "n_trips") -> DataFrame:
    """A1 — trip counts per (zone, hour). Reference:
    ``yellow_taxi_etl.py:101-105`` / ``new_etl.py:56-60``."""
    return (df.groupBy(zone_col, hour_col)
              .count()
              .withColumnRenamed("count", count_alias))


def tip_trends(df: DataFrame, zone_col: str, type_col: str,
               ratio_col: str) -> DataFrame:
    """A2 — avg guarded-ratio + count per (zone, payment type). NULL ratios
    (zero-denominator rows) are skipped by ``avg`` — load-bearing semantics.
    Reference: ``yellow_taxi_etl.py:110-116``."""
    return (df.groupBy(zone_col, type_col)
              .agg(F.avg(ratio_col).alias("avg_tip_pct"),
                   F.count("*").alias("n_trips")))


def trip_performance(df: DataFrame, group_cols: Sequence[str],
                     avg_cols: Sequence[str], sum_cols: Sequence[str],
                     dow_col: str | None = None,
                     weekend_days: Sequence[int] = (1, 7)) -> DataFrame:
    """A3 — wide grouped aggregate: avg over each metric, sum over revenue
    cols, count, plus post-agg ``is_weekend`` flag (F4 IN-list predicate).
    Reference: ``yellow_taxi_etl.py:134-148``."""
    aggs = ([F.avg(c).alias(f"avg_{c}") for c in avg_cols]
            + [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
            + [F.count("*").alias("n_trips")])
    out = df.groupBy(*group_cols).agg(*aggs)
    if dow_col is not None:
        out = out.withColumn("is_weekend",
                             F.col(dow_col).isin(*weekend_days))
    return out


def popular_routes(df: DataFrame, route_cols: Sequence[str],
                   avg_cols: Sequence[str], min_trips: int = 10) -> DataFrame:
    """A4 — route aggregate + HAVING (F3) + global sort desc (O1).

    Reference: ``yellow_taxi_etl.py:153-164``. The post-agg filter is planned
    by Catalyst as filter-above-aggregate (true HAVING). The global
    ``orderBy`` range-shuffles — at 100 TB prefer the top-k variant
    (``operators.windows.top_k_global``) which plans TakeOrderedAndProject
    and never materializes a full sort.
    """
    aggs = ([F.count("*").alias("n_trips")]
            + [F.avg(c).alias(f"avg_{c}") for c in avg_cols])
    return (df.groupBy(*route_cols)
              .agg(*aggs)
              .filter(F.col("n_trips") >= min_trips)
              .orderBy(F.col("n_trips").desc(), *route_cols))


def payment_analysis(df: DataFrame, group_cols: Sequence[str],
                     pay_col: str, fare_col: str, tip_col: str,
                     ratio_col: str,
                     decode: Mapping[object, str] | None = None,
                     decode_alias: str = "payment_method") -> DataFrame:
    """A5 — payment aggregate + CASE decode of the payment-type code.
    Reference: ``yellow_taxi_etl.py:169-186`` (decode table at 179-185)."""
    out = (df.groupBy(*group_cols)
             .agg(F.count("*").alias("n_trips"),
                  F.avg(fare_col).alias("avg_fare"),
                  F.avg(tip_col).alias("avg_tip"),
                  F.avg(ratio_col).alias("avg_tip_pct"),
                  F.sum(fare_col).alias("total_revenue")))
    if decode is not None:
        out = out.withColumn(decode_alias, decode_map(pay_col, decode))
    return out


def distance_distribution(df: DataFrame, group_cols: Sequence[str],
                          fare_col: str, minutes_col: str,
                          tip_col: str) -> DataFrame:
    """A6 — aggregate over a derived bucket column (strict-``<`` edges come
    from ``functions.bucketize`` upstream). Reference:
    ``yellow_taxi_etl.py:191-200``."""
    return (df.groupBy(*group_cols)
              .agg(F.count("*").alias("n_trips"),
                   F.avg(fare_col).alias("avg_fare"),
                   F.avg(minutes_col).alias("avg_duration"),
                   F.avg(tip_col).alias("avg_tip"),
                   F.sum(fare_col).alias("total_revenue")))


def quantile_threshold(df: DataFrame, col: str, q: float = 0.99,
                       mode: str = "approx",
                       accuracy: int = 100,
                       rank_cols: Sequence[str] | None = None,
                       sample_k: int = 16384) -> DataFrame:
    """A7 — single-row DataFrame holding the q-quantile of ``col``
    (``threshold``), one call to the ``quantiles`` core.

    ``mode='approx'`` matches the reference exactly
    (``yellow_taxi_etl.py:121``: Greenwald-Khanna sketch, rel. error
    1/accuracy = 0.01 at the default — one pass, mergeable, the right
    choice at 100 TB). ``mode='exact'`` uses linear-interpolated
    ``percentile`` for DuckDB-oracle parity (SURVEY.md §5 caveat 4).
    A large ``accuracy`` keeps the sketch uncompressed at fixture scale,
    where it IS the exact rank statistic (the ``winsorized_prices_approx``
    oracle recipe: the twin pins it with ``quantile_disc`` while sf1+
    inputs genuinely compress). ``mode='sketch'`` reads the discrete
    quantile off the deterministic bottom-``sample_k`` md5 sample over
    ``rank_cols`` — one linear scan + O(k) merge at ANY size,
    hash-checkable at its honest accuracy (the production mode whose
    scaling stays linear where GK at oracle-parity accuracy=1e6 goes
    super-linear).

    Returned as a DataFrame (not a collected float) so callers can broadcast
    it and keep the two-phase anomaly query inside one lazy plan.
    """
    return (quantiles(df, col, (q,), mode=mode, accuracy=accuracy,
                      rank_cols=rank_cols, k=sample_k)
            .select(F.col(QUANTILES)[0].alias("threshold")))


def threshold_anomalies(df: DataFrame, col: str,
                        select_cols: Sequence[str], q: float = 0.99,
                        mode: str = "exact",
                        accuracy: int = 100,
                        rank_cols: Sequence[str] | None = None,
                        sample_k: int = 16384) -> DataFrame:
    """A7+F2+P3 — rows whose ``col`` >= the q-quantile, narrow projection.

    Reference shape (``yellow_taxi_etl.py:121-129``) collects the sketch
    result to Python and re-injects it as a literal; we instead broadcast the
    1-row threshold and cross-join — same semantics, no driver round-trip,
    and the filter stays in the JVM plan (BroadcastNestedLoopJoin over one
    row ≡ a scalar subquery).
    """
    thr = quantile_threshold(df, col, q, mode=mode, accuracy=accuracy,
                             rank_cols=rank_cols, sample_k=sample_k)
    return (df.join(F.broadcast(thr))
              .filter(F.col(col) >= F.col("threshold"))
              .select(*select_cols))
