"""End-to-end taxi pipeline — the reference's two entry points, composed
from the engine's operators so a user of the reference can switch 1:1.

EP2 (``cleaning.py``): ``clean_trips`` — raw glob scan → 19-column null
scrub → parquet.  EP1 (``yellow_taxi_etl.py``): ``taxi_analytics`` — feature
engineering → cached shared input → seven aggregate tables; ``run_pipeline``
writes them through the sink abstraction with the reference's write-mode
semantics (``--append`` flips analytics tables to append, ``fare_anomalies``
stays overwrite — ``yellow_taxi_etl.py:205-211``).

The reference writes the seven tables one after another; ``run_pipeline``
writes them concurrently over the one cached featurized input (Shark's
shape: one in-memory columnar cache, many independent queries). Why the
cache is filled once regardless is in ``taxi_analytics``.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from nyctaxidatapipeline_spark import sinks
from nyctaxidatapipeline_spark.functions.features import with_trip_features
from nyctaxidatapipeline_spark.operators import (
    demand_heatmap,
    distance_distribution,
    drop_null_rows,
    payment_analysis,
    popular_routes,
    threshold_anomalies,
    tip_trends,
    trip_performance,
)
from nyctaxidatapipeline_spark.plans.util import build_concurrently
from nyctaxidatapipeline_spark.sources import read_parquet

#: The 19 TLC trip columns (reference ``cleaning.py:10-15``).
TRIP_COLUMNS = (
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID", "store_and_fwd_flag",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge", "Airport_fee",
)

#: Payment-type decode (reference ``yellow_taxi_etl.py:179-185``).
PAYMENT_DECODE = {1: "Credit Card", 2: "Cash", 3: "No Charge", 4: "Dispute"}


def clean_trips(spark: SparkSession, in_path: str,
                out_path: str | None = None) -> DataFrame:
    """EP2: scan raw monthly parquet, drop rows null in any trip column,
    optionally write the cleaned dataset (reference ``cleaning.py``)."""
    cleaned = drop_null_rows(read_parquet(spark, in_path),
                             subset=TRIP_COLUMNS)
    if out_path:
        sinks.write_parquet(cleaned, out_path)
    return cleaned


def taxi_analytics(trips: DataFrame,
                   threshold_mode: str = "approx") -> dict[str, DataFrame]:
    """EP1: the seven aggregate tables over a trip-shaped DataFrame.

    The featurized input is cached — the reference's one explicit physical
    decision (``yellow_taxi_etl.py:95``): six analytics plus the quantile
    scan share a single materialization. ``run_pipeline`` writes the seven
    tables concurrently over it: a job reaching a cached partition that
    another job is filling blocks on that fill rather than recompute it
    (checked in ``tests/test_pipeline.py``). At 100 TB swap ``.cache()``
    for a parquet checkpoint of the featurized columns
    (MEMORY_AND_DISK of a 100 TB working set evicts constantly; a columnar
    on-disk checkpoint with column pruning is strictly better there).
    """
    # NOTE: do not drop this cache to speed up the concurrent writes. It
    # was tried: the pipeline got faster, but eight concurrent 19-column
    # raw scans raised peak RSS of the 300k-row taxi_etl benchmark to
    # 1847 and 1974 MB (two runs) against 1438 and 1474 MB with the cache.
    df = with_trip_features(trips).cache()
    return {
        "demand_heatmap": demand_heatmap(df, "PULocationID", "pickup_hour"),
        "tip_trends": tip_trends(df, "PULocationID", "payment_type",
                                 "tip_pct"),
        "trip_performance": trip_performance(
            df, ["PULocationID", "pickup_hour", "pickup_dow"],
            avg_cols=["trip_minutes", "avg_speed_mph", "revenue_per_mile",
                      "fare_amount", "trip_distance", "tip_amount",
                      "tip_pct"],
            sum_cols=["fare_amount"], dow_col="pickup_dow"),
        "popular_routes": popular_routes(
            df, ["PULocationID", "DOLocationID", "pickup_hour"],
            avg_cols=["trip_minutes", "fare_amount", "trip_distance",
                      "tip_amount"],
            min_trips=10),
        "payment_analysis": payment_analysis(
            df, ["PULocationID", "pickup_hour", "payment_type"],
            pay_col="payment_type", fare_col="fare_amount",
            tip_col="tip_amount", ratio_col="tip_pct",
            decode=PAYMENT_DECODE),
        "distance_distribution": distance_distribution(
            df, ["PULocationID", "pickup_hour", "distance_category"],
            fare_col="fare_amount", minutes_col="trip_minutes",
            tip_col="tip_amount"),
        "fare_anomalies": threshold_anomalies(
            df, "fare_amount",
            ["VendorID", "tpep_pickup_datetime", "PULocationID",
             "DOLocationID", "fare_amount", "trip_distance", "tip_amount"],
            q=0.99, mode=threshold_mode),
    }


def run_pipeline(trips: DataFrame, sink: str = "parquet",
                 append: bool = False, threshold_mode: str = "approx",
                 **sink_kwargs) -> dict[str, DataFrame]:
    """Write all seven tables. ``append=True`` mirrors the reference's
    ``--append`` flag; ``fare_anomalies`` is always overwritten
    (``yellow_taxi_etl.py:207``). ``threshold_mode`` picks the anomaly
    threshold's quantile (``taxi_analytics``).

    Parquet and noop writes run concurrently on driver threads; all of
    them finish before this returns, and the first failure in table order
    is re-raised. Console writes stay in table order (stdout), JDBC writes
    one at a time (each table's ``coalesce_to`` connection budget is sized
    for one database)."""
    if sink not in sinks.SINKS:
        raise ValueError(f"unknown sink {sink!r}")
    tables = taxi_analytics(trips, threshold_mode)
    mode = "append" if append else "overwrite"

    def write(name: str, df: DataFrame) -> None:
        table_mode = "overwrite" if name == "fare_anomalies" else mode
        if sink == "parquet":
            kwargs = {"path": sink_kwargs["base_path"].rstrip("/") + "/"
                      + name, "mode": table_mode}
        elif sink == "jdbc":
            kwargs = {"table": name, "cfg": sink_kwargs["cfg"],
                      "mode": table_mode}
        else:
            kwargs = {}
        sinks.write_output(df, sink, **kwargs)

    writes = [functools.partial(write, name, df)
              for name, df in tables.items()]
    if sink in ("parquet", "noop"):
        build_concurrently(trips.sparkSession, *writes)
    else:
        for w in writes:
            w()
    return tables
