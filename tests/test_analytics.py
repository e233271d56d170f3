"""Unit tests: the A1-A7 aggregate operators on tiny in-memory frames."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators import (
    demand_heatmap,
    drop_null_rows,
    popular_routes,
    quantile_threshold,
    threshold_anomalies,
    tip_trends,
    trip_performance,
)


def _trips(spark):
    rows = []
    for z, h, n in [(1, 8, 3), (1, 9, 2), (2, 8, 1)]:
        rows += [Row(zone=z, hour=h, dow=1 if z == 1 else 3,
                     fare=10.0 * (i + 1), ratio=0.1 * (i + 1))
                 for i in range(n)]
    return spark.createDataFrame(rows)


def test_demand_heatmap_counts(spark):
    got = {(r.zone, r.hour): r.n_trips
           for r in demand_heatmap(_trips(spark), "zone", "hour").collect()}
    assert got == {(1, 8): 3, (1, 9): 2, (2, 8): 1}


def test_tip_trends_null_skipping(spark):
    df = spark.createDataFrame([
        Row(zone=1, t="a", r=0.2), Row(zone=1, t="a", r=None),
        Row(zone=1, t="a", r=0.4)])
    row = tip_trends(df, "zone", "t", "r").collect()[0]
    assert row.n_trips == 3
    assert abs(row.avg_tip_pct - 0.3) < 1e-12


def test_trip_performance_weekend_flag(spark):
    out = trip_performance(
        _trips(spark), ["zone", "dow"], avg_cols=["fare"],
        sum_cols=["fare"], dow_col="dow")
    got = {r.zone: (r.is_weekend, r.n_trips, r.sum_fare) for r in out.collect()}
    assert got[1] == (True, 5, 10.0 + 20.0 + 30.0 + 10.0 + 20.0)
    assert got[2] == (False, 1, 10.0)


def test_popular_routes_having_and_order(spark):
    out = popular_routes(_trips(spark), ["zone", "hour"],
                         avg_cols=["fare"], min_trips=2).collect()
    assert [(r.zone, r.hour, r.n_trips) for r in out] == [(1, 8, 3), (1, 9, 2)]


def test_quantile_threshold_modes(spark):
    df = spark.createDataFrame([Row(x=float(i)) for i in range(1, 101)])
    exact = quantile_threshold(df, "x", 0.5, mode="exact").collect()[0][0]
    assert exact == 50.5  # linear interpolation
    approx = quantile_threshold(df, "x", 0.5, mode="approx").collect()[0][0]
    assert 49.0 <= approx <= 52.0


def test_approx_quantile_gk_bound_at_sf(spark):
    # Reference-parity mode (yellow_taxi_etl.py:121 uses the one-pass
    # Greenwald-Khanna sketch). GK's guarantee is on RANK, not value:
    # the returned element's rank is within rel_err*n (rel_err =
    # 1/accuracy) of the q*n target,
    # so the approx p99 must land between the exact p98 and the max.
    # This pins the sketch mode to its contract at bench scale — the
    # exact twin alone (fare_anomalies oracle) never exercised it.
    from nyctaxidatapipeline_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
    q, rel_err = 0.99, 0.01
    approx = quantile_threshold(li, "l_extendedprice", q, mode="approx",
                                accuracy=100).collect()[0][0]
    lo, hi = (li.select(
        F.percentile("l_extendedprice", F.lit(q - rel_err)),
        F.percentile("l_extendedprice", F.lit(min(1.0, q + rel_err))))
        .collect()[0])
    assert lo <= approx <= hi


def test_threshold_anomalies_filters(spark):
    df = spark.createDataFrame([Row(k=i, x=float(i)) for i in range(1, 101)])
    out = threshold_anomalies(df, "x", ["k", "x"], q=0.9, mode="exact")
    ks = sorted(r.k for r in out.collect())
    assert ks == list(range(91, 101))  # x >= 90.1 (interpolated p90)


def test_drop_null_rows(spark):
    df = spark.createDataFrame([
        Row(a=1, b="x"), Row(a=None, b="y"), Row(a=3, b=None)])
    assert drop_null_rows(df).count() == 1
    assert drop_null_rows(df, subset=["a"]).count() == 2
