"""Output checks, run outside the timed window.

* ``taxi_etl``: each of the seven pipeline tables is compared with a DuckDB
  SQL twin over the same raw parquet: same row count, and rows equal after
  sorting by the table's group keys (floats within 1e-9, the rest exact).
  ``fare_anomalies`` uses the approximate p99 (GK sketch), so its twin
  takes the threshold the engine picked (the smallest fare it kept) and
  checks both the row set at that threshold and that the threshold's rank
  lies within the sketch's 1% rank error of the 99th percentile.
* ``plan_heavy``: each query is compared with its ``oracle_sql()`` twin
  the way ``tools/check_correctness.py`` does (row count, arrow schema,
  exact order-insensitive values, float sign bits), using that script's
  normalization helpers.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Group keys of each pipeline table (unique per output row).
TAXI_KEYS = {
    "demand_heatmap": ["PULocationID", "pickup_hour"],
    "tip_trends": ["PULocationID", "payment_type"],
    "trip_performance": ["PULocationID", "pickup_hour", "pickup_dow"],
    "popular_routes": ["PULocationID", "DOLocationID", "pickup_hour"],
    "payment_analysis": ["PULocationID", "pickup_hour", "payment_type"],
    "distance_distribution": ["PULocationID", "pickup_hour",
                              "distance_category"],
}

_TRIP_COLUMNS = (
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID", "store_and_fwd_flag",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge", "Airport_fee",
)

# Reference semantics (features.py / analytics.py): Spark's dayofweek is
# 1=Sunday..7=Saturday, DuckDB's is 0-based; unix_timestamp truncates to
# whole seconds; guarded ratios are NULL when the denominator is not > 0.
_FEATURES_SQL = """
CREATE OR REPLACE VIEW features AS
WITH clean AS (
  SELECT * FROM read_parquet('{raw}/*.parquet')
  WHERE {not_null}
), t AS (
  SELECT *, hour(tpep_pickup_datetime) AS pickup_hour,
         dayofweek(tpep_pickup_datetime) + 1 AS pickup_dow,
         (epoch_us(tpep_dropoff_datetime) // 1000000
          - epoch_us(tpep_pickup_datetime) // 1000000) / 60.0 AS trip_minutes
  FROM clean
)
SELECT *,
  CASE WHEN fare_amount > 0 THEN tip_amount / fare_amount END AS tip_pct,
  CASE WHEN trip_minutes > 0
       THEN trip_distance / (trip_minutes / 60.0) END AS avg_speed_mph,
  CASE WHEN trip_distance > 0
       THEN fare_amount / trip_distance END AS revenue_per_mile,
  CASE WHEN trip_distance < 1.0 THEN 'Very Short'
       WHEN trip_distance < 3.0 THEN 'Short'
       WHEN trip_distance < 5.0 THEN 'Medium'
       WHEN trip_distance < 10.0 THEN 'Long'
       ELSE 'Very Long' END AS distance_category
FROM t
"""

TAXI_TWIN = {
    "demand_heatmap": """
        SELECT PULocationID, pickup_hour, count(*) AS n_trips
        FROM features GROUP BY ALL""",
    "tip_trends": """
        SELECT PULocationID, payment_type, avg(tip_pct) AS avg_tip_pct,
               count(*) AS n_trips
        FROM features GROUP BY ALL""",
    "trip_performance": """
        SELECT PULocationID, pickup_hour, pickup_dow,
               avg(trip_minutes) AS avg_trip_minutes,
               avg(avg_speed_mph) AS avg_avg_speed_mph,
               avg(revenue_per_mile) AS avg_revenue_per_mile,
               avg(fare_amount) AS avg_fare_amount,
               avg(trip_distance) AS avg_trip_distance,
               avg(tip_amount) AS avg_tip_amount,
               avg(tip_pct) AS avg_tip_pct,
               sum(fare_amount) AS sum_fare_amount,
               count(*) AS n_trips,
               pickup_dow IN (1, 7) AS is_weekend
        FROM features GROUP BY PULocationID, pickup_hour, pickup_dow""",
    "popular_routes": """
        SELECT PULocationID, DOLocationID, pickup_hour, count(*) AS n_trips,
               avg(trip_minutes) AS avg_trip_minutes,
               avg(fare_amount) AS avg_fare_amount,
               avg(trip_distance) AS avg_trip_distance,
               avg(tip_amount) AS avg_tip_amount
        FROM features GROUP BY ALL HAVING count(*) >= 10""",
    "payment_analysis": """
        SELECT PULocationID, pickup_hour, payment_type, count(*) AS n_trips,
               avg(fare_amount) AS avg_fare, avg(tip_amount) AS avg_tip,
               avg(tip_pct) AS avg_tip_pct,
               sum(fare_amount) AS total_revenue,
               CASE payment_type WHEN 1 THEN 'Credit Card' WHEN 2 THEN 'Cash'
                    WHEN 3 THEN 'No Charge' WHEN 4 THEN 'Dispute'
                    ELSE 'Unknown' END AS payment_method
        FROM features GROUP BY PULocationID, pickup_hour, payment_type""",
    "distance_distribution": """
        SELECT PULocationID, pickup_hour, distance_category,
               count(*) AS n_trips, avg(fare_amount) AS avg_fare,
               avg(trip_minutes) AS avg_duration, avg(tip_amount) AS avg_tip,
               sum(fare_amount) AS total_revenue
        FROM features GROUP BY ALL""",
}

_ANOMALY_COLS = ["VendorID", "tpep_pickup_datetime", "PULocationID",
                 "DOLocationID", "fare_amount", "trip_distance", "tip_amount"]
#: fare_anomalies keeps fares >= the GK p99 with relative rank error 1/100.
_Q, _RANK_ERR = 0.99, 0.01


def _values(col: pd.Series) -> np.ndarray:
    if pd.api.types.is_datetime64_any_dtype(col):
        return col.astype("int64").to_numpy()
    return col.to_numpy()


def frames_match(got: pd.DataFrame, want: pd.DataFrame,
                 keys: list[str]) -> str | None:
    """None when the two frames hold the same rows (sorted by ``keys``,
    floats within 1e-9); otherwise what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    got = got.sort_values(keys, ignore_index=True)
    want = want.sort_values(keys, ignore_index=True)[list(got.columns)]
    for c in got.columns:
        a, b = _values(got[c]), _values(want[c])
        if (pd.api.types.is_float_dtype(got[c])
                or pd.api.types.is_float_dtype(want[c])):
            ok = np.isclose(a.astype(float), b.astype(float), rtol=1e-9,
                            atol=1e-9, equal_nan=True)
        else:
            ok = (pd.isna(a) & pd.isna(b)) | (a == b)
        if not bool(np.all(ok)):
            return f"column {c}: {int((~np.asarray(ok)).sum())} rows differ"
    return None


class TaxiTwin:
    """DuckDB twin of ``pipeline.run_pipeline`` over one raw trip directory."""

    def __init__(self, raw_dir: str):
        self.con = duckdb.connect()
        self.con.execute(_FEATURES_SQL.format(
            raw=raw_dir,
            not_null=" AND ".join(f"{c} IS NOT NULL" for c in _TRIP_COLUMNS)))
        self.expected = {name: self.con.execute(sql).df()
                         for name, sql in TAXI_TWIN.items()}
        self.rows_out = self.con.execute(
            "SELECT count(*) FROM features").fetchone()[0]

    def check(self, name: str, out_dir: str) -> str | None:
        """None when the table written to ``out_dir`` is correct."""
        got = pq.read_table(out_dir).to_pandas()
        if name != "fare_anomalies":
            return frames_match(got, self.expected[name], TAXI_KEYS[name])
        if got.empty:
            return "no anomalies written"
        thr = float(got["fare_amount"].min())
        below, at_most = self.con.execute(
            "SELECT count(*) FILTER (WHERE fare_amount < ?),"
            " count(*) FILTER (WHERE fare_amount <= ?) FROM features",
            [thr, thr]).fetchone()
        n = self.rows_out
        if below > (_Q + _RANK_ERR) * n or at_most < (_Q - _RANK_ERR) * n:
            return f"threshold {thr} rank {below}/{n} outside p99 bounds"
        want = self.con.execute(
            f"SELECT {', '.join(_ANOMALY_COLS)} FROM features"
            " WHERE fare_amount >= ?", [thr]).df()
        return frames_match(got, want, _ANOMALY_COLS)


def _check_correctness():
    """``tools/check_correctness.py`` as a module (it is a script, not a
    package member)."""
    tools = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_correctness
    return check_correctness


class OracleTwin:
    """``oracle_sql()`` twins of registered queries over generated tables."""

    def __init__(self, data_dir: str, tables: list[str], names: list[str]):
        import __spark_entry__ as entrymod

        self.cc = _check_correctness()
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        sql = entrymod.oracle_sql()
        self.expected = {n: con.execute(sql[n]).fetch_arrow_table()
                         for n in names}
        con.close()

    def check(self, name: str, got: pa.Table) -> str | None:
        """None when ``got`` equals the twin's result."""
        want = self.expected[name]
        if got.num_rows != want.num_rows:
            return f"{got.num_rows} rows != {want.num_rows}"
        g_schema = {f.name: str(f.type) for f in got.schema}
        w_schema = {f.name: str(f.type) for f in want.schema}
        if g_schema != w_schema:
            return f"schema {g_schema} != {w_schema}"
        g = self.cc.normalize(got.to_pandas())
        w = self.cc.normalize(want.to_pandas())
        try:
            pd.testing.assert_frame_equal(g, w, check_exact=True)
        except AssertionError as e:
            return f"values differ: {str(e)[:300]}"
        bad = self.cc.signbit_mismatches(g, w)
        return f"sign bits differ: {bad}" if bad else None
