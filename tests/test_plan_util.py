"""fan_out's scan-width probe: the estimate must be a LOWER bound of the
actual scan task count (so the >= target skip is safe), and the helper
must still widen genuinely narrow scans. local_frame: driver-held rows
must plan as a JVM local relation, never a Python-worker RDD."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyctaxidatapipeline_spark.plans.util import (
    _estimated_scan_partitions,
    fan_out,
    local_frame,
)

REPO = Path(__file__).resolve().parents[1]


def test_estimate_is_lower_bound_many_tiny_files(spark, tmp_path):
    # 100 tiny files: Spark's openCost packing merges them (admission
    # tests raw length, so bins overfill by up to one openCost) — the
    # raw file count (100) would wildly overestimate here.
    path = str(tmp_path / "tiny")
    spark.range(1000).repartition(100).write.parquet(path)
    df = spark.read.parquet(path)
    est = _estimated_scan_partitions(df, spark.sparkContext.defaultParallelism)
    actual = df.rdd.getNumPartitions()
    assert est is not None
    assert est <= actual, (est, actual)
    # and not uselessly loose: within 2x of the real packing
    assert est >= actual / 2, (est, actual)


def test_estimate_is_lower_bound_one_wide_file(spark, tmp_path):
    # One multi-split file: the raw file count (1) would force a
    # pointless repartition; the size-based estimate sees the splits.
    path = str(tmp_path / "big")
    spark.range(2_000_000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    est = _estimated_scan_partitions(df, spark.sparkContext.defaultParallelism)
    actual = df.rdd.getNumPartitions()
    assert est is not None
    assert 1 <= est <= actual, (est, actual)


def test_estimate_none_for_memory_plans(spark):
    assert _estimated_scan_partitions(spark.range(10), 8) is None


def test_fan_out_widens_narrow_scan(spark, tmp_path):
    path = str(tmp_path / "narrow")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    assert fan_out(df, "id").rdd.getNumPartitions() == target


def test_fan_out_noop_for_wide_memory_frame(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(10_000).repartition(target, "id")
    # already at target width -> the exact same plan object comes back
    assert fan_out(df, "id") is df


def test_mix_sources_rejects_nonpositive_proportion(spark):
    from nyctaxidatapipeline_spark.operators.sampling import mix_sources

    df = spark.createDataFrame([(1, "a")], "id long, src string")
    with pytest.raises(ValueError, match="> 0"):
        mix_sources(df, "src", "id", {"a": 1.0, "b": 0.0})


def test_mix_sources_exact_decimal_boundary(spark):
    # 3 rows at p=0.3 + 7 rows at p=0.7: budget = min(3/0.3, 7/0.7) = 10
    # exactly in decimal arithmetic; IEEE doubles give 10.000000000000002
    # for 3/0.3, which must NOT leak an extra row into the quotas.
    from nyctaxidatapipeline_spark.operators.sampling import mix_sources

    rows = [(i, "a") for i in range(3)] + [(100 + i, "b") for i in range(7)]
    df = spark.createDataFrame(rows, "id long, src string")
    out = mix_sources(df, "src", "id", {"a": 0.3, "b": 0.7})
    got = {r["src"]: 0 for r in out.collect()}
    for r in out.collect():
        got[r["src"]] += 1
    assert got == {"a": 3, "b": 7}


def test_zorder_bits_autoscale_and_reject(spark):
    from nyctaxidatapipeline_spark.sinks import zorder_key

    # 5 cols x default 16 bits would shift past bit 63; auto-scales to
    # 12 bits/col (60 bits total) instead of silently colliding.
    cols = [f"c{i}" for i in range(5)]
    df = spark.createDataFrame([tuple(float(i) for i in range(5))],
                               ", ".join(f"{c} double" for c in cols))
    bounded = df.select(
        "*", *[F.lit(0.0).alias(f"_zlo{i}") for i in range(5)],
        *[F.lit(10.0).alias(f"_zhi{i}") for i in range(5)])
    key = bounded.select(zorder_key(df, cols).alias("k")).collect()[0]["k"]
    assert key >= 0  # never lands in the sign bit
    with pytest.raises(ValueError, match="Z-order"):
        zorder_key(df, [f"c{i}" for i in range(64)])


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_plans_as_local_relation(spark):
    df = local_frame(spark, [(1, "a"), (2, "b")], "id long, s string")
    plan = _optimized_plan(df)
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan
    # the optimizer knows the exact size, so a join can broadcast it
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    assert stats.sizeInBytes() < 1024
    # reading it back is a driver-side scan: no Spark job at all
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_read", "local_frame read")
    try:
        assert sorted(df.collect()) == [(1, "a"), (2, "b")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("local_frame_read") == []


ROUND_TRIP_SCHEMA = T.StructType([
    T.StructField("s", T.StringType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("l", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("dec", T.DecimalType(12, 3)),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("vec", T.ArrayType(T.DoubleType())),
])
ROUND_TRIP_ROWS = [
    ("a", 1, 2 ** 40, 1.5, decimal.Decimal("123.456"), dt.date(2024, 2, 29),
     dt.datetime(2024, 2, 29, 23, 59, 58, 123456), [0.25, -1.0, None]),
    (None,) * 8,
]


def test_local_frame_round_trips_types_and_nulls(spark):
    df = local_frame(spark, ROUND_TRIP_ROWS, ROUND_TRIP_SCHEMA)
    assert df.schema == ROUND_TRIP_SCHEMA
    assert [tuple(r) for r in df.collect()] == ROUND_TRIP_ROWS
    # the same values and types as the Python-worker path it replaces
    ref = spark.createDataFrame(ROUND_TRIP_ROWS, ROUND_TRIP_SCHEMA)
    assert df.collect() == ref.collect()


def test_local_frame_empty_keeps_schema(spark):
    df = local_frame(spark, [], "key string, n long, v array<double>")
    assert df.schema.simpleString() == \
        "struct<key:string,n:bigint,v:array<double>>"
    assert df.count() == 0
    assert "LocalRelation" in _optimized_plan(df)


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError, match="2 values"):
        local_frame(spark, [(1, "a"), (2,)], "id long, s string")


def test_local_frame_without_arrow_conf(spark):
    # a vanilla SparkSession leaves the Arrow conf at false
    vanilla = spark.newSession()
    vanilla.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    df = local_frame(vanilla, ROUND_TRIP_ROWS, ROUND_TRIP_SCHEMA)
    assert _optimized_plan(df).startswith("LocalRelation")
    assert [tuple(r) for r in df.collect()] == ROUND_TRIP_ROWS


def _create_dataframe_calls(path: Path) -> list[str]:
    """``file:line (function)`` of every ``.createDataFrame(`` call."""
    found = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            inner = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func)
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append(f"{path.relative_to(REPO)}:{child.lineno} "
                             f"({func})")
            visit(child, inner)

    visit(ast.parse(path.read_text()), None)
    return found


def test_engine_builds_driver_rows_only_through_local_frame():
    """Every engine frame over driver-held rows must be a local relation:
    ``createDataFrame`` may only be called inside ``local_frame``.
    (Tests may still build their inputs with ``createDataFrame``.)"""
    files = [REPO / "__spark_entry__.py",
             *sorted((REPO / "nyctaxidatapipeline_spark").rglob("*.py"))]
    calls = [c for f in files for c in _create_dataframe_calls(f)]
    allowed = [c for c in calls
               if c.startswith("nyctaxidatapipeline_spark/plans/util.py:")
               and c.endswith("(local_frame)")]
    assert len(allowed) == 1 and calls == allowed, calls
