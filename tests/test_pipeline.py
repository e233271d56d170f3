"""End-to-end pipeline test on a synthetic taxi-shaped table (FIXTURES.md §A),
including the null/edge rows every fixture must carry."""

import datetime as dt
import random
import threading
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark import pipeline, sinks
from nyctaxidatapipeline_spark.operators import drop_null_rows


def _trip(i, **over):
    rng = random.Random(i)
    pick = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randrange(500000))
    base = dict(
        VendorID=rng.choice([1, 2]),
        tpep_pickup_datetime=pick,
        tpep_dropoff_datetime=pick + dt.timedelta(minutes=rng.randrange(0, 180)),
        passenger_count=rng.randrange(0, 7),
        trip_distance=round(rng.uniform(0, 50), 2),
        RatecodeID=rng.choice([1, 2, 3, 4, 5, 6, 99]),
        store_and_fwd_flag=rng.choice(["Y", "N"]),
        PULocationID=rng.randrange(1, 20),
        DOLocationID=rng.randrange(1, 20),
        payment_type=rng.choice([1, 2, 3, 4, 5, 6]),
        fare_amount=round(rng.uniform(-10, 500), 2),
        extra=1.0, mta_tax=0.5, tip_amount=round(rng.uniform(0, 100), 2),
        tolls_amount=0.0, improvement_surcharge=1.0, total_amount=100.0,
        congestion_surcharge=2.5, Airport_fee=0.0)
    base.update(over)
    return Row(**base)


def _taxi_df(spark, n=300):
    rows = [_trip(i) for i in range(n)]
    # Edge rows: nulls in each scrub-relevant column, zero fare/dist/duration.
    pick = dt.datetime(2024, 1, 6, 12)  # Saturday
    rows += [
        _trip(1001, fare_amount=None),
        _trip(1002, trip_distance=None),
        _trip(1003, store_and_fwd_flag=None),
        _trip(1004, fare_amount=0.0),
        _trip(1005, trip_distance=0.0),
        _trip(1006, tpep_pickup_datetime=pick, tpep_dropoff_datetime=pick),
    ]
    return spark.createDataFrame(rows)


def test_clean_then_analytics_end_to_end(spark, tmp_path):
    raw = _taxi_df(spark)
    cleaned = drop_null_rows(raw, subset=pipeline.TRIP_COLUMNS)
    # property: no nulls survive in any scrub column; count monotone.
    assert cleaned.count() == raw.count() - 3
    for c in pipeline.TRIP_COLUMNS:
        assert cleaned.filter(cleaned[c].isNull()).count() == 0

    tables = pipeline.run_pipeline(cleaned, sink="parquet",
                                   base_path=str(tmp_path))
    assert set(tables) == {
        "demand_heatmap", "tip_trends", "trip_performance", "popular_routes",
        "payment_analysis", "distance_distribution", "fare_anomalies"}
    # re-read one output to prove the sink round-trips
    hm = spark.read.parquet(str(tmp_path / "demand_heatmap"))
    assert hm.count() > 0
    assert set(hm.columns) == {"PULocationID", "pickup_hour", "n_trips"}
    # payment decode produced labels
    pm = tables["payment_analysis"]
    labels = {r.payment_method for r in pm.collect()}
    assert labels <= {"Credit Card", "Cash", "No Charge", "Dispute", "Unknown"}


def test_append_semantics_anomalies_always_overwrite(spark, tmp_path):
    df = _taxi_df(spark, n=50)
    cleaned = drop_null_rows(df, subset=pipeline.TRIP_COLUMNS)
    pipeline.run_pipeline(cleaned, sink="parquet", base_path=str(tmp_path))
    n1 = spark.read.parquet(str(tmp_path / "demand_heatmap")).count()
    a1 = spark.read.parquet(str(tmp_path / "fare_anomalies")).count()
    pipeline.run_pipeline(cleaned, sink="parquet", base_path=str(tmp_path),
                          append=True)
    n2 = spark.read.parquet(str(tmp_path / "demand_heatmap")).count()
    a2 = spark.read.parquet(str(tmp_path / "fare_anomalies")).count()
    assert n2 == 2 * n1          # append doubled the analytics table
    assert a2 == a1              # anomalies stayed overwrite


def test_parquet_writes_overlap_and_fill_the_cache_once(spark, tmp_path,
                                                       monkeypatch):
    """The seven parquet writes run at once on a cold cache and fill it
    once: each write waits on a 7-party barrier before writing, which
    serial writes would break, and jobs reaching the cached partition
    while another job fills it wait for that fill instead of recomputing
    it.

    The input is one partition, so the four task slots go to different
    jobs asking for the same cached block, and a slow counting UDF keeps
    the fill running while they arrive. Every table reads ``fare_amount``,
    so each recompute of the cached partition would add the row count to
    the accumulator again."""
    barrier = threading.Barrier(7, timeout=20)
    write = sinks.write_parquet

    def gated(df, path, **kwargs):
        barrier.wait()
        write(df, path, **kwargs)

    monkeypatch.setattr(sinks, "write_parquet", gated)
    seen = spark.sparkContext.accumulator(0)

    def count_row(v):
        time.sleep(0.02)
        seen.add(1)
        return v

    cleaned = drop_null_rows(_taxi_df(spark, n=50).coalesce(1),
                             subset=pipeline.TRIP_COLUMNS)
    rows = cleaned.count()
    probed = cleaned.withColumn(
        "fare_amount", F.udf(count_row, "double")("fare_amount"))
    tables = pipeline.run_pipeline(probed, sink="parquet",
                                   base_path=str(tmp_path))
    assert seen.value == rows
    for name in tables:
        assert (tmp_path / name / "_SUCCESS").exists()


def test_failed_write_reraised_after_all_writes_finish(spark, tmp_path,
                                                       monkeypatch):
    """One table's write fails: the error reaches the caller, and only
    after the other six writes have committed."""
    write = sinks.write_parquet

    def failing(df, path, **kwargs):
        if path.endswith("/demand_heatmap"):
            raise RuntimeError("disk full")
        write(df, path, **kwargs)

    monkeypatch.setattr(sinks, "write_parquet", failing)
    cleaned = drop_null_rows(_taxi_df(spark, n=50),
                             subset=pipeline.TRIP_COLUMNS)
    with pytest.raises(RuntimeError, match="disk full"):
        pipeline.run_pipeline(cleaned, sink="parquet",
                              base_path=str(tmp_path))
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        ["tip_trends", "trip_performance", "popular_routes",
         "payment_analysis", "distance_distribution", "fare_anomalies"])
    for p in tmp_path.iterdir():
        assert (p / "_SUCCESS").exists()


def test_console_sink_writes_in_table_order(spark, monkeypatch):
    shown = []
    monkeypatch.setattr(sinks, "write_console", shown.append)
    tables = pipeline.run_pipeline(_taxi_df(spark, n=20), sink="console")
    assert [id(df) for df in shown] == [id(df) for df in tables.values()]


def test_unknown_sink_rejected_before_analytics(spark, monkeypatch):
    def no_analytics(*_a, **_k):
        raise AssertionError("analytics built for an unknown sink")

    monkeypatch.setattr(pipeline, "taxi_analytics", no_analytics)
    with pytest.raises(ValueError, match="unknown sink 'csv'"):
        pipeline.run_pipeline(_taxi_df(spark, n=5), sink="csv")


def test_console_and_noop_sinks(spark):
    df = _taxi_df(spark, n=20)
    sinks.write_output(df.select("VendorID"), "console", n=2)
    sinks.write_output(df.select("VendorID"), "noop")


def test_write_sharded_bounded_and_range_clustered(spark, tmp_path):
    import glob
    import pyarrow.parquet as pq

    from nyctaxidatapipeline_spark.sinks import write_sharded
    from nyctaxidatapipeline_spark.sources import load_table

    out = str(tmp_path / "sharded")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    n = ev.count()
    write_sharded(ev, out, sort_cols=["event_id"],
                  max_records_per_file=400, n_shards=4)
    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) >= 4                      # split into shards
    total, ranges = 0, []
    for f in files:
        t = pq.read_table(f, columns=["event_id"])
        assert t.num_rows <= 400                # size bound respected
        total += t.num_rows
        ids = t.column("event_id").to_pylist()
        assert ids == sorted(ids)               # sorted within shard
        ranges.append((min(ids), max(ids)))
    assert total == n                           # lossless
    # shards are range-clustered: non-overlapping key ranges
    ranges.sort()
    assert all(ranges[i][1] < ranges[i + 1][0]
               for i in range(len(ranges) - 1))


def test_write_sharded_jsonl(spark, tmp_path):
    import glob
    import gzip
    import json

    from nyctaxidatapipeline_spark.sinks import write_sharded
    from nyctaxidatapipeline_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text", "source")
    out = str(tmp_path / "jsonl")
    write_sharded(docs, out, sort_cols=["doc_id"], n_shards=3,
                  max_records_per_file=30, fmt="json")
    files = sorted(glob.glob(f"{out}/part-*.json.gz"))
    assert len(files) >= 3          # 50 docs / cap 30 with 3 shards
    rows = []
    for f in files:
        with gzip.open(f, "rt") as fh:
            rows += [json.loads(line) for line in fh]
    n = docs.count()
    assert len(rows) == n
    assert {r["doc_id"] for r in rows} == \
        {r["doc_id"] for r in docs.collect()}
    # range clustering: each file's ids form a contiguous run across files
    per_file_max = None
    for f in files:
        with gzip.open(f, "rt") as fh:
            ids = [json.loads(line)["doc_id"] for line in fh]
        assert ids == sorted(ids)
        if per_file_max is not None:
            assert ids[0] > per_file_max
        per_file_max = ids[-1]
    import pytest

    with pytest.raises(ValueError, match="unsupported export format"):
        write_sharded(docs, out, fmt="avro")


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    """The partitionBy layout must actually buy read-side pruning: a
    partition-key filter reaches the scan as a PartitionFilter and the
    scan reads ONLY the matching directory's files."""
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.plans import explain_str
    from nyctaxidatapipeline_spark.sinks import write_parquet
    from nyctaxidatapipeline_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "by_type")
    write_parquet(ev, out, partition_by=["event_type"])

    back = spark.read.parquet(out)
    one = back.filter(F.col("event_type") == "purchase")
    plan = explain_str(one, "formatted")
    # the partition-key predicate must land in PartitionFilters (list
    # pruning — no data files outside event_type=purchase are opened),
    # NOT in PushedFilters/post-scan Filter
    assert "PartitionFilters" in plan
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("purchase" in ln for ln in m), m
    # row fidelity vs the unpartitioned source
    want = ev.filter(F.col("event_type") == "purchase").count()
    assert one.count() == want
