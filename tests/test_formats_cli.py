"""File-format round-trips and the taxi-pipeline CLI surface."""

import sys

from pyspark.sql import Row

from nyctaxidatapipeline_spark.sources import formats

sys.path.insert(0, "/root/repo")


def _df(spark):
    return spark.createDataFrame([
        Row(id=1, name="a", v=1.5), Row(id=2, name="b", v=2.5)])


def test_csv_roundtrip_with_schema(spark, tmp_path):
    p = str(tmp_path / "csv")
    formats.write_csv(_df(spark), p)
    back = formats.read_csv(spark, p, schema="id long, name string, v double")
    assert sorted((r.id, r.name, r.v) for r in back.collect()) == [
        (1, "a", 1.5), (2, "b", 2.5)]


def test_json_roundtrip(spark, tmp_path):
    p = str(tmp_path / "json")
    formats.write_json(_df(spark), p)
    back = formats.read_json(spark, p, schema="id long, name string, v double")
    assert back.count() == 2


def test_orc_roundtrip(spark, tmp_path):
    p = str(tmp_path / "orc")
    formats.write_orc(_df(spark), p)
    assert formats.read_orc(spark, p).count() == 2


def test_convert_to_parquet_partitioned(spark, tmp_path):
    p_csv = str(tmp_path / "in_csv")
    p_parq = str(tmp_path / "out_parquet")
    formats.write_csv(_df(spark), p_csv)
    src = formats.read_csv(spark, p_csv,
                           schema="id long, name string, v double")
    out = formats.convert_to_parquet(spark, src, p_parq,
                                     partition_by=["name"])
    assert out.count() == 2
    # hive-style layout exists → partition pruning is available downstream
    import os
    assert any(d.startswith("name=") for d in os.listdir(p_parq))


class _NoStop:
    """Session proxy: the CLIs stop their session on exit, but the tests
    share the fixture session — make stop a no-op."""
    def __init__(self, s):
        self._s = s
    def __getattr__(self, k):
        return getattr(self._s, k)
    def stop(self):
        pass


def _taxi_cli(spark, tmp_path, monkeypatch):
    """The taxi CLI's ``main`` on the fixture session, and the path of a
    3-trip parquet input."""
    import datetime as dt

    import tools.run_taxi_pipeline as cli

    monkeypatch.setattr(cli, "get_spark", lambda *_a, **_k: _NoStop(spark))
    trips = spark.createDataFrame([Row(
        VendorID=1,
        tpep_pickup_datetime=dt.datetime(2024, 1, 1, 8),
        tpep_dropoff_datetime=dt.datetime(2024, 1, 1, 8, 30),
        passenger_count=1, trip_distance=5.0, RatecodeID=1,
        store_and_fwd_flag="N", PULocationID=10, DOLocationID=20,
        payment_type=1, fare_amount=20.0, extra=1.0, mta_tax=0.5,
        tip_amount=4.0, tolls_amount=0.0, improvement_surcharge=1.0,
        total_amount=26.5, congestion_surcharge=2.5, Airport_fee=0.0)] * 3)
    in_path = str(tmp_path / "trips")
    trips.write.parquet(in_path)
    return cli.main, in_path


def test_cli_end_to_end(spark, tmp_path, monkeypatch):
    """Drive the CLI main() with a parquet input through the parquet sink.

    Reuses the session fixture via getOrCreate (the CLI builds the same
    app session); verifies all seven tables land.
    """
    main, in_path = _taxi_cli(spark, tmp_path, monkeypatch)
    out = str(tmp_path / "out")
    rc = main(["--parquet-path", in_path, "--sink", "parquet", "--out", out])
    assert rc == 0
    got = spark.read.parquet(out + "/demand_heatmap").collect()
    assert got[0].n_trips == 3
    import os
    assert len(os.listdir(out)) == 7


def test_cli_threshold_mode_reaches_analytics(spark, tmp_path, monkeypatch):
    """``--threshold-mode exact`` is handed through ``run_pipeline`` to
    ``taxi_analytics`` instead of being dropped for the default."""
    from nyctaxidatapipeline_spark import pipeline

    main, in_path = _taxi_cli(spark, tmp_path, monkeypatch)
    seen = []
    analytics = pipeline.taxi_analytics

    def recording(trips, threshold_mode="approx"):
        seen.append(threshold_mode)
        return analytics(trips, threshold_mode)

    monkeypatch.setattr(pipeline, "taxi_analytics", recording)
    rc = main(["--parquet-path", in_path, "--sink", "noop",
               "--threshold-mode", "exact"])
    assert rc == 0
    assert seen == ["exact"]


def test_xml_round_trip(spark, tmp_path):
    """Spark 4 native XML: write with row/root tags, read back by
    rowTag with an explicit schema — values and row count survive."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.sources.formats import (
        read_xml,
        write_xml,
    )
    df = spark.createDataFrame([
        Row(k=1, name="alpha", price=1.5),
        Row(k=2, name="beta", price=2.25),
        Row(k=3, name=None, price=0.0),
    ])
    path = str(tmp_path / "xmlout")
    write_xml(df, path, row_tag="item", root_tag="items")
    back = read_xml(spark, path, row_tag="item",
                    schema="k bigint, name string, price double")
    assert {tuple(r) for r in back.collect()} == \
           {tuple(r) for r in df.collect()}


def test_curation_cli_end_to_end(spark, tmp_path, monkeypatch):
    """Drive the curation CLI main(): raw documents -> curated parquet,
    duplication histogram, savings report, pretokenized TFRecord shards
    — and the shards decode back to the exact sequences the operator
    yields."""
    import json as _json

    import tools.run_curation_pipeline as cli

    monkeypatch.setattr(cli, "get_spark",
                        lambda *a, **k: _NoStop(spark))
    out = str(tmp_path / "run")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["--documents",
                       "/root/testdata/sf0.001/documents.parquet",
                       "--out", out, "--export-tfrecord",
                       "--budget", "64"])
    assert rc == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert 0 < rep["n_curated_docs"] <= rep["n_input_docs"]
    assert rep["n_sequences"] > 0
    import os

    assert os.path.exists(f"{out}/curated/_SUCCESS")
    assert os.path.exists(f"{out}/dup_histogram/_SUCCESS")
    shards = [f for f in os.listdir(f"{out}/tfrecord")
              if f.endswith(".tfrecord")]
    assert shards
    from nyctaxidatapipeline_spark.functions.tfrecord import (
        decode_example,
        unframe_records,
    )
    from nyctaxidatapipeline_spark.operators.packing import (
        pretokenized_sequences,
    )

    curated = spark.read.parquet(f"{out}/curated")
    want = {r.seq_id: list(r.ids) for r in pretokenized_sequences(
        curated, "text", "doc_id", budget=64, payload="ids").collect()}
    got = {}
    for name in shards:
        with open(f"{out}/tfrecord/{name}", "rb") as f:
            for rec in unframe_records(f.read()):
                ex = decode_example(rec)
                got[ex["seq_id"][0]] = ex["ids"]
    assert got == want and len(got) == rep["n_sequences"]


def test_read_parquet_glob_restores_nanos_timestamps(spark, tmp_path):
    """A glob path gets the same TIMESTAMP(NANOS) -> timestamp restore
    as a directory path: the footer probe expands the glob to its first
    match instead of handing the pattern to pyarrow (which raised, and
    the columns stayed raw int64 nanos)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from nyctaxidatapipeline_spark.sources import read_parquet

    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}),
                   str(tmp_path / "part-0.parquet"))
    df = read_parquet(spark, f"{tmp_path}/*.parquet")
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    want = read_parquet(spark, str(tmp_path))
    assert sorted(df.collect()) == sorted(want.collect())
    assert df.filter("ts IS NOT NULL").count() == 1
