"""Structured Streaming tests: fixture replay -> windowed agg and dedup,
drained synchronously into a memory sink; results cross-checked against the
equivalent batch plan."""

from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.sources import load_table
from nyctaxidatapipeline_spark.streaming.jobs import (
    dedup_within_watermark,
    hourly_event_counts,
    run_to_memory,
    stream_table,
)

SF = "/root/testdata/sf0.001"


def test_hourly_counts_match_batch(spark):
    stream = stream_table(spark, SF, "events")
    assert stream.isStreaming
    q = run_to_memory(hourly_event_counts(stream), "hourly_test")
    try:
        got = spark.sql("SELECT * FROM hourly_test")
        batch = (load_table(spark, SF, "events")
                 .groupBy(F.date_trunc("hour", F.col("ts")).alias("ws"),
                          "event_type")
                 .agg(F.count("*").alias("n"), F.sum("value").alias("s")))
        s = {(r.window_start, r.event_type): (r.n_events, round(r.sum_value, 6))
             for r in got.collect()}
        b = {(r.ws, r.event_type): (r.n, round(r.s, 6))
             for r in batch.collect()}
        # append mode emits only watermark-closed windows; every emitted
        # window must match batch, and most windows must have been emitted.
        assert s, "stream produced no output"
        assert all(s[k] == b[k] for k in s)
        assert len(s) >= len(b) - len({k[1] for k in b})  # ≤1 open window/type
    finally:
        q.stop()


def test_dedup_within_watermark(spark):
    stream = stream_table(spark, SF, "events")
    q = run_to_memory(
        dedup_within_watermark(stream, ["event_id"]), "dedup_test")
    try:
        n_stream = spark.sql("SELECT count(*) c FROM dedup_test").collect()[0].c
        n_batch = load_table(spark, SF, "events").count()
        # fixture has unique event_ids: dedup must be lossless
        assert n_stream == n_batch
    finally:
        q.stop()


def test_stream_table_reads_int96_timestamps(spark, tmp_path):
    """INT96 timestamps show as timestamp[ns] in the pyarrow footer but
    Spark reads them as timestamps, not raw int64 nanos: the stream
    must not apply the nanos restore to them (it raised
    DATATYPE_MISMATCH on ``ts div 1000``) and must replay the rows the
    batch reader returns."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyctaxidatapipeline_spark.sources.tables import read_parquet

    ts = [dt.datetime(2024, 1, 1, 8, 30), dt.datetime(2024, 1, 2, 23, 59)]
    pq.write_table(pa.table({"id": [1, 2],
                             "ts": pa.array(ts, pa.timestamp("ns"))}),
                   str(tmp_path / "legacy.parquet"),
                   use_deprecated_int96_timestamps=True)
    q = run_to_memory(stream_table(spark, str(tmp_path), "legacy"),
                      "int96_test")
    try:
        got = sorted(tuple(r) for r in
                     spark.sql("SELECT * FROM int96_test").collect())
        want = sorted(tuple(r) for r in read_parquet(
            spark, str(tmp_path / "legacy.parquet")).collect())
        assert got == want and len(got) == 2
    finally:
        q.stop()


def test_jobs_has_one_drain_and_one_file_source():
    """One writeStream skeleton (``drain``; ``run_to_memory`` is the
    memory sink), one readStream per source kind (``stream_table``,
    ``stream_files``), and no ``run_*`` door wrapper left: each door is
    its ``*_fn`` factory run through ``drain``."""
    import ast
    import inspect

    from nyctaxidatapipeline_spark.streaming import jobs

    tree = ast.parse(inspect.getsource(jobs))
    sites = {"writeStream": set(), "readStream": set()}
    for top in tree.body:
        name = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr in sites:
                sites[node.attr].add(name)
    assert sites == {"writeStream": {"drain", "run_to_memory"},
                     "readStream": {"stream_table", "stream_files"}}
    runs = {top.name for top in tree.body
            if isinstance(top, ast.FunctionDef)
            and top.name.startswith("run_")}
    assert runs == {"run_to_memory"}
    # one maintained-index admission door: each index read-back, build
    # and centroid freeze has one home (the read-back and the two gates
    # under ``_indexed_door``), not one copy per door
    callers = {f: set() for f in ("check_index_params",
                                  "build_minhash_index",
                                  "build_semantic_routing_index",
                                  "_frozen_centroids")}
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id in callers):
                callers[node.func.id].add(top.name)
    assert {f: len(c) for f, c in callers.items()} == dict.fromkeys(
        callers, 1), callers
