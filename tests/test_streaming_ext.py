"""Streaming extensions: sliding/session windows, custom stateful operator,
foreachBatch sink — all drained synchronously against the fixture replay."""

from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.sources import load_table
from nyctaxidatapipeline_spark.streaming.jobs import (
    drain,
    parquet_append_fn,
    run_to_memory,
    session_window_counts,
    sliding_event_counts,
    stateful_running_totals,
    stream_files,
    stream_table,
)

SF = "/root/testdata/sf0.001"


def test_sliding_windows_overlap(spark):
    q = run_to_memory(sliding_event_counts(stream_table(spark, SF, "events")),
                      "sliding_test")
    try:
        rows = spark.sql("SELECT * FROM sliding_test").collect()
        assert rows
        # hourly windows sliding by 30min: every event is in exactly 2
        # windows -> summed counts over windows ≈ 2x event count (minus
        # any still-open windows withheld by the watermark).
        n_batch = load_table(spark, SF, "events").count()
        assert n_batch <= sum(r.n_events for r in rows) <= 2 * n_batch
        # window length always 1h
        assert all((r.window_end - r.window_start).seconds == 3600
                   for r in rows)
    finally:
        q.stop()


def test_session_window_counts(spark):
    q = run_to_memory(
        session_window_counts(stream_table(spark, SF, "events")),
        "sesswin_test")
    try:
        rows = spark.sql("SELECT * FROM sesswin_test").collect()
        assert rows
        assert all(r.session_end >= r.session_start for r in rows)
        assert all(r.n_events >= 1 for r in rows)
    finally:
        q.stop()


def test_stateful_running_totals(spark):
    q = run_to_memory(
        stateful_running_totals(stream_table(spark, SF, "events")),
        "stateful_test", output_mode="update")
    try:
        # last update per user = final running totals = batch aggregates
        got = spark.sql("""
            SELECT user_id, max(n_events) AS n, max(total) AS t
            FROM stateful_test GROUP BY user_id""").collect()
        batch = {r.user_id: (r.n, round(r.t, 6)) for r in
                 load_table(spark, SF, "events")
                 .groupBy("user_id")
                 .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
                 .collect()}
        assert len(got) == len(batch)
        for r in got:
            assert (r.n, round(r.t, 6)) == batch[r.user_id]
    finally:
        q.stop()


def test_foreach_batch_parquet_sink(spark, tmp_path):
    out = str(tmp_path / "stream_out")
    stream = stream_table(spark, SF, "events")
    q = drain(stream.filter(F.col("event_type") == "purchase"),
              parquet_append_fn(out))
    try:
        landed = spark.read.parquet(out)
        n_batch = (load_table(spark, SF, "events")
                   .filter(F.col("event_type") == "purchase").count())
        assert landed.count() == n_batch
        assert "_epoch" in landed.columns
    finally:
        q.stop()


def test_stream_static_enrichment(spark):
    from nyctaxidatapipeline_spark.streaming.jobs import enrich_with_static

    ev = stream_table(spark, SF, "events")
    dim = (load_table(spark, SF, "events")
           .select("event_type").distinct()
           .withColumn("type_tag", F.upper("event_type")))
    q = run_to_memory(enrich_with_static(ev, dim, "event_type"),
                      "enrich_test")
    try:
        rows = spark.sql("SELECT * FROM enrich_test").collect()
        n_batch = load_table(spark, SF, "events").count()
        assert len(rows) == n_batch          # left join: no row loss
        assert all(r.type_tag == r.event_type.upper() for r in rows)
    finally:
        q.stop()


def test_stream_stream_join_matches_batch_twin(spark):
    from nyctaxidatapipeline_spark.streaming.jobs import (
        purchase_error_correlation,
    )

    a = stream_table(spark, SF, "events")
    b = stream_table(spark, SF, "events")
    joined = purchase_error_correlation(
        a.filter(F.col("event_type") == "purchase"),
        b.filter(F.col("event_type") == "error"))
    q = run_to_memory(joined, "sjoin_test")
    try:
        got = {(r.a_key, r.a_ts, r.b_ts)
               for r in spark.sql("SELECT * FROM sjoin_test").collect()}
        ev = load_table(spark, SF, "events")
        pa = ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("a_key"), F.col("ts").alias("a_ts"))
        er = ev.filter(F.col("event_type") == "error").select(
            F.col("user_id").alias("b_key"), F.col("ts").alias("b_ts"))
        want = {(r.a_key, r.a_ts, r.b_ts) for r in pa.join(
            er, F.expr("""a_key = b_key AND
                          b_ts BETWEEN a_ts - INTERVAL 1 HOUR
                                   AND a_ts + INTERVAL 1 HOUR""")
        ).collect()}
        assert want, "fixture has no purchase/error pairs within 1h"
        # the drained stream join equals the batch join exactly: the
        # final watermark has passed every buffered row, so no pair is
        # withheld and none is dropped (inner join, bounded state)
        assert got == want
    finally:
        q.stop()


def test_incremental_rollup_stream_equals_batch(spark, tmp_path):
    """Streamed state maintenance == one-shot batch aggregate: the
    merge identity holds across micro-batch boundaries."""
    from nyctaxidatapipeline_spark.operators.incremental import (
        finalize,
        partial_agg,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        rollup_merge_fn,
        stream_table,
    )

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "state")
    ev = stream_table(spark, sf, "events")
    q = drain(ev, rollup_merge_fn(state, ["event_type"], "value"),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    got = {tuple(r) for r in
           finalize(spark.read.parquet(state)).collect()}
    want = {tuple(r) for r in
            finalize(partial_agg(load_table(spark, sf, "events"),
                                 ["event_type"], "value")).collect()}
    assert got == want


def test_incremental_rollup_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the state swap and
    the streaming offset commit re-delivers the SAME (batch, epoch) on
    restart. The batch-id-keyed sink must make that replay a no-op (no
    double counting), while a genuinely new epoch still merges."""
    from nyctaxidatapipeline_spark.operators.incremental import finalize
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        applied_epoch,
        rollup_merge_fn,
        stream_table,
    )

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "state")
    ev = stream_table(spark, sf, "events")
    q = drain(ev, rollup_merge_fn(state, ["event_type"], "value"),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    committed = {tuple(r) for r in
                 finalize(spark.read.parquet(state)).collect()}
    last = applied_epoch(state)
    assert last >= 0

    # replay: Structured Streaming re-invokes the function with the
    # last epoch id and its data — must not change the state
    fn = rollup_merge_fn(state, ["event_type"], "value")
    replayed_batch = load_table(spark, sf, "events")
    fn(replayed_batch, last)
    after_replay = {tuple(r) for r in
                    finalize(spark.read.parquet(state)).collect()}
    assert after_replay == committed
    assert applied_epoch(state) == last

    # a NEW epoch genuinely merges: every key's count exactly doubles
    committed_n = {r["event_type"]: r["n"]
                   for r in spark.read.parquet(state).collect()}
    fn(replayed_batch, last + 1)
    after_new = {r["event_type"]: r["n"]
                 for r in spark.read.parquet(state).collect()}
    assert after_new == {k: 2 * v for k, v in committed_n.items()}
    assert applied_epoch(state) == last + 1


def test_streaming_dedup_admission_equals_batch(spark, tmp_path):
    """Streamed corpus admission == sequential batch incremental dedup:
    documents drained through foreachBatch produce the same admitted
    corpus as applying incremental_fingerprint_dedup batch-by-batch
    (for a single micro-batch: within-batch min-id dedup)."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_fingerprint_dedup,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        dedup_admit_fn,
        stream_table,
    )

    sf = "/root/testdata/sf0.001"
    corpus = str(tmp_path / "corpus")
    docs = stream_table(spark, sf, "documents")
    q = drain(docs, dedup_admit_fn(corpus, "text", "doc_id"),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    got = {tuple(r) for r in (spark.read
                              .option("basePath", corpus)
                              .parquet(corpus)
                              .select("doc_id", "text").collect())}
    all_docs = load_table(spark, sf, "documents").select("doc_id", "text")
    empty = spark.createDataFrame([], all_docs.schema)
    want = {tuple(r) for r in
            incremental_fingerprint_dedup(all_docs, empty, "text",
                                          "doc_id").collect()}
    assert got == want and len(got) > 0


def test_streaming_near_dup_admission_equals_batch(spark, tmp_path):
    """Streamed NEAR-dup admission == the batch
    incremental_minhash_admission applied to the same (single) drained
    micro-batch, and strictly fewer-or-equal docs than exact admission
    (near-dup gating subsumes exact duplicates)."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        near_dup_admit_fn,
        stream_table,
    )

    sf = "/root/testdata/sf0.001"
    corpus = str(tmp_path / "corpus")
    docs = stream_table(spark, sf, "documents")
    q = drain(docs, near_dup_admit_fn(corpus, "text", "doc_id"),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    got = {r.doc_id for r in (spark.read
                              .option("basePath", corpus)
                              .parquet(corpus)
                              .select("doc_id").collect())}
    all_docs = load_table(spark, sf, "documents").select("doc_id", "text")
    empty = spark.createDataFrame([], all_docs.schema)
    want = {r.doc_id for r in incremental_minhash_admission(
        all_docs, empty, "text", "doc_id", max_bucket=32).collect()}
    assert got == want and 0 < len(got) <= all_docs.count()


def test_streaming_near_dup_replay_and_increment(spark, tmp_path):
    """Replayed epochs no-op; a new epoch rejects near-dups of the
    admitted corpus (not just byte-exact ones) and admits novel docs."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import (
        near_dup_admit_fn,
    )

    corpus = str(tmp_path / "corpus")
    fn = near_dup_admit_fn(corpus, "text", "doc_id")
    base = "the quick brown fox jumps over the lazy dog in the park"
    b0 = spark.createDataFrame([
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base.replace("park", "yard")),  # near 1
        Row(doc_id=3, text="completely different text with other "
                           "words present here entirely")])
    fn(b0, 0)
    read = lambda: {r.doc_id for r in  # noqa: E731
                    spark.read.option("basePath", corpus)
                    .parquet(corpus).collect()}
    assert read() == {1, 3}
    fn(b0, 0)                                  # replay -> no-op
    assert read() == {1, 3}
    b1 = spark.createDataFrame([
        Row(doc_id=4, text=base.replace("park", "lane")),  # near corpus 1
        Row(doc_id=5, text="a wholly novel follow-up document about "
                           "new unrelated subject matter")])
    fn(b1, 1)
    assert read() == {1, 3, 5}


def test_streaming_dedup_replay_and_increment(spark, tmp_path):
    """Replayed epochs are no-ops (the epoch directory is the commit);
    a genuinely new epoch admits only documents unseen so far."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import dedup_admit_fn

    corpus = str(tmp_path / "corpus")
    fn = dedup_admit_fn(corpus, "text", "doc_id")
    b0 = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta"),
        Row(doc_id=2, text="alpha  BETA"),   # normalized dup of 1
        Row(doc_id=3, text="gamma delta")])
    fn(b0, 0)
    read = lambda: {r.doc_id for r in
                    spark.read.option("basePath", corpus)
                    .parquet(corpus).collect()}
    assert read() == {1, 3}
    fn(b0, 0)                                 # replay -> no-op
    assert read() == {1, 3}
    b1 = spark.createDataFrame([
        Row(doc_id=4, text="ALPHA beta"),     # dup of corpus doc 1
        Row(doc_id=5, text="epsilon zeta")])
    fn(b1, 1)
    assert read() == {1, 3, 5}


def test_versioned_append_stream_epochs_and_replay(spark, tmp_path):
    from nyctaxidatapipeline_spark.streaming.jobs import (
        versioned_append_fn,
    )
    from nyctaxidatapipeline_spark.versioned import (
        _load_manifest,
        read_version,
        table_versions,
    )

    t = str(tmp_path / "vtable")
    stream = stream_table(spark, SF, "events")
    q = drain(stream.filter(F.col("event_type") == "purchase")
              .select("user_id", "event_type", "value"),
              versioned_append_fn(t))
    try:
        vs = table_versions(t)
        assert vs, "no versions committed"
        # every committed version carries its epoch atomically
        epochs = [_load_manifest(t, v)["epoch"] for v in vs]
        assert len(set(epochs)) == len(epochs)
        # latest snapshot == the batch-filtered fixture
        want = (load_table(spark, SF, "events")
                .filter(F.col("event_type") == "purchase").count())
        assert read_version(spark, t).count() == want
        # snapshot isolation: version 1 stays exactly batch-1-sized
        v1 = read_version(spark, t, version=vs[0]).count()
        assert 0 < v1 <= want
        # restart-replay is a no-op: a fresh query (new temp checkpoint)
        # re-delivers every file batch with epochs from 0 again; the
        # manifest epoch check must skip them all — no duplicates, no
        # new versions
        n_versions = len(table_versions(t))
        q2 = drain(stream_table(spark, SF, "events")
                   .filter(F.col("event_type") == "purchase")
                   .select("user_id", "event_type", "value"),
                   versioned_append_fn(t))
        q2.stop()
        assert len(table_versions(t)) == n_versions
        assert read_version(spark, t).count() == want
    finally:
        q.stop()


def test_versioned_append_retries_after_unrelated_cas_loss(
        spark, tmp_path, monkeypatch):
    """CAS loss to an UNRELATED writer must not drop the micro-batch:
    the sink re-scans the applied-epoch set and retries until THIS
    epoch is committed (regression: the old handler swallowed
    ConcurrentWriteError and returned, advancing the checkpoint past an
    uncommitted batch)."""
    import nyctaxidatapipeline_spark.versioned as V
    from nyctaxidatapipeline_spark.streaming.jobs import (
        versioned_append_fn,
    )
    from nyctaxidatapipeline_spark.versioned import (
        ConcurrentWriteError,
        read_version,
        table_versions,
    )

    t = str(tmp_path / "tbl")
    real_wv = V.write_version
    calls = {"n": 0}

    def flaky(df, path, mode="append", **kw):
        calls["n"] += 1
        if calls["n"] == 2:   # epoch 1's FIRST attempt loses the race
            other = df.sparkSession.createDataFrame(
                [(99, "other")], "k long, s string")
            real_wv(other, path, mode="append")   # unrelated winner
            raise ConcurrentWriteError("lost CAS to unrelated writer")
        return real_wv(df, path, mode=mode, **kw)

    monkeypatch.setattr(V, "write_version", flaky)
    fn = versioned_append_fn(t)
    fn(spark.createDataFrame([(1, "a")], "k long, s string"), 0)
    fn(spark.createDataFrame([(2, "b")], "k long, s string"), 1)
    # epoch 1 took: 1 ok (epoch 0) + 1 CAS loss + 1 retry = 3 calls
    assert calls["n"] == 3
    # nothing lost: epoch 0 row, the unrelated writer's row, epoch 1 row
    got = {(r["k"], r["s"]) for r in read_version(spark, t).collect()}
    assert got == {(1, "a"), (99, "other"), (2, "b")}
    # replayed epoch is still a no-op (cache + manifest check)
    n_before = len(table_versions(t))
    fn(spark.createDataFrame([(2, "b")], "k long, s string"), 1)
    assert len(table_versions(t)) == n_before and calls["n"] == 3


def test_streaming_warc_ingestion_e2e(spark, tmp_path):
    """WARC segments landing in a directory stream through parse +
    on-arrival dedup into the admitted corpus; drained result equals
    the batch parse + dedup of the same segments, and restart-replay
    admits nothing twice."""
    import hashlib

    from nyctaxidatapipeline_spark.sources.warc import (
        synth_warc_gz,
        synth_warc_record,
        warc_date_for,
    )
    from nyctaxidatapipeline_spark.streaming.jobs import (
        warc_admit_fn,
    )

    def rec(i, text):
        return synth_warc_record(
            f"http://corpus.example/{i}", text.encode(),
            record_id=hashlib.md5(str(i).encode()).hexdigest(),
            date=warc_date_for(i))

    land = tmp_path / "landing"
    land.mkdir()
    # segment 0: docs 1-3; segment 1: doc 4 plus a dup of doc 2's text
    (land / "seg-0.warc.gz").write_bytes(synth_warc_gz(
        [rec(1, "alpha beta"), rec(2, "gamma delta"),
         rec(3, "epsilon zeta")]))
    (land / "seg-1.warc.gz").write_bytes(synth_warc_gz(
        [rec(4, "eta theta"), rec(5, "gamma delta")]))
    # pin mtimes so the file source's (mtime, path) order — and hence
    # which duplicate wins admission — is deterministic
    import os
    os.utime(land / "seg-0.warc.gz", (1000, 1000))
    os.utime(land / "seg-1.warc.gz", (2000, 2000))

    corpus = str(tmp_path / "corpus")
    q = drain(stream_files(spark, str(land)), warc_admit_fn(corpus),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    read = lambda: {(r.doc_id, r.text) for r in
                    spark.read.option("basePath", corpus)
                    .parquet(corpus).collect()}
    got = read()
    assert got == {(1, "alpha beta"), (2, "gamma delta"),
                   (3, "epsilon zeta"), (4, "eta theta")}  # 5 deduped

    # restart with the same checkpoint: nothing new -> nothing admitted
    q2 = drain(stream_files(spark, str(land)), warc_admit_fn(corpus),
               checkpoint_dir=str(tmp_path / "ckpt"))
    q2.stop()
    assert read() == got


def test_streaming_hll_equals_batch_sketch(spark, tmp_path):
    """Drained streaming HLL state == the one-shot batch sketch (max
    register merge is exact across micro-batch boundaries), and the
    finished estimate matches batch hll_distinct."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        hll_distinct,
        hll_finish,
        hll_registers,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        hll_merge_fn,
        stream_table,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "hll_state")
    q = drain(stream_table(spark, sf, "events"),
              hll_merge_fn(state, "event_type", "user_id", b=6),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    batch_ev = load_table(spark, sf, "events")
    got_regs = {(r.event_type, r.bucket, r.M) for r in
                spark.read.parquet(state)
                     .select("event_type", "bucket", "M").collect()}
    want_regs = {(r.event_type, r.bucket, r.M) for r in
                 hll_registers(batch_ev, F.col("user_id"),
                               ["event_type"], b=6).collect()}
    assert got_regs == want_regs
    got_est = {tuple(r) for r in
               hll_finish(spark.read.parquet(state)
                               .select("event_type", "bucket", "M"),
                          ["event_type"], b=6).collect()}
    want_est = {tuple(r) for r in
                hll_distinct(batch_ev, "user_id",
                             ["event_type"], b=6).collect()}
    assert got_est == want_est


def test_streaming_hll_replay_is_noop(spark, tmp_path):
    """Replaying an already-applied epoch leaves the registers (and the
    committed epoch) untouched."""
    import os

    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        applied_epoch,
        hll_merge_fn,
    )

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "hll_state")
    fn = hll_merge_fn(state, "event_type", "user_id", b=6)
    ev = load_table(spark, sf, "events")
    fn(ev, 0)
    assert applied_epoch(state) == 0
    before = {(r.event_type, r.bucket, r.M) for r in
              spark.read.parquet(state)
                   .select("event_type", "bucket", "M").collect()}
    mtime = os.path.getmtime(state)
    fn(ev.limit(3), 0)  # replay: different payload, same epoch -> no-op
    assert applied_epoch(state) == 0
    assert os.path.getmtime(state) == mtime
    after = {(r.event_type, r.bucket, r.M) for r in
             spark.read.parquet(state)
                  .select("event_type", "bucket", "M").collect()}
    assert after == before


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """Drained streaming CMS state == one-shot batch counters (sum
    distributes over any micro-batch split), and lookups agree."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        cms_counters,
        cms_lookup,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        cms_merge_fn,
        stream_table,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "cms_state")
    q = drain(stream_table(spark, sf, "events"),
              cms_merge_fn(state, "event_type", w=256, d=3),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    batch_ev = load_table(spark, sf, "events")
    got = {(r.r, r.c): r.cnt for r in
           spark.read.parquet(state).select("r", "c", "cnt").collect()}
    want = {(r.r, r.c): r.cnt for r in
            cms_counters(batch_ev, F.col("event_type"),
                         w=256, d=3).collect()}
    assert got == want
    est = {r.key: r.est_count for r in
           cms_lookup(spark,
                      spark.read.parquet(state).select("r", "c", "cnt"),
                      ["click", "purchase", "absent-type"],
                      w=256, d=3).collect()}
    exact = dict(batch_ev.groupBy("event_type").count().collect())
    assert est["click"] >= exact.get("click", 0)
    assert est["purchase"] >= exact.get("purchase", 0)


def test_streaming_cms_replay_is_exactly_once(spark, tmp_path):
    """Sum-merge is NOT idempotent — the epoch guard must make a
    replayed epoch a no-op or counts double."""
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        applied_epoch,
        cms_merge_fn,
    )

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "cms_state")
    fn = cms_merge_fn(state, "event_type", w=256, d=3)
    ev = load_table(spark, sf, "events")
    fn(ev, 0)
    assert applied_epoch(state) == 0
    before = {(r.r, r.c): r.cnt for r in
              spark.read.parquet(state).select("r", "c", "cnt").collect()}
    fn(ev, 0)  # replay the same epoch
    after = {(r.r, r.c): r.cnt for r in
             spark.read.parquet(state).select("r", "c", "cnt").collect()}
    assert after == before  # a double-apply would double every counter


def test_streaming_tfrecord_ingestion_e2e(spark, tmp_path):
    """TFRecord shards landing in a directory stream through unframe
    (checksums verified) + proto decode + on-arrival dedup; drained
    corpus equals the batch result and a restart admits nothing
    twice."""
    import os

    from nyctaxidatapipeline_spark.functions.tfrecord import (
        encode_example,
        frame_records,
    )
    from nyctaxidatapipeline_spark.streaming.jobs import (
        tfrecord_admit_fn,
    )

    def shard(docs):
        return frame_records(
            [encode_example({"doc_id": i, "text": t}) for i, t in docs])

    land = tmp_path / "landing"
    land.mkdir()
    (land / "s0.tfrecord").write_bytes(
        shard([(1, "alpha beta"), (2, "gamma delta")]))
    (land / "s1.tfrecord").write_bytes(
        shard([(3, "epsilon zeta"), (4, "gamma delta")]))  # 4 dups 2
    for i, f in enumerate(sorted(land.iterdir())):
        os.utime(f, (1000 + i, 1000 + i))

    corpus = str(tmp_path / "corpus")
    q = drain(stream_files(spark, str(land)), tfrecord_admit_fn(corpus),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    got = {(r.doc_id, r.text) for r in
           spark.read.option("basePath", corpus).parquet(corpus).collect()}
    assert got == {(1, "alpha beta"), (2, "gamma delta"),
                   (3, "epsilon zeta")}
    q2 = drain(stream_files(spark, str(land)), tfrecord_admit_fn(corpus),
               checkpoint_dir=str(tmp_path / "ckpt"))
    q2.stop()
    assert {(r.doc_id, r.text) for r in
            spark.read.option("basePath", corpus)
            .parquet(corpus).collect()} == got


def test_streaming_shard_ingestion_e2e(spark, tmp_path):
    """Compressed JSONL shards (mixed codecs incl. the pure-Python
    snappy + zstd) landing in a directory stream through decompress +
    parse + on-arrival dedup; drained corpus equals the batch result
    and a restart admits nothing twice."""
    import json
    import os

    from nyctaxidatapipeline_spark.sources.compressed import compress
    from nyctaxidatapipeline_spark.streaming.jobs import (
        shard_admit_fn,
    )

    def shard(docs, codec):
        payload = "".join(
            json.dumps({"id": i, "text": t}, separators=(",", ":"))
            + "\n" for i, t in docs).encode()
        return compress(payload, codec)

    land = tmp_path / "landing"
    land.mkdir()
    (land / "s0.jsonl.gz").write_bytes(
        shard([(1, "alpha beta"), (2, "gamma delta")], "gz"))
    (land / "s1.jsonl.zst").write_bytes(
        shard([(3, "epsilon zeta"), (4, "gamma delta")], "zst"))
    (land / "s2.jsonl.snappy").write_bytes(
        shard([(5, "eta theta")], "snappy"))
    for i, f in enumerate(sorted(land.iterdir())):
        os.utime(f, (1000 + i, 1000 + i))

    corpus = str(tmp_path / "corpus")
    q = drain(stream_files(spark, str(land)), shard_admit_fn(corpus),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    got = {(r.doc_id, r.text) for r in
           spark.read.option("basePath", corpus).parquet(corpus).collect()}
    # doc 4 is a text-dup of doc 2 -> dropped on arrival
    assert got == {(1, "alpha beta"), (2, "gamma delta"),
                   (3, "epsilon zeta"), (5, "eta theta")}
    # restart with the same checkpoint: no new work, nothing re-admitted
    q2 = drain(stream_files(spark, str(land)), shard_admit_fn(corpus),
               checkpoint_dir=str(tmp_path / "ckpt"))
    q2.stop()
    assert {(r.doc_id, r.text) for r in
            spark.read.option("basePath", corpus)
            .parquet(corpus).collect()} == got


def test_streaming_semantic_admission_replay_and_increment(spark,
                                                           tmp_path):
    """Embedding-side streaming admission: replayed epochs no-op; a
    later epoch rejects cosine-near vectors of the admitted corpus
    (seeded from that corpus) and admits novel directions; a drained
    single-batch stream equals the batch admission with the same
    seeding."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission,
        ivf_seed_centroids,
    )
    from nyctaxidatapipeline_spark.streaming.jobs import (
        semantic_admit_fn,
    )

    corpus = str(tmp_path / "vcorpus")
    fn = semantic_admit_fn(corpus, threshold=0.95, n_centroids=2,
                           nprobe=2)
    b0 = spark.createDataFrame([
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0]),   # near 1
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0])])
    fn(b0, 0)
    read = lambda: {r.vec_id for r in  # noqa: E731
                    spark.read.option("basePath", corpus)
                    .parquet(corpus).collect()}
    assert read() == {1, 3}
    fn(b0, 0)                                  # replay -> no-op
    assert read() == {1, 3}
    b1 = spark.createDataFrame([
        Row(vec_id=4, embedding=[0.998, 0.02, 0.0]),   # near corpus 1
        Row(vec_id=5, embedding=[0.0, 0.0, 1.0])])     # novel axis
    fn(b1, 1)
    assert read() == {1, 3, 5}
    # single-batch drain == the batch operator with the same seeding
    empty = spark.createDataFrame([], b0.schema)
    cents = ivf_seed_centroids(b0, 2)
    want = {r.vec_id for r in incremental_semantic_admission(
        b0, empty, threshold=0.95, nprobe=2, centroids=cents).collect()}
    assert want == {1, 3}


def test_streaming_cross_signal_admission_replay_and_increment(
        spark, tmp_path):
    """Multi-signal streaming admission: a row is rejected by EITHER
    signal (lexical near-dup with an orthogonal embedding, or
    cosine-near vector with unrelated text); replayed epochs no-op; a
    later epoch rejects against the admitted corpus via each signal
    independently and admits rows novel under both."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import (
        cross_signal_admit_fn,
    )

    corpus = str(tmp_path / "xcorpus")
    fn = cross_signal_admit_fn(corpus, jaccard_threshold=0.5,
                               cosine_threshold=0.95,
                               n_centroids=2, nprobe=2)
    base = "the quick brown fox jumps over the lazy dog in the park"
    b0 = spark.createDataFrame([
        Row(doc_id=1, text=base, embedding=[1.0, 0.0, 0.0]),
        # lexical near 1, orthogonal embedding -> rejected by TEXT only
        Row(doc_id=2, text=base.replace("park", "yard"),
            embedding=[0.0, 1.0, 0.0]),
        # unrelated text, cosine-near 1 -> rejected by EMBEDDING only
        Row(doc_id=3, text="completely different material about other "
                           "unrelated topics entirely",
            embedding=[0.999, 0.01, 0.0]),
        # novel under both signals
        Row(doc_id=4, text="another wholly distinct document with "
                           "fresh content and words",
            embedding=[0.0, 0.0, 1.0])])
    fn(b0, 0)
    read = lambda: {r.doc_id for r in  # noqa: E731
                    spark.read.option("basePath", corpus)
                    .parquet(corpus).collect()}
    assert read() == {1, 4}
    fn(b0, 0)                                  # replay -> no-op
    assert read() == {1, 4}
    b1 = spark.createDataFrame([
        # lexical near corpus 1 (embedding novel)
        Row(doc_id=5, text=base.replace("park", "lane"),
            embedding=[0.0, 1.0, 0.0]),
        # cosine near corpus 1 (text novel)
        Row(doc_id=6, text="fresh follow-up subject matter about new "
                           "themes entirely again",
            embedding=[0.998, 0.02, 0.0]),
        # novel under both
        Row(doc_id=7, text="a third standalone piece covering its own "
                           "separate ground completely",
            embedding=[0.5, 0.5, 0.5])])
    fn(b1, 1)
    assert read() == {1, 4, 7}
    # the admitted corpus carries BOTH payloads (it feeds both gates)
    cols = set(spark.read.option("basePath", corpus)
               .parquet(corpus).columns)
    assert {"doc_id", "text", "embedding"} <= cols


def test_streaming_cross_signal_drained_equals_batch(spark, tmp_path):
    """A drained single-batch cross-signal stream equals the
    intersection of the two batch admissions with the same seeding —
    the union-graph greedy admission the operator documents."""
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )
    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission,
        ivf_seed_centroids,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        cross_signal_admit_fn,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    emb = (load_table(spark, sf, "embeddings")
           .select(F.col("vec_id").alias("doc_id"), "embedding"))
    joined = docs.join(emb, "doc_id")
    src = str(tmp_path / "src")
    joined.coalesce(1).write.parquet(src)
    stream = (spark.readStream.format("parquet")
              .schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", "8").load(src))
    corpus = str(tmp_path / "corpus")
    q = drain(stream, cross_signal_admit_fn(
        corpus, cosine_threshold=0.4, n_centroids=4, nprobe=4),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    got = {r.doc_id for r in spark.read.option("basePath", corpus)
           .parquet(corpus).select("doc_id").collect()}
    lex = {r.doc_id for r in incremental_minhash_admission(
        joined.select("doc_id", "text"),
        spark.createDataFrame([], "doc_id long, text string"),
        "text", "doc_id", max_bucket=32).collect()}
    cents = ivf_seed_centroids(joined, 4, "doc_id", "embedding")
    sem = {r.doc_id for r in incremental_semantic_admission(
        joined.select("doc_id", "embedding"),
        spark.createDataFrame([], "doc_id long, embedding array<float>"),
        id_col="doc_id", threshold=0.4, nprobe=4,
        centroids=cents).collect()}
    assert got == (lex & sem) and 0 < len(got) <= joined.count()


def _sem_vec(seed):
    # signed components spread the directions (all-positive vectors
    # cluster in one orthant and cross-block at high thresholds)
    return [float((seed * 2654435761 + j * 40503) % 997) / 997.0 * 2 - 1.0
            for j in range(4)]


def test_streaming_semantic_indexed_epochs_replay_and_healing(
        spark, tmp_path):
    """The maintained-index streaming semantic front door
    (semantic_admit_indexed_fn): centroids frozen at epoch 0, routed
    corpus epoch-appended, per-epoch admission equals the batch
    incremental_semantic_admission_auto applied batch-by-batch with
    the SAME frozen centroids and the in-query (unindexed) corpus;
    replayed epochs no-op; a crash between the index and corpus
    commits heals on replay (the probe anti-joins the batch's own
    ids out of the read-back index)."""
    import shutil

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission_auto,
        ivf_seed_centroids,
    )
    from nyctaxidatapipeline_spark.streaming.jobs import (
        semantic_admit_indexed_fn,
    )

    batches = [
        spark.createDataFrame(
            [Row(vec_id=i, embedding=_sem_vec(i)) for i in range(10)]),
        spark.createDataFrame(
            [Row(vec_id=20, embedding=_sem_vec(0)),      # dup of id 0
             Row(vec_id=21, embedding=[0.0, 0.0, 0.0, 5.0])]),  # novel
        spark.createDataFrame(
            [Row(vec_id=30, embedding=[0.0, 0.0, 0.0, 7.0]),  # dup of 21
             Row(vec_id=31, embedding=_sem_vec(555))]),        # novel
    ]
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    fn = semantic_admit_indexed_fn(corpus_dir, index_dir,
                                   threshold=0.995, n_centroids=4,
                                   nprobe=2)
    for i, b in enumerate(batches):
        fn(b, i)
    got = {r.vec_id for r in spark.read.option("basePath", corpus_dir)
           .parquet(corpus_dir).select("vec_id").collect()}
    # manual twin: frozen centroids from epoch 0, in-query corpus;
    # epoch 0 runs the same admission (in-batch arm, empty corpus)
    cents = [list(map(float, c)) for c in
             ivf_seed_centroids(batches[0], 4, "vec_id", "embedding")]
    admitted = spark.createDataFrame([], batches[0].schema)
    want = set()
    for b in batches:
        adm = incremental_semantic_admission_auto(
            b, admitted, threshold=0.995, nprobe=2, centroids=cents)
        want |= {r.vec_id for r in adm.collect()}
        admitted = admitted.unionByName(adm)
    assert got == want
    assert 20 not in got and 30 not in got   # cross-epoch rejections
    assert {21, 31} <= got                   # novelty admitted
    # replayed epoch: byte-identical corpus
    fn(batches[1], 1)
    again = {r.vec_id for r in spark.read.option("basePath", corpus_dir)
             .parquet(corpus_dir).select("vec_id").collect()}
    assert again == got
    # crash between index and corpus commits: corpus epoch=2 missing,
    # index epoch=2 present -> replay must converge to the same state
    shutil.rmtree(f"{corpus_dir}/epoch=2")
    fn(batches[2], 2)
    healed = {r.vec_id for r in spark.read.option("basePath", corpus_dir)
              .parquet(corpus_dir).select("vec_id").collect()}
    assert healed == got
    # index epochs mirror the corpus admissions (routed-append closure)
    idx_ids = {r._id for r in spark.read.option("basePath", index_dir)
               .parquet(index_dir).select("_id").collect()}
    assert idx_ids == got


def test_streaming_semantic_indexed_drained_equals_batch(spark,
                                                         tmp_path):
    """A drained single-batch indexed stream equals the batch auto
    admission with batch-seeded centroids — the e2e readStream
    plumbing of the maintained-index front door."""
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission_auto,
        ivf_seed_centroids,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        semantic_admit_indexed_fn,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select("vec_id",
                                                     "embedding")
    src = str(tmp_path / "src")
    emb.coalesce(1).write.parquet(src)
    stream = (spark.readStream.format("parquet")
              .schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", "8").load(src))
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    q = drain(stream, semantic_admit_indexed_fn(
        corpus, index, threshold=0.4, n_centroids=4, nprobe=4),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    got = {r.vec_id for r in spark.read.option("basePath", corpus)
           .parquet(corpus).select("vec_id").collect()}
    cents = [list(map(float, c)) for c in
             ivf_seed_centroids(emb, 4, "vec_id", "embedding")]
    empty = spark.createDataFrame([], emb.schema)
    want = {r.vec_id for r in incremental_semantic_admission_auto(
        emb, empty, threshold=0.4, nprobe=4,
        centroids=cents).collect()}
    assert got == want and 0 < len(got) <= emb.count()


def test_streaming_quantile_sketch_equals_batch_and_replays(
        spark, tmp_path):
    """Drained quantile-sketch state == the batch bottom-k of the
    whole fixture BYTE-FOR-BYTE (the pinned mergeability + fixed md5
    rank), the threshold read matches the batch sketch threshold, and
    a replayed epoch is a no-op."""
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.operators.analytics import (
        quantile_threshold,
    )
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_bottom_k,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        quantile_sketch_merge_fn,
        read_quantile_threshold,
        stream_table,
    )

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "qstate")
    k = 256
    li_stream = stream_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
    q = drain(li_stream, quantile_sketch_merge_fn(
        state, "l_extendedprice",
        ["l_orderkey", "l_linenumber", "l_partkey"], k=k),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    li = load_table(spark, sf, "lineitem")
    want = [(r._rk, r.l_extendedprice) for r in hash_sample_bottom_k(
        li, ["l_orderkey", "l_linenumber", "l_partkey"],
        ["l_extendedprice"], k).collect()]
    got = [(r._rk, r.l_extendedprice) for r in
           spark.read.parquet(state)
           .orderBy("_rk", "l_extendedprice").collect()]
    assert got == want and len(got) == k
    # threshold read == batch sketch threshold
    t_stream = read_quantile_threshold(
        spark, state, "l_extendedprice", q=0.99).collect()[0][0]
    t_batch = quantile_threshold(
        li, "l_extendedprice", 0.99, mode="sketch",
        rank_cols=["l_orderkey", "l_linenumber", "l_partkey"],
        sample_k=k).collect()[0][0]
    assert t_stream == t_batch
    # replayed epoch: state byte-identical (marker skips the merge)
    fn = quantile_sketch_merge_fn(
        state, "l_extendedprice",
        ["l_orderkey", "l_linenumber", "l_partkey"], k)
    fn(li.limit(50), 0)   # epoch 0 already applied -> no-op
    again = [(r._rk, r.l_extendedprice) for r in
             spark.read.parquet(state)
             .orderBy("_rk", "l_extendedprice").collect()]
    assert again == got


def test_streaming_grouped_quantile_sketch_equals_batch(spark,
                                                        tmp_path):
    """Drained per-group sketch state == the batch grouped bottom-k of
    the whole fixture (per-group mergeability), the percentile read
    matches the batch grouped_percentiles(mode="sketch"), and a replayed
    epoch no-ops."""
    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )
    from nyctaxidatapipeline_spark.operators.sketches import (
        grouped_hash_sample_bottom_k,
    )
    from nyctaxidatapipeline_spark.sources import load_table
    from nyctaxidatapipeline_spark.streaming.jobs import (
        grouped_quantile_sketch_merge_fn,
        read_grouped_percentiles,
        stream_table,
    )

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "gqstate")
    k = 64
    cols = ["l_orderkey", "l_linenumber", "l_partkey"]
    li_stream = stream_table(spark, sf, "lineitem").select(
        "l_returnflag", *cols, "l_extendedprice")
    q = drain(li_stream, grouped_quantile_sketch_merge_fn(
        state, ["l_returnflag"], "l_extendedprice", cols, k=k),
        checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    li = load_table(spark, sf, "lineitem")
    want = {(r.l_returnflag, r._rk, r._v)
            for r in grouped_hash_sample_bottom_k(
                li, ["l_returnflag"], "l_extendedprice", cols,
                k=k).collect()}
    got = {(r.l_returnflag, r._rk, r._v)
           for r in spark.read.parquet(state).collect()}
    assert got == want and len(got) == 3 * k
    # percentile read == batch percentiles
    p_stream = {r.l_returnflag: (r.p50, r.p95)
                for r in read_grouped_percentiles(
                    spark, state, ["l_returnflag"]).collect()}
    p_batch = {r.l_returnflag: (r.p50, r.p95)
               for r in grouped_percentiles(
                   li, ["l_returnflag"], "l_extendedprice", (0.5, 0.95),
                   mode="sketch", rank_cols=cols, k=k).collect()}
    assert p_stream == p_batch
    # replay no-op
    fn = grouped_quantile_sketch_merge_fn(
        state, ["l_returnflag"], "l_extendedprice", cols, k)
    fn(li.limit(100), 0)
    again = {(r.l_returnflag, r._rk, r._v)
             for r in spark.read.parquet(state).collect()}
    assert again == got


def test_streaming_near_dup_indexed_epochs_replay_and_healing(
        spark, tmp_path):
    """The maintained-LSH-index streaming near-dup door
    (near_dup_admit_indexed_fn): multi-epoch admission equals the
    batch incremental_minhash_admission applied batch-by-batch with
    the in-query (unindexed) corpus; replayed epochs no-op; a crash
    between the index and corpus commits heals on replay."""
    import shutil

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )
    from nyctaxidatapipeline_spark.streaming.jobs import (
        near_dup_admit_indexed_fn,
    )

    base = "a quick brown fox jumps over the lazy dog in the park"
    other = "completely different text with other words here entirely"
    batches = [
        spark.createDataFrame([
            Row(doc_id=0, text=base),
            Row(doc_id=1, text=other)]),
        spark.createDataFrame([
            Row(doc_id=10, text=base.replace("park", "yard")),  # near 0
            Row(doc_id=11, text="novel second epoch document about "
                                "streaming admission with an index")]),
        spark.createDataFrame([
            Row(doc_id=20, text="novel second epoch document about "
                                "streaming admission with an index "
                                "slightly extended"),            # near 11
            Row(doc_id=21, text="another genuinely novel third epoch "
                                "text that matches nothing else")]),
    ]
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    fn = near_dup_admit_indexed_fn(corpus_dir, index_dir, "text",
                                   "doc_id", threshold=0.3)
    for i, b in enumerate(batches):
        fn(b, i)
    got = {r.doc_id for r in spark.read.option("basePath", corpus_dir)
           .parquet(corpus_dir).select("doc_id").collect()}
    # manual twin: batch-by-batch, in-query corpus, no index
    admitted = spark.createDataFrame([], batches[0].schema)
    want = set()
    for b in batches:
        adm = incremental_minhash_admission(
            b, admitted, "text", "doc_id", threshold=0.3)
        want |= {r.doc_id for r in adm.collect()}
        admitted = admitted.unionByName(adm)
    assert got == want
    assert 10 not in got and 20 not in got   # cross-epoch near-dups
    assert {0, 1, 11, 21} <= got
    # replay no-op
    fn(batches[1], 1)
    again = {r.doc_id for r in spark.read.option("basePath", corpus_dir)
             .parquet(corpus_dir).select("doc_id").collect()}
    assert again == got
    # crash between index and corpus commits
    shutil.rmtree(f"{corpus_dir}/epoch=2")
    fn(batches[2], 2)
    healed = {r.doc_id for r in spark.read.option("basePath", corpus_dir)
              .parquet(corpus_dir).select("doc_id").collect()}
    assert healed == got
    # index rows mirror the admitted corpus
    idx_ids = {r.doc_id for r in spark.read.option("basePath", index_dir)
               .parquet(index_dir).select("doc_id").collect()}
    assert idx_ids == got


def test_streaming_near_dup_indexed_drained_equals_plain_door(
        spark, tmp_path):
    """Same stream through the indexed and the re-signing doors →
    identical admitted corpora (the index is a pure physical skip)."""
    from nyctaxidatapipeline_spark.streaming.jobs import (
        near_dup_admit_fn,
        near_dup_admit_indexed_fn,
        stream_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = stream_table(spark, sf, "documents")
    plain = str(tmp_path / "plain")
    q = drain(docs, near_dup_admit_fn(plain, "text", "doc_id"),
              checkpoint_dir=str(tmp_path / "c1"))
    q.stop()
    docs2 = stream_table(spark, sf, "documents")
    idxd = str(tmp_path / "idxd")
    q = drain(docs2, near_dup_admit_indexed_fn(
        idxd, str(tmp_path / "idx"), "text", "doc_id"),
        checkpoint_dir=str(tmp_path / "c2"))
    q.stop()
    a = {r.doc_id for r in spark.read.option("basePath", plain)
         .parquet(plain).select("doc_id").collect()}
    b = {r.doc_id for r in spark.read.option("basePath", idxd)
         .parquet(idxd).select("doc_id").collect()}
    assert a == b and len(a) > 0


def test_streaming_cross_signal_indexed_epochs_replay_and_healing(
        spark, tmp_path):
    """The maintained-index cross-signal door: per-epoch admission ==
    intersection of the two in-query gates (lexical in-query LSH +
    semantic auto at the SAME frozen centroids) applied batch-by-batch;
    replay no-ops; a crash with both index epochs committed but the
    corpus epoch missing heals on replay."""
    import shutil

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )
    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission_auto,
        ivf_seed_centroids,
    )
    from nyctaxidatapipeline_spark.streaming.jobs import (
        cross_signal_admit_indexed_fn,
    )

    base = "a quick brown fox jumps over the lazy dog in the park"
    novel = "entirely different prose about streaming admission gates"

    def vec(seed):
        return [float((seed * 2654435761 + j * 40503) % 997) / 997.0
                * 2 - 1.0 for j in range(4)]

    batches = [
        spark.createDataFrame([
            Row(doc_id=0, text=base, embedding=vec(0)),
            Row(doc_id=1, text=novel, embedding=vec(1))]),
        spark.createDataFrame([
            # lexical near-dup of 0, novel embedding -> lexical reject
            Row(doc_id=10, text=base.replace("park", "yard"),
                embedding=vec(50)),
            # novel text, embedding copy of 1 -> semantic reject
            Row(doc_id=11, text="second epoch fresh words that match "
                                "no earlier document at all",
                embedding=[x * 1.001 for x in vec(1)]),
            # novel on both signals -> admit
            Row(doc_id=12, text="third fresh text of the second epoch "
                                "unlike anything already admitted",
                embedding=vec(77))]),
    ]
    corpus_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    fn = cross_signal_admit_indexed_fn(
        corpus_dir, index_dir, jaccard_threshold=0.3,
        cosine_threshold=0.995, n_centroids=4, nprobe=2)
    for i, b in enumerate(batches):
        fn(b, i)
    got = {r.doc_id for r in spark.read.option("basePath", corpus_dir)
           .parquet(corpus_dir).select("doc_id").collect()}
    # manual twin: same frozen centroids (seeded from batch 0),
    # intersection of the two in-query gates, batch-by-batch
    cents = [list(map(float, c)) for c in
             ivf_seed_centroids(batches[0], 4, "doc_id", "embedding")]
    admitted = spark.createDataFrame([], batches[0].schema)
    want = set()
    for b in batches:
        lex = incremental_minhash_admission(
            b.select("doc_id", "text"),
            admitted.select("doc_id", "text"), "text", "doc_id",
            threshold=0.3)
        sem = incremental_semantic_admission_auto(
            b.select("doc_id", "embedding"),
            admitted.select("doc_id", "embedding"), id_col="doc_id",
            vec_col="embedding", threshold=0.995, nprobe=2,
            centroids=cents)
        adm = (b.join(lex.select("doc_id"), "doc_id", "left_semi")
                .join(sem.select("doc_id"), "doc_id", "left_semi"))
        want |= {r.doc_id for r in adm.collect()}
        admitted = admitted.unionByName(adm)
    assert got == want
    assert 10 not in got and 11 not in got and 12 in got
    # replay no-op
    fn(batches[1], 1)
    again = {r.doc_id for r in spark.read.option("basePath", corpus_dir)
             .parquet(corpus_dir).select("doc_id").collect()}
    assert again == got
    # crash: both index epochs committed, corpus epoch missing
    shutil.rmtree(f"{corpus_dir}/epoch=1")
    fn(batches[1], 1)
    healed = {r.doc_id for r in spark.read.option("basePath", corpus_dir)
              .parquet(corpus_dir).select("doc_id").collect()}
    assert healed == got


def test_indexed_doors_survive_empty_epochs(spark, tmp_path):
    """foreachBatch can deliver an EMPTY micro-batch (e.g. a trigger
    with no new files): every maintained-index door must commit the
    empty epoch and keep working — before any index exists, after one
    exists, and for the cross-signal door's three stores."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import (
        cross_signal_admit_indexed_fn,
        near_dup_admit_indexed_fn,
        semantic_admit_indexed_fn,
    )

    def vec(seed):
        return [float((seed * 2654435761 + j * 40503) % 997) / 997.0
                * 2 - 1.0 for j in range(4)]

    text_schema = "doc_id long, text string"
    full_schema = "doc_id long, text string, embedding array<double>"
    doc = Row(doc_id=1, text="one real document with several words",
              embedding=vec(1))

    # near-dup door
    nd = near_dup_admit_indexed_fn(str(tmp_path / "nd_c"),
                                   str(tmp_path / "nd_i"),
                                   "text", "doc_id")
    nd(spark.createDataFrame([], text_schema), 0)      # empty, no index
    nd(spark.createDataFrame([doc]).select("doc_id", "text"), 1)
    nd(spark.createDataFrame([], text_schema), 2)      # empty, with index
    got = {r.doc_id for r in spark.read
           .option("basePath", str(tmp_path / "nd_c"))
           .parquet(str(tmp_path / "nd_c")).collect()}
    assert got == {1}

    # semantic door
    sd = semantic_admit_indexed_fn(str(tmp_path / "sd_c"),
                                   str(tmp_path / "sd_i"),
                                   n_centroids=2, nprobe=1,
                                   id_col="doc_id",
                                   vec_col="embedding")
    sd(spark.createDataFrame([], "doc_id long, embedding array<double>"),
       0)
    sd(spark.createDataFrame([doc]).select("doc_id", "embedding"), 1)
    sd(spark.createDataFrame([], "doc_id long, embedding array<double>"),
       2)
    got = {r.doc_id for r in spark.read
           .option("basePath", str(tmp_path / "sd_c"))
           .parquet(str(tmp_path / "sd_c")).collect()}
    assert got == {1}

    # cross-signal door (three stores)
    xd = cross_signal_admit_indexed_fn(str(tmp_path / "xd_c"),
                                       str(tmp_path / "xd_i"),
                                       n_centroids=2, nprobe=1)
    xd(spark.createDataFrame([], full_schema), 0)
    xd(spark.createDataFrame([doc]), 1)
    xd(spark.createDataFrame([], full_schema), 2)
    got = {r.doc_id for r in spark.read
           .option("basePath", str(tmp_path / "xd_c"))
           .parquet(str(tmp_path / "xd_c")).collect()}
    assert got == {1}


def test_compact_epoch_store_preserves_semantics(spark, tmp_path):
    """compact_epoch_store folds every epoch into one partition while
    keeping the exactly-once contract: replays of pre-compaction
    epochs no-op on the watermark, post-compaction epochs still see
    the full merged corpus/index (a near-dup of a pre-compaction doc
    is still rejected), sidecars survive, and the file count drops."""
    import os

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import (
        compact_epoch_store,
        near_dup_admit_indexed_fn,
        semantic_admit_indexed_fn,
    )

    base = "a quick brown fox jumps over the lazy dog in the park"
    corpus_dir = str(tmp_path / "c")
    index_dir = str(tmp_path / "i")
    fn = near_dup_admit_indexed_fn(corpus_dir, index_dir, "text",
                                   "doc_id", threshold=0.3)
    fn(spark.createDataFrame([Row(doc_id=0, text=base)]), 0)
    fn(spark.createDataFrame(
        [Row(doc_id=1, text="completely different words entirely "
                            "unrelated to anything previous")]), 1)
    before = {r.doc_id for r in spark.read
              .option("basePath", corpus_dir).parquet(corpus_dir)
              .select("doc_id").collect()}
    stats_c = compact_epoch_store(spark, corpus_dir)
    stats_i = compact_epoch_store(spark, index_dir)
    assert stats_c["files_after"] < stats_c["files_before"]
    assert stats_i["epochs"] == 2
    # data intact after the swap
    after = {r.doc_id for r in spark.read
             .option("basePath", corpus_dir).parquet(corpus_dir)
             .select("doc_id").collect()}
    assert after == before == {0, 1}
    # replay of a folded epoch: no-op on the watermark
    fn(spark.createDataFrame([Row(doc_id=0, text=base)]), 0)
    assert not os.path.exists(f"{corpus_dir}/epoch=0")
    # a post-compaction epoch still rejects near-dups of folded docs
    fn(spark.createDataFrame(
        [Row(doc_id=10, text=base.replace("park", "yard")),
         Row(doc_id=11, text="fresh post-compaction document about "
                             "nothing seen before at all")]), 2)
    final = {r.doc_id for r in spark.read
             .option("basePath", corpus_dir).parquet(corpus_dir)
             .select("doc_id").collect()}
    assert final == {0, 1, 11}
    # semantic store: the _centroids.json sidecar survives compaction
    sc, si = str(tmp_path / "sc"), str(tmp_path / "si")
    sfn = semantic_admit_indexed_fn(sc, si, n_centroids=2, nprobe=1,
                                    id_col="doc_id",
                                    vec_col="embedding")
    sfn(spark.createDataFrame(
        [Row(doc_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
         Row(doc_id=1, embedding=[0.0, 1.0, 0.0, 0.0])]), 0)
    compact_epoch_store(spark, si)
    assert os.path.exists(os.path.join(si, "_centroids.json"))
    sfn(spark.createDataFrame(
        [Row(doc_id=10, embedding=[1.0, 0.0, 0.0, 0.0]),   # dup of 0
         Row(doc_id=11, embedding=[0.0, 0.0, 0.0, 3.0])]), 1)
    got = {r.doc_id for r in spark.read.option("basePath", sc)
           .parquet(sc).select("doc_id").collect()}
    assert got == {0, 1, 11}, got


def test_state_swap_crash_between_renames_recovers(spark, tmp_path):
    """ADVICE r11: the whole-state swap keeps the old state as
    ``<dir>.bak`` across the commit rename, so a crash BETWEEN the two
    renames (live dir gone, bak intact) no longer loses the standing
    sketch + epoch marker — the next merge or read heals first, the
    interrupted epoch replays, and the final state equals the
    no-crash run's."""
    import os
    import shutil

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import (
        applied_epoch,
        quantile_sketch_merge_fn,
        read_quantile_threshold,
    )

    def batch(lo, hi):
        return spark.createDataFrame(
            [Row(k=i, v=float(i)) for i in range(lo, hi)])

    # reference run: two epochs, no crash
    ref = str(tmp_path / "ref")
    fn = quantile_sketch_merge_fn(ref, "v", ["k"], k=64)
    fn(batch(0, 50), 0)
    fn(batch(50, 100), 1)
    want = {tuple(r) for r in spark.read.parquet(ref).collect()}

    # crashed run: epoch 0 commits, then the epoch-1 swap dies between
    # rename(state, bak) and rename(tmp, state)
    st = str(tmp_path / "crashed")
    fn2 = quantile_sketch_merge_fn(st, "v", ["k"], k=64)
    fn2(batch(0, 50), 0)
    os.rename(st, st + ".bak")           # simulated mid-swap crash
    assert not os.path.exists(st)
    # restart: foreachBatch re-delivers epoch 1; applied_epoch heals
    # the bak back first, so the replay merges instead of rebuilding
    # the sketch from the replay window only
    fn2(batch(50, 100), 1)
    got = {tuple(r) for r in spark.read.parquet(st).collect()}
    assert got == want
    assert applied_epoch(st) == 1
    assert not os.path.exists(st + ".bak")

    # the read path heals too
    os.rename(st, st + ".bak")
    thr = read_quantile_threshold(spark, st, "v", 0.5).collect()
    assert len(thr) == 1 and os.path.exists(st)

    # stale bak left AFTER a committed swap (crash before the final
    # cleanup) must NOT clobber the newer live state
    shutil.copytree(st, st + ".bak")
    fn2(batch(100, 150), 2)
    assert applied_epoch(st) == 2
    assert not os.path.exists(st + ".bak")


def test_compact_store_crash_between_renames_self_heals(spark,
                                                        tmp_path):
    """ADVICE r11: a compact_epoch_store crash between its two renames
    (root absent, ``._compact_bak`` intact) self-heals — the doors'
    ``_epoch_committed`` check and the next compaction both restore
    the bak instead of requiring the r11 docstring's manual rename."""
    import os

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import (
        _epoch_committed,
        compact_epoch_store,
        dedup_admit_fn,
    )

    corpus = str(tmp_path / "c")
    fn = dedup_admit_fn(corpus, "text", "doc_id")
    fn(spark.createDataFrame([Row(doc_id=0, text="alpha")]), 0)
    fn(spark.createDataFrame([Row(doc_id=1, text="beta")]), 1)
    want = {r.doc_id for r in spark.read.option("basePath", corpus)
            .parquet(corpus).select("doc_id").collect()}

    # simulated crash between rename(root, bak) and rename(tmp, root)
    os.rename(corpus, corpus + "._compact_bak")
    assert not os.path.exists(corpus)
    # the door's pre-batch check restores the store
    assert _epoch_committed(corpus, 0)
    assert os.path.exists(corpus)
    assert not os.path.exists(corpus + "._compact_bak")
    got = {r.doc_id for r in spark.read.option("basePath", corpus)
           .parquet(corpus).select("doc_id").collect()}
    assert got == want

    # compaction itself also heals a crashed predecessor
    os.rename(corpus, corpus + "._compact_bak")
    stats = compact_epoch_store(spark, corpus)
    assert stats["epochs"] == 2
    got = {r.doc_id for r in spark.read.option("basePath", corpus)
           .parquet(corpus).select("doc_id").collect()}
    assert got == want


def test_stage_path_is_door_unique():
    """ADVICE r11: two doors whose corpus dirs share a parent and
    process the same epoch id stage under DIFFERENT names (the store
    basename is part of the staging dir), so neither can rename the
    other's admissions into its corpus."""
    from nyctaxidatapipeline_spark.streaming.jobs import _stage_path

    a = _stage_path("/x/door_a/corpus", 5)
    b = _stage_path("/x/door_b/corpus", 5)
    assert a != b
    assert _stage_path("/x/a", 5) != _stage_path("/x/b", 5)
    # staged beside the store (same parent → same-filesystem rename)
    import os
    assert os.path.dirname(_stage_path("/x/a/c", 7)) == "/x/a"


def test_semantic_indexed_door_heals_crashed_index_compaction(
        spark, tmp_path):
    """r12 review finding: a crashed index-store compaction (index_dir
    absent, ._compact_bak intact) must be healed BEFORE the door reads
    or recreates index_dir — the centroid-sidecar write would
    otherwise resurrect the dir, orphan the bak (losing the routed
    index AND the original centroids), and gate the batch against
    nothing."""
    import os

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import (
        semantic_admit_indexed_fn,
    )

    sc, si = str(tmp_path / "sc"), str(tmp_path / "si")
    fn = semantic_admit_indexed_fn(sc, si, id_col="doc_id",
                                   vec_col="embedding",
                                   n_centroids=2, nprobe=1)
    fn(spark.createDataFrame(
        [Row(doc_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
         Row(doc_id=1, embedding=[0.0, 1.0, 0.0, 0.0])]), 0)
    with open(os.path.join(si, "_centroids.json")) as f:
        cents_before = f.read()
    # simulated crash between compact_epoch_store's two renames
    os.rename(si, si + "._compact_bak")
    # next epoch: a duplicate of admitted doc 0 plus a novel axis
    fn(spark.createDataFrame(
        [Row(doc_id=10, embedding=[1.0, 0.0, 0.0, 0.0]),   # dup of 0
         Row(doc_id=11, embedding=[0.0, 0.0, 0.0, 3.0])]), 1)
    got = {r.doc_id for r in spark.read.option("basePath", sc)
           .parquet(sc).select("doc_id").collect()}
    assert got == {0, 1, 11}, got        # dup rejected, not admitted
    assert not os.path.exists(si + "._compact_bak")   # bak consumed
    with open(os.path.join(si, "_centroids.json")) as f:
        assert f.read() == cents_before  # original centroids restored


def test_cross_signal_indexed_door_heals_crashed_sem_compaction(
        spark, tmp_path):
    """Same heal-order pin for the cross-signal door's sem store (its
    centroid sidecar has the identical resurrect-and-orphan hazard)."""
    import os

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.streaming.jobs import (
        cross_signal_admit_indexed_fn,
    )

    c, i = str(tmp_path / "c"), str(tmp_path / "i")
    fn = cross_signal_admit_indexed_fn(c, i, n_centroids=2, nprobe=1)
    fn(spark.createDataFrame(
        [Row(doc_id=0, text="alpha words entirely about one topic",
             embedding=[1.0, 0.0, 0.0, 0.0]),
         Row(doc_id=1, text="beta prose concerning a second matter",
             embedding=[0.0, 1.0, 0.0, 0.0])]), 0)
    sem = os.path.join(i, "sem")
    os.rename(sem, sem + "._compact_bak")
    fn(spark.createDataFrame(
        # lexically novel but semantically a dup of doc 0: only the
        # (healed) sem gate can reject it
        [Row(doc_id=10, text="gamma sentence with fresh vocabulary",
             embedding=[1.0, 0.0, 0.0, 0.0]),
         Row(doc_id=11, text="delta unseen wording again different",
             embedding=[0.0, 0.0, 0.0, 3.0])]), 1)
    got = {r.doc_id for r in spark.read.option("basePath", c)
           .parquet(c).select("doc_id").collect()}
    assert got == {0, 1, 11}, got
    assert not os.path.exists(sem + "._compact_bak")
