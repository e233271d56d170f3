"""Structured Streaming — the streaming surface the reference lacks
(SURVEY.md §2.9): its hour-of-day heatmap is a batch proxy for a windowed
count; here it's a real ``readStream`` pipeline with event-time windows,
watermarked late-data handling, and within-watermark dedup.

Local tests replay the ``events`` fixture parquet as a stream
(``maxFilesPerTrigger``) into a memory sink via ``processAllAvailable`` —
the same plans run unchanged against Kafka/files at scale (swap the source;
state-store sizing = |open windows| x |keys|, bounded by the watermark).

The ``foreachBatch`` doors are ``*_fn(...)`` factories, each returning
one ``(batch_df, epoch_id)`` function, and :func:`drain` runs any of
them over any stream: ``drain(stream, rollup_merge_fn(...),
checkpoint_dir=...)``. That is one epoch-commit skeleton under every
door. State doors (rollup, quantile, HLL, CMS) swap a parquet state
together with its epoch marker (:func:`_sketch_merge_fn`). Append
doors (admission, ingestion) commit each epoch as an ``epoch=N``
directory (:func:`_commit_epoch`). :func:`_indexed_door` is the one
maintained-index admission skeleton: the ``*_admit_indexed_fn`` doors
run it over a lexical gate (:func:`_minhash_gate`), a semantic gate
(:func:`_routed_gate`) or both, and it commits each gate's index epoch
before the corpus epoch. A replayed epoch is a no-op in both. ``drain``
sets no output mode, so Spark's default (append) applies: every door
reads a stateless stream, and for those append and update deliver the
same micro-batches. :func:`stream_files` is the one ``binaryFile``
source for the shard, WARC and TFRecord doors.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.plans.util import local_frame
from nyctaxidatapipeline_spark.sources.tables import _restore_nanos


def stream_table(spark: SparkSession, sf_dir: str, name: str,
                 max_files_per_trigger: int = 1) -> DataFrame:
    """Replay a fixture table as a file stream (schema from the batch
    reader, including the nanos→micros timestamp normalization)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    # The file-stream source only accepts directories: stream the sf dir
    # with a glob filter selecting this table's file(s).
    stream = (spark.readStream
              .format("parquet")
              .schema(raw_schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .option("pathGlobFilter", f"{name}.parquet")
              .load(sf_dir))
    stream = _restore_nanos(stream, path)
    for field in stream.schema.fields:
        # Watermarks reject TIMESTAMP_NTZ event time; session TZ is pinned
        # UTC so the NTZ->LTZ cast preserves wall-clock values.
        if field.dataType.typeName() == "timestamp_ntz":
            stream = stream.withColumn(
                field.name, F.col(field.name).cast("timestamp"))
    return stream


def hourly_event_counts(stream: DataFrame, ts_col: str = "ts",
                        watermark: str = "2 hours",
                        window: str = "1 hour") -> DataFrame:
    """Tumbling event-time window counts + value sums with a watermark —
    the streaming twin of the batch ``hourly_window`` query (same numbers
    once the stream drains)."""
    return (stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"),
                     F.col("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("win.start").alias("window_start"),
                    "event_type", "n_events", "sum_value"))


def dedup_within_watermark(stream: DataFrame, keys: list[str],
                           ts_col: str = "ts",
                           watermark: str = "2 hours") -> DataFrame:
    """Drop duplicate events by key within the watermark horizon — bounded
    state (vs unbounded ``dropDuplicates`` on an infinite stream)."""
    return (stream
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(keys))


def sliding_event_counts(stream: DataFrame, ts_col: str = "ts",
                         watermark: str = "2 hours",
                         window: str = "1 hour",
                         slide: str = "30 minutes") -> DataFrame:
    """Sliding event-time windows (each event lands in window/slide
    overlapping windows). State grows by the overlap factor — size the
    watermark accordingly."""
    return (stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window, slide).alias("win"),
                     F.col("event_type"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n_events"))


def session_window_counts(stream: DataFrame, key: str = "user_id",
                          ts_col: str = "ts", gap: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Event-time session windows (dynamic length, closed by gap) — the
    streaming twin of ``operators.temporal.sessionize``."""
    return (stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"),
                     F.col(key))
            .agg(F.count("*").alias("n_events"))
            .select(F.col(key),
                    F.col("sess.start").alias("session_start"),
                    F.col("sess.end").alias("session_end"),
                    "n_events"))


def stateful_running_totals(stream: DataFrame, key: str = "user_id",
                            value_col: str = "value") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-key event count + value sum maintained across micro-batches.

    The state store holds one (count, sum) pair per key — the pattern for
    operators Structured Streaming lacks natively (decayed counters,
    custom sessionization, online sketches). Output mode: update.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{key} long, n_events long, total double"
    state_schema = "n long, total double"

    def update(keys, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({key: [keys[0]], "n_events": [n],
                            "total": [total]})

    return (stream.groupBy(key)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def enrich_with_static(stream: DataFrame, dim: DataFrame,
                       on: str, broadcast_dim: bool = False) -> DataFrame:
    """Stream-static join: enrich each event with a dimension table.

    The static side is re-planned per micro-batch (picking up dimension
    updates between batches) — the standard lookup-enrichment topology;
    no state store is involved, so this composes freely with downstream
    windows/aggregations. Broadcast is OPT-IN (``broadcast_dim=True``,
    for dimensions the caller knows are small): by default the planner
    decides via ``autoBroadcastJoinThreshold``/AQE, so a large dimension
    falls back to a shuffle join instead of OOMing the driver on every
    micro-batch with a forced broadcast.
    """
    right = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(right, on, "left")


def purchase_error_correlation(events_a: DataFrame, events_b: DataFrame,
                               key: str = "user_id", ts_col: str = "ts",
                               watermark: str = "2 hours",
                               within: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: pair each row of ``events_a`` with rows
    of ``events_b`` for the same key within ``within`` of each other.

    Both sides are watermarked so the join state store is bounded: a
    buffered row can be evicted once the other side's watermark passes
    its timestamp + ``within`` (the time-interval condition is what
    makes eviction possible — an unconstrained stream-stream join would
    buffer forever).
    """
    a = (events_a.withWatermark(ts_col, watermark)
         .select(F.col(key).alias("a_key"),
                 F.col(ts_col).alias("a_ts"),
                 F.col("event_type").alias("a_type")))
    b = (events_b.withWatermark(ts_col, watermark)
         .select(F.col(key).alias("b_key"),
                 F.col(ts_col).alias("b_ts"),
                 F.col("event_type").alias("b_type")))
    return a.join(
        b,
        F.expr(f"""
            a_key = b_key AND
            b_ts BETWEEN a_ts - INTERVAL {within}
                     AND a_ts + INTERVAL {within}
        """))

def drain(stream: DataFrame, fn, checkpoint_dir: str | None = None):
    """Run ``fn(batch_df, epoch_id)`` as the ``foreachBatch`` sink of
    ``stream`` until every available input is processed, and return
    the (still active) query — the one writeStream skeleton under every
    door (module docstring)."""
    w = stream.writeStream.foreachBatch(fn)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.processAllAvailable()
    return q


#: binaryFile's fixed source schema — streaming file sources require an
#: explicit schema; this is the one the batch binaryFile reader infers.
_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length long, content binary")


def stream_files(spark: SparkSession, landing_dir: str,
                 max_files_per_trigger: int = 1) -> DataFrame:
    """Stream a landing directory's files as they arrive, one
    ``binaryFile`` row (path, modificationTime, length, content) per
    file — the source of the shard, WARC and TFRecord doors. One file
    per micro-batch by default (each Common-Crawl-sized segment is
    ~1 GB; at scale raise the trigger or swap the directory for the
    real queue)."""
    return (spark.readStream
            .format("binaryFile")
            .schema(_BINARY_FILE_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .load(landing_dir))


def parquet_append_fn(out_dir: str):
    """``foreachBatch`` sink: land each micro-batch as parquet with its
    ``_epoch`` column (the idempotent exactly-once-per-epoch pattern —
    a real deployment keys the write on ``epoch_id`` for replay
    safety)."""
    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (batch_df.withColumn("_epoch", F.lit(epoch_id))
                 .write.mode("append").parquet(out_dir))

    return write_batch


def run_to_memory(stream: DataFrame, query_name: str,
                  output_mode: str = "append"):
    """Drive a streaming plan to completion against the replayed fixture:
    memory sink + processAllAvailable (synchronous drain for tests)."""
    q = (stream.writeStream
         .outputMode(output_mode)
         .format("memory")
         .queryName(query_name)
         .start())
    q.processAllAvailable()
    return q


_EPOCH_MARKER = "_APPLIED_EPOCH"


def _recover_state_dir(state_dir: str) -> None:
    """Heal a crash inside :func:`_swap_state_dir`: the live dir
    missing with ``<dir>.bak`` present means the crash hit between the
    two renames — restore the backup (the pre-epoch state plus its
    epoch marker; the interrupted epoch replays and re-merges on
    restart, so nothing is lost)."""
    sd = state_dir.rstrip("/")
    bak = sd + ".bak"
    if not os.path.exists(sd) and os.path.isdir(bak):
        os.rename(bak, sd)


def _swap_state_dir(tmp: str, state_dir: str) -> None:
    """Crash-safe whole-state swap (ADVICE r11): keep the old state as
    ``<dir>.bak`` across the commit rename so no crash point loses
    BOTH the standing state and its ``_APPLIED_EPOCH`` marker. The old
    rmtree-then-rename had a window that, for the quantile monitors,
    silently rebuilt the sketch from the replay window only — a
    degraded threshold with no signal. Now any crash leaves either the
    old state live, the bak restorable (:func:`_recover_state_dir`,
    run by :func:`applied_epoch` so every merge and read path heals
    first), or the new state committed with at worst a stale bak that
    the next swap clears."""
    sd = state_dir.rstrip("/")
    bak = sd + ".bak"
    shutil.rmtree(bak, ignore_errors=True)
    if os.path.exists(sd):
        os.rename(sd, bak)
    os.rename(tmp, sd)
    shutil.rmtree(bak, ignore_errors=True)


def applied_epoch(state_dir: str) -> int:
    """The epoch id committed WITH the current state (-1 if none). The
    marker file is written into the tmp directory before the atomic
    rename, so state and epoch can never disagree. Also heals a swap
    interrupted between its two renames (see
    :func:`_recover_state_dir`) — every merge fn calls this first."""
    _recover_state_dir(state_dir)
    try:
        with open(os.path.join(state_dir, _EPOCH_MARKER)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return -1


def _sketch_merge_fn(state_dir: str, reduce, merge):
    """Every state door's one ``foreachBatch`` body: reduce the
    micro-batch (``reduce(batch_df)``), merge it with the standing
    state (``merge(state ∪ reduced)``), then write the merged state
    with the epoch marker inside the tmp dir and commit both with one
    :func:`_swap_state_dir`.

    Exactly-once under replays: foreachBatch is at-least-once, so a
    crash after the state swap but before the streaming offset commit
    re-delivers the SAME epoch on restart. The epoch id is committed
    atomically with the state (marker file inside the renamed
    directory); a replayed epoch is a no-op instead of a double count
    — the standard batch-id-keyed idempotent sink. For mergeable
    sketches (bottom-k: bottom_k(A ∪ B) == bottom_k(bottom_k(A) ∪
    bottom_k(B))) the drained state is EXACTLY the sketch of the whole
    stream; per-batch cost is one scan of the batch plus a merge
    bounded by the state, never stream history."""
    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= applied_epoch(state_dir):
            return                       # replayed epoch — committed
        merged = reduce(batch_df)
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            cur = (batch_df.sparkSession.read.parquet(state_dir)
                   .select(merged.columns))
            merged = merge(cur.unionByName(merged))
        tmp = state_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, _EPOCH_MARKER), "w") as f:
            f.write(str(epoch_id))
        _swap_state_dir(tmp, state_dir)

    return merge_batch


def rollup_merge_fn(state_dir: str, keys: list[str], value_col: str):
    """``foreachBatch`` maintenance of a mergeable partial-state
    rollup: every micro-batch reduces to its (count/sum/min/max)
    partial state (``operators.incremental.partial_agg``) and merges
    into the parquet state table — per-batch cost scales with the batch
    plus the state's key cardinality, never with stream history, and
    the merged state is provably equal to the one-shot batch aggregate
    (the merge-identity gate on ``incremental_rollup``).

    The state swap and replay no-op are :func:`_sketch_merge_fn`'s
    (single-writer assumption — foreachBatch epochs are serialized per
    query). Tests invoke the function directly with a replayed
    ``(batch_df, epoch_id)`` — exactly what Structured Streaming does
    after a failure between sink commit and offset-log commit. Pass
    :func:`drain` a ``checkpoint_dir`` so restarts resume from the
    committed offsets (production always should; tests replaying a
    finite fixture may omit it)."""
    from nyctaxidatapipeline_spark.operators.incremental import (
        merge_partials,
        partial_agg,
    )

    return _sketch_merge_fn(
        state_dir,
        lambda b: partial_agg(b, keys, value_col),
        lambda u: merge_partials([u], keys))


def quantile_sketch_merge_fn(state_dir: str, value_col: str,
                             rank_cols: list[str], k: int = 16384):
    """``foreachBatch`` maintenance of a LIVE quantile monitor (r11,
    composing the hash-sample bottom-k sketch with the rollup state
    skeleton): each micro-batch reduces to ITS bottom-k by the fixed
    md5 row-rank (``sketches.hash_sample_bottom_k``), merges with the
    standing k-row state, and re-truncates at k
    (:func:`_sketch_merge_fn`). k rows of state, O(batch + k) per
    epoch. The rank being deterministic, the drained state is
    byte-equal to the batch operator on the same rows, so a deployment
    reads a p99 threshold off a k-row parquet at any moment
    (:func:`read_quantile_threshold`) at ±sqrt(q(1-q)/k) rank
    accuracy."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_bottom_k,
    )

    # salt_buckets=None: a micro-batch is one epoch's rows — the naive
    # single-merge TakeOrderedAndProject is the cheap shape here; the
    # batch operator's tree merge is for unbounded-task-count scans.
    # coalesce(1): the k-row state is one parquet file
    return _sketch_merge_fn(
        state_dir,
        lambda b: hash_sample_bottom_k(b, rank_cols, [value_col], k,
                                       salt_buckets=None).coalesce(1),
        lambda u: u.orderBy("_rk", value_col).limit(int(k)).coalesce(1))


def grouped_quantile_sketch_merge_fn(state_dir: str,
                                     group_cols: list[str],
                                     value_col: str,
                                     rank_cols: list[str],
                                     k: int = 4096,
                                     salt_buckets: int = 32):
    """``foreachBatch`` maintenance of PER-GROUP bottom-k quantile
    sketches — the per-group sibling of
    :func:`quantile_sketch_merge_fn`: each micro-batch reduces to its
    per-group bottom-k (``sketches.grouped_hash_sample_bottom_k`` —
    the salted two-phase shape, so no task ever sorts a whole group
    even inside one batch), merges with the standing state and
    re-truncates per group. The merge window's input is bounded at 2·k
    rows per group regardless of stream history; state is <= k rows
    per live group. Read per-group percentiles off the state with
    :func:`read_grouped_percentiles`."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        bottom_k_rows,
        grouped_hash_sample_bottom_k,
    )

    # coalesce(1): the state (<= k rows per group) is one parquet file
    return _sketch_merge_fn(
        state_dir,
        lambda b: grouped_hash_sample_bottom_k(
            b, group_cols, value_col, rank_cols, k,
            salt_buckets).coalesce(1),
        lambda u: bottom_k_rows(u, group_cols, ["_rk", "_v"],
                                k).coalesce(1))


def read_grouped_percentiles(spark: SparkSession, state_dir: str,
                             group_cols: list[str],
                             percentiles=(0.5, 0.95)):
    """Per-group discrete percentiles off a
    :func:`grouped_quantile_sketch_merge_fn` state — the core's
    sorted-sample readout and ``p50``-style output contract, exactly as
    the batch ``grouped_percentiles(mode='sketch')``, over <= k rows
    per group."""
    from nyctaxidatapipeline_spark.operators.quantiles import (
        named_percentiles,
        sample_quantiles,
    )

    _recover_state_dir(state_dir)
    s = spark.read.parquet(state_dir)
    return named_percentiles(
        sample_quantiles(s, "_v", percentiles, group_cols), group_cols,
        percentiles)


def read_quantile_threshold(spark: SparkSession, state_dir: str,
                            value_col: str, q: float = 0.99):
    """The discrete q-quantile of a
    :func:`quantile_sketch_merge_fn` state — the core's
    sorted-sample readout, exactly as the batch
    ``quantile_threshold(mode='sketch')``, off a k-row parquet (a
    monitoring read, not a stream-history scan). Returns a 1-row
    DataFrame (``threshold``) for the broadcast two-phase anomaly
    shape."""
    from nyctaxidatapipeline_spark.operators.quantiles import (
        QUANTILES,
        sample_quantiles,
    )

    _recover_state_dir(state_dir)
    s = spark.read.parquet(state_dir)
    return (sample_quantiles(s, value_col, (q,))
            .select(F.col(QUANTILES)[0].alias("threshold")))


def dedup_admit_fn(corpus_dir: str, text_col: str, id_col: str):
    """``foreachBatch`` corpus admission: admit only batch documents
    that are not fingerprint-duplicates of the already-admitted corpus
    (nor of each other — min-id wins), and APPEND the admitted rows as
    a new epoch partition (:func:`_admit_commit_cols_fn`). The admitted
    corpus after draining a finite stream equals the batch
    ``incremental_fingerprint_dedup`` applied batch-by-batch — gated
    e2e in ``tests/test_streaming_ext``.

    Exactly-once under replays (:func:`_commit_epoch`: a re-delivered
    epoch no-ops on its existing directory), and nothing ever rewrites:
    per-batch cost is the batch anti-join against the corpus
    fingerprint set (via the Bloom pre-pass, so only filter-positive
    rows shuffle), plus the admitted rows' write.
    """
    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_fingerprint_dedup_bloom,
    )

    return _admit_commit_cols_fn(
        corpus_dir, [id_col, text_col],
        lambda batch, corpus: incremental_fingerprint_dedup_bloom(
            batch, corpus, text_col, id_col))


#: epoch-store compaction watermark — epochs ≤ this id were merged
#: into one partition by :func:`compact_epoch_store`; their dirs are
#: gone but they ARE committed (replays must no-op on the marker)
_COMPACTED_MARKER = "_compacted_through"


def _compacted_through(root: str) -> int:
    """Highest epoch id folded into the store by
    :func:`compact_epoch_store` (-1 when never compacted)."""
    try:
        with open(os.path.join(root, _COMPACTED_MARKER)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return -1


def _epoch_committed(root: str, epoch_id: int) -> bool:
    """True when this epoch's output is already in the store — either
    its own ``epoch=`` dir exists, or compaction folded it away (the
    watermark is the proof of commit). Every door checks this before
    touching the store, so it first heals a :func:`compact_epoch_store`
    swap interrupted between its two renames."""
    _recover_compacted_store(root)
    return (epoch_id <= _compacted_through(root)
            or os.path.exists(os.path.join(root, f"epoch={epoch_id}")))


def _recover_compacted_store(root: str) -> None:
    """Restore ``<root>._compact_bak`` when the store itself is absent
    — the crash window between :func:`compact_epoch_store`'s two
    renames (ADVICE r11). The bak is the full pre-compaction store, so
    restoring it loses nothing; the next compaction simply redoes the
    fold."""
    root = root.rstrip("/")
    bak = root + "._compact_bak"
    if not os.path.exists(root) and os.path.isdir(bak):
        os.rename(bak, root)


def _stage_path(store_dir: str, epoch_id: int) -> str:
    """Door-unique staging dir for an epoch commit, placed BESIDE the
    store (same parent → the final rename stays same-filesystem). The
    store's basename is part of the name (ADVICE r11): two doors whose
    corpus dirs share a parent and process the same epoch id can never
    clobber each other's staging or rename one door's admissions into
    the other's corpus."""
    root = store_dir.rstrip("/")
    return os.path.join(
        os.path.dirname(root) or ".",
        f".tmp-{os.path.basename(root)}-epoch-{epoch_id}")


def _read_epochs(spark: SparkSession, root: str,
                 cols: list[str]) -> DataFrame | None:
    """The epoch-append store at ``root`` (its ``cols``), or ``None``
    while it holds no ``epoch=`` dir."""
    if not (os.path.isdir(root) and any(
            e.startswith("epoch=") for e in os.listdir(root))):
        return None
    return (spark.read.option("basePath", root).parquet(root)
            .select(*cols))


def _commit_epoch(df: DataFrame, root: str, epoch_id: int) -> None:
    """Commit ``df`` as ``<root>/epoch=<epoch_id>`` (one file): write
    it to the :func:`_stage_path` beside the store, then rename — the
    rename IS the exactly-once commit. A no-op when the epoch is
    already committed (:func:`_epoch_committed`)."""
    if _epoch_committed(root, epoch_id):
        return
    tmp = _stage_path(root, epoch_id)
    shutil.rmtree(tmp, ignore_errors=True)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    os.makedirs(root, exist_ok=True)
    os.rename(tmp, os.path.join(root, f"epoch={epoch_id}"))


def compact_epoch_store(spark: SparkSession, store_dir: str,
                        n_files: int = 1) -> dict:
    """Small-files maintenance for the epoch-append stores (admission
    corpora and their maintained indexes): fold EVERY ``epoch=`` dir
    into one, committed by a whole-store directory swap — the
    streaming sibling of ``sinks.compact_parquet``. Each epoch appends
    one file, so a long-running door accumulates thousands of tiny
    files; after compaction the store holds one merged
    ``epoch=<max>`` partition plus the ``_compacted_through`` marker,
    which keeps the exactly-once contract intact: replayed epochs
    ≤ the watermark no-op on the marker instead of the (now absent)
    epoch dirs. Non-epoch sidecars (``_centroids.json``) are carried
    over verbatim.

    SINGLE-WRITER: run between triggers (the same serialization the
    epoch commits themselves assume) — the swap is atomic for new
    readers, but a door mid-batch could hold pre-swap file handles.
    Crash recovery is AUTOMATIC (r12, ADVICE r11): a crash between the
    two renames leaves the store absent with ``<root>._compact_bak``
    intact, and both this function and every door's
    ``_epoch_committed`` check restore the bak before proceeding
    (:func:`_recover_compacted_store`) — no manual window remains.
    Returns before/after file counts."""
    root = store_dir.rstrip("/")
    _recover_compacted_store(root)
    eps = sorted(int(e.split("=", 1)[1]) for e in os.listdir(root)
                 if e.startswith("epoch="))
    if not eps:
        return {"epochs": 0, "files_before": 0, "files_after": 0}
    through = max(max(eps), _compacted_through(root))
    files_before = sum(len([f for f in fs if f.endswith(".parquet")])
                       for _, _, fs in os.walk(root))
    merged = (spark.read.option("basePath", root).parquet(root)
              .drop("epoch"))
    tmp = root + "._compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (merged.coalesce(max(1, int(n_files)))
           .write.mode("overwrite")
           .parquet(os.path.join(tmp, f"epoch={through}")))
    for entry in os.listdir(root):
        src = os.path.join(root, entry)
        if (not entry.startswith("epoch=")
                and entry != _COMPACTED_MARKER
                and os.path.isfile(src)):
            shutil.copy2(src, os.path.join(tmp, entry))
    with open(os.path.join(tmp, _COMPACTED_MARKER), "w") as f:
        f.write(str(through))
    bak = root + "._compact_bak"
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(root, bak)
    os.rename(tmp, root)
    shutil.rmtree(bak, ignore_errors=True)
    files_after = sum(len([f for f in fs if f.endswith(".parquet")])
                      for _, _, fs in os.walk(root))
    return {"epochs": len(eps), "compacted_through": through,
            "files_before": files_before, "files_after": files_after}


def _admit_commit_cols_fn(corpus_dir: str, cols: list[str], admitter):
    """The admission doors' shared epoch-directory commit: read the
    admitted corpus's ``cols`` (id first), run ``admitter(batch,
    corpus) -> admitted subset``, and land the admissions as
    ``epoch=N`` (:func:`_commit_epoch`) — replayed epochs no-op on the
    existing directory."""
    def admit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_committed(corpus_dir, epoch_id):
            return                       # replayed epoch — committed
        spark = batch_df.sparkSession
        batch = batch_df.select(*cols)
        corpus = _read_epochs(spark, corpus_dir, cols)
        if corpus is None:
            corpus = local_frame(spark, [], batch.schema)
        _commit_epoch(admitter(batch, corpus), corpus_dir, epoch_id)

    return admit_batch


def _frozen_centroids(index_dir: str, batch: DataFrame,
                      n_centroids: int, id_col: str, vec_col: str,
                      epoch_id: int) -> list:
    """The IVF centroid matrix frozen in ``<index_dir>/_centroids.json``:
    read back when present, else seeded from ``batch`` and committed by
    atomic rename (a concurrent seeder's file may win; the winner is
    what both read back). ``[]`` while no non-zero vector has arrived,
    so the next epoch seeds again. The underscore prefix keeps the
    sidecar out of Spark's file index, so it cannot break the parquet
    read of the store."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        ivf_seed_centroids,
    )

    path = os.path.join(index_dir, "_centroids.json")
    if not os.path.exists(path):
        cents = [list(map(float, c)) for c in
                 ivf_seed_centroids(batch, n_centroids, id_col, vec_col)]
        if not cents:
            return []
        os.makedirs(index_dir, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}-{epoch_id}"
        with open(tmp, "w") as f:
            json.dump(cents, f)
        try:
            os.rename(tmp, path)
        except OSError:
            os.unlink(tmp)
    with open(path) as f:                # read the race winner
        return json.load(f)


def _intersect(batch: DataFrame, admitted: list[DataFrame],
               id_col: str) -> DataFrame:
    """The ``batch`` rows every gate admitted (a lone gate's own
    frame). This IS the union-graph greedy admission: a row is rejected
    iff some gate links it to an eligible partner, and all gates share
    one convention for those (the corpus, or a smaller batch id)."""
    if len(admitted) == 1:
        return admitted[0]
    for a in admitted:
        batch = batch.join(a.select(id_col), id_col, "left_semi")
    return batch


def _indexed_door(corpus_dir: str, cols: list[str], id_col: str, gates):
    """The one maintained-index admission skeleton, under every
    ``*_admit_indexed_fn``. A gate (:func:`_minhash_gate`,
    :func:`_routed_gate`) is an ``(index_dir, run)`` pair;
    ``run(batch, read_corpus, epoch_id)`` returns the gate's admitted
    frame and the map from the epoch's admitted rows to its index rows
    (``None``: nothing to index). Only gates that call ``read_corpus()``
    read the corpus store.

    Per epoch: heal every index store's crashed compaction BEFORE
    anything reads or recreates it (a centroid-sidecar write would
    resurrect the dir and orphan its bak; the corpus heals in
    ``_epoch_committed``), no-op on a committed epoch, pin the batch,
    run the gates, pin their intersection, commit each index epoch,
    then the corpus epoch. Index epochs go first: a missing one would
    under-reject forever, while a crash before the corpus commit
    re-delivers the epoch. That replay finds its own rows in an index,
    so each gate anti-joins the batch's ids out of its read-back index
    (rows only this batch could have contributed never block it) and
    the deterministic admission matches the committed index epoch."""
    def admit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        for index_dir, _ in gates:
            _recover_compacted_store(index_dir)
        if _epoch_committed(corpus_dir, epoch_id):
            return                       # replayed epoch — committed
        spark = batch_df.sparkSession
        batch = batch_df.select(*cols).localCheckpoint()

        def read_corpus() -> DataFrame:
            c = _read_epochs(spark, corpus_dir, cols)
            return c if c is not None else local_frame(spark, [],
                                                       batch.schema)

        runs = [run(batch, read_corpus, epoch_id) for _, run in gates]
        admitted = _intersect(batch, [a for a, _ in runs],
                              id_col).localCheckpoint()
        for (index_dir, _), (_, index_of) in zip(gates, runs):
            if index_of is not None:
                _commit_epoch(index_of(admitted), index_dir, epoch_id)
        _commit_epoch(admitted, corpus_dir, epoch_id)

    return admit_batch


def _read_index(batch: DataFrame, id_col: str, index_dir: str,
                cols: list[str], stamp_col: str, params: dict):
    """A gate's index read-back: the epochs under ``index_dir`` (its
    ``cols``, id first) without ``batch``'s own ids, so a half-committed
    replay's own rows never block it (``None`` while no epoch exists).
    A stamp missing from ``stamp_col`` of this framework-built index
    means validation degraded: ``check_index_params`` warns once."""
    from nyctaxidatapipeline_spark.operators.indexmeta import (
        check_index_params,
    )

    idx = _read_epochs(batch.sparkSession, index_dir, cols)
    if idx is None:
        return None
    idx = idx.join(batch.select(F.col(id_col).alias(cols[0])), cols[0],
                   "left_anti")
    check_index_params(idx, params, f"admission index {index_dir}",
                       col=stamp_col, expect_stamp=True)
    return idx


def _minhash_gate(index_dir: str, text_col: str, id_col: str,
                  threshold: float, max_bucket: int | None, n: int,
                  num_hashes: int, bands: int, portable: bool):
    """The lexical gate of :func:`_indexed_door`: the batch probes the
    LSH band-bucket table kept under ``index_dir`` (no corpus SIGNATURE
    pass, 80%+ of a cold admission's wall at sf10, PLANS.md #20),
    touched candidates are verified by exact Jaccard against the corpus
    TEXT (a candidate-filtered read), and the epoch appends its
    admissions' bucket rows (``append_to_minhash_index``'s pure-union
    closure unit-pins this). The first epoch builds the index from the
    (possibly empty) corpus."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        _minhash_params,
        build_minhash_index,
        incremental_minhash_admission,
    )

    def index_of(rows: DataFrame) -> DataFrame:
        return build_minhash_index(rows.select(id_col, text_col),
                                   text_col, id_col, n, num_hashes,
                                   bands, portable)

    def run(batch: DataFrame, read_corpus, epoch_id: int):
        corpus = read_corpus().select(id_col, text_col)
        idx = _read_index(batch, id_col, index_dir,
                          [id_col, "band", "bucket"], "band",
                          _minhash_params(n, num_hashes, bands, portable))
        if idx is None:
            idx = index_of(corpus)
        admitted = incremental_minhash_admission(
            batch.select(id_col, text_col), corpus, text_col, id_col,
            n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
            portable=portable, max_bucket=max_bucket, corpus_index=idx)
        return admitted, index_of

    return index_dir, run


def _routed_gate(index_dir: str, vec_col: str, id_col: str,
                 threshold: float, n_centroids: int, nprobe: int):
    """The semantic gate of :func:`_indexed_door`: the batch probes the
    ROUTED corpus kept under ``index_dir`` against centroids frozen at
    the first non-degenerate epoch (:func:`_frozen_centroids`), so the
    corpus is never re-routed or read, and the epoch appends its
    admissions' routed rows (``append_to_semantic_routing_index``'s
    per-row closure unit-pins this). Until a non-zero vector arrives
    the whole batch is admitted and nothing is indexed."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        _semantic_routing_params,
        build_semantic_routing_index,
        incremental_semantic_admission_auto,
    )

    def run(batch: DataFrame, read_corpus, epoch_id: int):
        cents = _frozen_centroids(index_dir, batch, n_centroids, id_col,
                                  vec_col, epoch_id)
        if not cents:
            return batch, None
        routed = _read_index(batch, id_col, index_dir,
                             ["_id", "list_id", "_vec"], "_id",
                             _semantic_routing_params(cents))
        if routed is None:
            routed = local_frame(batch.sparkSession, [],
                                 "_id long, list_id int, _vec array<double>")
        admitted = incremental_semantic_admission_auto(
            batch.select(id_col, vec_col), None, id_col=id_col,
            vec_col=vec_col, threshold=threshold, nprobe=nprobe,
            centroids=cents, corpus_routed=routed)
        return admitted, lambda rows: build_semantic_routing_index(
            rows.select(id_col, vec_col), cents, id_col, vec_col)

    return index_dir, run


def _minhash_admitter(text_col: str, id_col: str, threshold: float,
                      max_bucket: int | None):
    """The plain doors' lexical gate ``(batch, corpus) -> admitted``:
    ``incremental_minhash_admission`` at default signature parameters."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )

    return lambda batch, corpus: incremental_minhash_admission(
        batch.select(id_col, text_col), corpus.select(id_col, text_col),
        text_col, id_col, threshold=threshold, max_bucket=max_bucket)


def near_dup_admit_fn(corpus_dir: str, text_col: str, id_col: str,
                      threshold: float = 0.5,
                      max_bucket: int | None = 32):
    """``foreachBatch`` corpus admission with NEAR-dup gating — the
    sibling of ``dedup_admit_fn``: each micro-batch is gated by
    ``incremental_minhash_admission`` (banded LSH vs the admitted
    corpus + greedy in-batch, exact-Jaccard verified) instead of exact
    fingerprints, landing through the same epoch-directory
    exactly-once commit. Drained result equals applying
    ``incremental_minhash_admission`` batch-by-batch — gated e2e in
    ``tests/test_streaming_ext``. Per-batch cost scales with the batch
    and its bucket overlap against the corpus, never |corpus|²; the
    ``max_bucket`` corpus-bucket cap (on by default here — a streaming
    admitter must survive boilerplate storms unattended) bounds the
    verification fan-out of any hot bucket."""
    return _admit_commit_cols_fn(
        corpus_dir, [id_col, text_col],
        _minhash_admitter(text_col, id_col, threshold, max_bucket))


def near_dup_admit_indexed_fn(corpus_dir: str, index_dir: str,
                              text_col: str, id_col: str,
                              threshold: float = 0.5,
                              max_bucket: int | None = 32,
                              n: int = 3, num_hashes: int = 32,
                              bands: int = 8, portable: bool = False):
    """``foreachBatch`` near-dup admission over a MAINTAINED persisted
    LSH index — the streaming deployment shape of
    ``incremental_minhash_indexed`` (r11): :func:`_indexed_door` over
    one :func:`_minhash_gate`, whose band-bucket table lives as
    epoch-append parquet under ``index_dir``."""
    return _indexed_door(corpus_dir, [id_col, text_col], id_col, [
        _minhash_gate(index_dir, text_col, id_col, threshold, max_bucket,
                      n, num_hashes, bands, portable)])


def semantic_admit_fn(corpus_dir: str, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      threshold: float = 0.85,
                      n_centroids: int = 16, nprobe: int = 4):
    """``foreachBatch`` corpus admission with SEMANTIC gating — the
    EMBEDDING-side sibling of ``near_dup_admit_fn``: vectors are
    admitted into ``corpus_dir`` only if no IVF-probed
    cosine≥threshold neighbor exists in the admitted corpus or earlier
    in their own micro-batch (``similarity.incremental_semantic_
    admission``), through the same epoch-directory exactly-once commit
    as the exact-fingerprint (``dedup_admit_fn``) and MinHash
    (``near_dup_admit_fn``) doors. Centroids are seeded from the
    CURRENT admitted corpus each epoch (deterministic given the
    corpus; from the batch itself on the first epoch); a batch with no
    non-zero vectors admits wholesale — there is nothing to compare.

    SCALE: this door re-seeds and RE-ROUTES the admitted corpus every
    epoch — per-epoch cost is corpus-proportional by construction.
    On the BLAS kernel path (r12) that re-route is one matmul, so the
    measured curve is FLAT at fixture scale (1.7-2.3 s/epoch across
    12 sf1 epochs — the r11 9.9→58.5 s climb was the expression
    path's cost, retracted in BENCH_STREAMING ``notes.crossover_r12``);
    the corpus-proportional term only starts to matter at large
    corpus × dim. :func:`semantic_admit_indexed_fn` (frozen centroids
    + maintained persisted routed index) GUARANTEES a flat per-epoch
    cost independent of corpus size and carries the exactly-once
    index machinery — it costs more at fixture scale (7-9 s/epoch,
    epoch-append + healing overhead) and pays off in the
    large-corpus regime the batch-side sf10 pricing shows.

    r12: the gate runs the Arrow/BLAS kernel path
    (``incremental_semantic_admission_auto`` with this door's per-epoch
    seeded centroids), as the indexed door does, so the two doors
    differ only in route maintenance. The expression path
    (``incremental_semantic_admission``, which ``cross_signal_admit_fn``
    runs) is not verdict-identical: both round cosines 6 dp before the
    threshold compare, but only the kernel rounds routing dots (6 dp
    half-away, before argmax/top-nprobe); ``_centroid_dots`` /
    ``ivf_assign`` route on unrounded dots, so a near-tied list
    assignment, and with it a verdict at the recall margin, can differ."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission_auto,
        ivf_seed_centroids,
    )

    def admitter(batch: DataFrame, corpus: DataFrame) -> DataFrame:
        seed_src = corpus if not corpus.isEmpty() else batch
        cents = ivf_seed_centroids(seed_src, n_centroids, id_col,
                                   vec_col)
        if not cents:
            return batch
        return incremental_semantic_admission_auto(
            batch, corpus, id_col=id_col, vec_col=vec_col,
            threshold=threshold, nprobe=nprobe, centroids=cents)

    return _admit_commit_cols_fn(corpus_dir, [id_col, vec_col], admitter)


def semantic_admit_indexed_fn(corpus_dir: str, index_dir: str,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              threshold: float = 0.85,
                              n_centroids: int = 16, nprobe: int = 4):
    """``foreachBatch`` semantic admission over a MAINTAINED persisted
    routed-corpus index — the streaming deployment shape of
    ``incremental_semantic_auto_indexed`` (r11): :func:`_indexed_door`
    over one :func:`_routed_gate` under ``index_dir``. Where
    ``semantic_admit_fn`` re-seeds and re-routes the corpus every
    epoch, this pays batch routing + the probed lists' kernels. The
    frozen matrix trades per-list balance as the corpus grows for never
    re-routing; re-centering is a deployment decision (start a new
    index_dir), and the stamp makes a stale probe loud."""
    return _indexed_door(corpus_dir, [id_col, vec_col], id_col, [
        _routed_gate(index_dir, vec_col, id_col, threshold, n_centroids,
                     nprobe)])


def cross_signal_admit_fn(corpus_dir: str, text_col: str = "text",
                          id_col: str = "doc_id",
                          vec_col: str = "embedding",
                          jaccard_threshold: float = 0.5,
                          cosine_threshold: float = 0.85,
                          max_bucket: int | None = 32,
                          n_centroids: int = 16, nprobe: int = 4):
    """``foreachBatch`` corpus admission gated by BOTH signals — the
    streaming twin of the registered ``dedup.cross_signal_dedup``
    batch composition: each micro-batch row (carrying BOTH its text
    and its embedding) is admitted only if NEITHER signal links it to
    the admitted corpus or to a smaller-id row of its own batch: the
    lexical gate is ``near_dup_admit_fn``'s (banded LSH, capped,
    exact-Jaccard verified), the semantic gate
    ``incremental_semantic_admission`` (IVF-probed cosine,
    corpus-seeded centroids like ``semantic_admit_fn``). The two
    gates run independently and their admitted sets intersect
    (:func:`_intersect`, the union-graph greedy admission). Same
    epoch-directory exactly-once commit as the single-signal front
    doors; per-batch cost is the sum of the two gates'
    batch-proportional costs, never |corpus|²."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission,
        ivf_seed_centroids,
    )

    lexical = _minhash_admitter(text_col, id_col, jaccard_threshold,
                                max_bucket)

    def admitter(batch: DataFrame, corpus: DataFrame) -> DataFrame:
        lex = lexical(batch, corpus)
        seed_src = corpus if not corpus.isEmpty() else batch
        cents = ivf_seed_centroids(seed_src, n_centroids, id_col,
                                   vec_col)
        if cents:
            sem = incremental_semantic_admission(
                batch.select(id_col, vec_col),
                corpus.select(id_col, vec_col), id_col=id_col,
                vec_col=vec_col, threshold=cosine_threshold,
                nprobe=nprobe, centroids=cents)
        else:   # no non-degenerate vectors anywhere: nothing to gate
            sem = batch
        return _intersect(batch, [lex, sem], id_col)

    return _admit_commit_cols_fn(corpus_dir, [id_col, text_col, vec_col],
                                 admitter)


def cross_signal_admit_indexed_fn(corpus_dir: str, index_dir: str,
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  vec_col: str = "embedding",
                                  jaccard_threshold: float = 0.5,
                                  cosine_threshold: float = 0.85,
                                  max_bucket: int | None = 32,
                                  n_centroids: int = 16,
                                  nprobe: int = 4,
                                  n: int = 3, num_hashes: int = 32,
                                  bands: int = 8,
                                  portable: bool = False):
    """``foreachBatch`` cross-signal admission over MAINTAINED
    persisted indexes for both signals — the streaming deployment
    shape of ``cross_signal_dedup_indexed`` (r11): :func:`_indexed_door`
    over a :func:`_minhash_gate` under ``index_dir/lex`` and a
    :func:`_routed_gate` under ``index_dir/sem``, intersected as in
    ``cross_signal_admit_fn`` (no corpus re-sign, no corpus re-route).

    NOTE admissions can differ from the plain door's at the IVF recall
    margin, as the batch indexed twins document: this semantic gate
    routes against frozen centroids on the kernel path, which rounds
    routing dots 6 dp; the plain door re-seeds centroids every epoch
    and its expression path routes on unrounded dots (see
    ``semantic_admit_fn``). The gate-level contract (reject iff an
    eligible partner is probed at ≥ threshold) is identical."""
    return _indexed_door(corpus_dir, [id_col, text_col, vec_col], id_col, [
        _minhash_gate(os.path.join(index_dir, "lex"), text_col, id_col,
                      jaccard_threshold, max_bucket, n, num_hashes, bands,
                      portable),
        _routed_gate(os.path.join(index_dir, "sem"), vec_col, id_col,
                     cosine_threshold, n_centroids, nprobe)])


def versioned_append_fn(table_path: str):
    """``foreachBatch`` sink committing each micro-batch as a VERSION
    of a ``versioned`` table — streaming ingestion with snapshot
    isolation: readers time-travel to any committed epoch, and a
    replayed epoch (restart after crash, before checkpoint advance) is
    a NO-OP instead of a duplicate append, because the epoch id is
    stored in the manifest at commit time and checked before writing.
    Exposed as a factory (like ``dedup_admit_fn``/``rollup_merge_fn``)
    so the CAS-loss retry contract is directly unit-testable.

    Composition note: the epoch id travels INSIDE the manifest
    (``write_version(extra={"epoch": ...})``), so it commits in the
    same hard-link CAS as the file list — a crash can never leave a
    committed version without its epoch.

    Losing the manifest CAS does NOT mean this epoch was committed (the
    winner may be an unrelated ``write_version`` caller, or a driver on
    a different epoch), so on ``ConcurrentWriteError`` the sink
    re-scans the applied-epoch set and retries until THIS epoch is
    confirmed committed — returning early would advance the checkpoint
    past an uncommitted batch and silently drop it. The applied-epoch
    set is cached in the closure and extended incrementally (only
    manifests newer than the last scan are read), so per-batch commit
    cost stays O(new versions), not O(all versions)."""
    from nyctaxidatapipeline_spark.versioned import (
        ConcurrentWriteError,
        _load_manifest,
        table_versions,
        write_version,
    )

    applied: set[int] = set()
    scanned = 0  # highest version whose manifest we have read

    def _refresh_applied() -> None:
        nonlocal scanned
        for v in table_versions(table_path):
            if v <= scanned:
                continue
            e = _load_manifest(table_path, v).get("epoch")
            if e is not None:
                applied.add(int(e))
            scanned = max(scanned, v)

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _refresh_applied()
        while int(epoch_id) not in applied:
            try:
                write_version(batch_df, table_path, mode="append",
                              extra={"epoch": int(epoch_id)})
                applied.add(int(epoch_id))
                return
            except ConcurrentWriteError:
                # Someone else won that version number — maybe with this
                # very epoch (concurrent replayer), maybe not (unrelated
                # writer). Re-scan and retry until this epoch is in.
                _refresh_applied()

    return commit_batch


def shard_admit_fn(corpus_dir: str):
    """``foreachBatch`` compressed-corpus ingestion (the Dolma layout)
    over :func:`stream_files`: JSONL shards landing in the directory —
    any mix of the five codecs — are decompressed and line-split
    (``read_text_shards`` — the same codec-sniffing parser the batch
    path uses: gz/bz2/xz/snappy/zstd), parsed JVM-side, and handed to
    the EXISTING admission commit (``dedup_admit_fn``): on-arrival
    dedup, exactly-once per epoch, replays are no-ops. Drained result
    equals the batch parse + batch incremental dedup shard-by-shard —
    gated e2e. Composition over new machinery, exactly like the WARC
    front door — the only shard-specific lines are the decompress +
    ``from_json``."""
    admit = dedup_admit_fn(corpus_dir, "text", "doc_id")

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        from nyctaxidatapipeline_spark.sources.compressed import (
            read_text_shards,
        )

        lines = read_text_shards(
            batch_df.select(F.col("path").alias("shard_id"), "content"))
        docs = (lines
                .select(F.from_json(
                    "line", "id long, text string").alias("j"))
                .filter(F.col("j.id").isNotNull())
                .select(F.col("j.id").alias("doc_id"),
                        F.col("j.text").alias("text")))
        admit(docs, epoch_id)

    return fn


def warc_admit_fn(corpus_dir: str):
    """``foreachBatch`` crawl ingestion over :func:`stream_files`:
    untar each micro-batch's WARC segments into documents
    (``read_warc`` — the same Arrow-batched parser the batch path
    uses), then hand them to the EXISTING admission commit
    (``dedup_admit_fn``): Bloom-pre-passed fingerprint dedup against
    the admitted corpus, epoch-directory rename as the exactly-once
    commit (replays are no-ops). The drained result equals running the
    batch WARC parse + the batch incremental dedup segment-by-segment
    — gated e2e. Composition over new machinery — the only
    WARC-specific lines are the parse + column mapping."""
    admit = dedup_admit_fn(corpus_dir, "text", "doc_id")

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        from nyctaxidatapipeline_spark.sources.warc import read_warc

        docs = (read_warc(batch_df.select(
                    F.col("path").alias("file_id"), "content"))
                .filter(F.col("http_status") == 200)
                .select(F.regexp_extract("target_uri", r"(\d+)$", 1)
                         .cast("long").alias("doc_id"),
                        F.col("payload").cast("string").alias("text")))
        admit(docs, epoch_id)

    return fn


def tfrecord_admit_fn(corpus_dir: str):
    """``foreachBatch`` TFRecord ingestion over :func:`stream_files`:
    unframe + proto-decode each micro-batch's ``.tfrecord`` shards (the
    ``sources/tfrecord.py`` readers — per-frame CRC verification, typed
    decode), then hand the documents to the EXISTING admission commit
    (``dedup_admit_fn``): on-arrival dedup, exactly-once per epoch,
    replays are no-ops. The third streaming front door next to WARC
    and compressed JSONL; drained result equals the batch decode +
    batch incremental dedup shard-by-shard — gated e2e. The only
    TFRecord-specific lines are the unframe + decode."""
    admit = dedup_admit_fn(corpus_dir, "text", "doc_id")

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        from nyctaxidatapipeline_spark.sources.tfrecord import (
            decode_examples,
            read_tfrecord_shards,
        )

        recs = read_tfrecord_shards(
            batch_df.select(F.col("path").alias("shard_id"), "content"))
        docs = (decode_examples(recs, {"doc_id": "long",
                                       "text": "string"})
                .filter(F.col("doc_id").isNotNull())
                .select("doc_id", "text"))
        admit(docs, epoch_id)

    return fn


def hll_merge_fn(state_dir: str, group_col: str, key_col: str,
                 b: int = 6):
    """``foreachBatch`` distinct-count sketch — the sketch twin of
    ``rollup_merge_fn``: maintain per-group HyperLogLog registers over
    an unbounded stream in O(groups x 2^b) state, the live "distinct
    users so far" dashboard that an exact streaming distinct would
    need unbounded state for. Each micro-batch reduces to its HLL
    register frame (``sketches.hll_registers``) and max-merges into
    the parquet state; read the estimate at any time with
    ``sketches.hll_finish`` over the state parquet. Register max-merge
    is idempotent AND exact — the drained state is bit-identical to
    the one-shot batch sketch over the union (the merge-identity gate
    HLL gets for free that a sum-rollup has to earn), and per-batch
    cost is the batch plus O(groups x 2^b) state, never stream
    history. Same atomic tmp-rename + epoch-marker exactly-once
    discipline (:func:`_sketch_merge_fn`); replayed epochs are no-ops
    (and would be harmless anyway — max is idempotent)."""
    from nyctaxidatapipeline_spark.operators.sketches import hll_registers

    return _sketch_merge_fn(
        state_dir,
        lambda batch: hll_registers(batch, F.col(key_col), [group_col],
                                    b),
        lambda u: (u.groupBy(group_col, "bucket")
                    .agg(F.max("M").alias("M"))))


def cms_merge_fn(state_dir: str, key_col: str, w: int = 1024,
                 d: int = 4):
    """``foreachBatch`` frequency sketch: maintain a Count-Min counter
    table over an unbounded stream in O(w x d) state; point-query it
    any time with ``sketches.cms_lookup`` over the state parquet. Each
    micro-batch reduces to its counter frame (``sketches.cms_counters``)
    and SUM-merges into the parquet state — the frequency twin of
    ``hll_merge_fn`` (registers max-merge, counters sum-merge). Drained
    state equals the one-shot batch sketch exactly (counter sums
    distribute over any batch split) — gated e2e. Unlike max, sum is
    NOT idempotent, so the epoch-marker replay guard is load-bearing
    here, exactly as in ``rollup_merge_fn``."""
    from nyctaxidatapipeline_spark.operators.sketches import cms_counters

    return _sketch_merge_fn(
        state_dir,
        lambda batch: cms_counters(batch, F.col(key_col), w, d),
        lambda u: u.groupBy("r", "c").agg(F.sum("cnt").alias("cnt")))
