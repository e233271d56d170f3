"""Sinks: the reference's output layer (S3 parquet, S4 JDBC, S5 console),
behind one abstraction so the JDBC path stays available but optional
(SURVEY.md §5 caveat 5 — MySQL is untestable offline).

Reference: ``yellow_taxi_etl.py:37-48`` (_write_mysql helper),
``cleaning.py:20`` (parquet overwrite), ``cleaning.py:23`` (show).
Write-mode semantics preserved: callers pick overwrite/append per table;
the reference hard-codes ``fare_anomalies`` to overwrite even under
``--append`` (``yellow_taxi_etl.py:207``).

Scale notes:
  * Parquet: ``partition_by`` date/zone columns gives hive-style partition
    pruning downstream — the single biggest storage-layout win at 100 TB
    (the reference writes unpartitioned; SURVEY.md §4 flags this).
  * JDBC: each output partition opens its own connection — coalesce small
    aggregate outputs first so a 1000-executor job doesn't open 32k
    connections against one MySQL.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class JdbcConfig:
    """Connection details for S4 (reference ``yellow_taxi_etl.py:11-14``)."""
    url: str
    user: str
    password: str
    driver: str = "com.mysql.cj.jdbc.Driver"
    extra_options: dict[str, str] = field(default_factory=dict)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: Sequence[str] | None = None,
                  compression: str = "snappy") -> None:
    """S3 — parquet sink (reference ``cleaning.py:20``), plus the
    ``partitionBy`` layout improvement of SURVEY.md §4."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_sharded(df: DataFrame, path: str,
                  sort_cols: Sequence[str] | None = None,
                  max_records_per_file: int = 1_000_000,
                  n_shards: int | None = None,
                  mode: str = "overwrite",
                  compression: str = "snappy",
                  fmt: str = "parquet") -> None:
    """Training-export sink: bounded, optionally range-clustered shards.

    A 100 TB export has two requirements the plain sink doesn't meet:
    (a) downstream loaders want shards of a predictable size —
    ``maxRecordsPerFile`` caps each file, so a skewed task can't emit a
    10× shard; (b) global clustering by a key (time, domain, packed
    ``seq_id``) — ``repartitionByRange`` + ``sortWithinPartitions``
    yields totally-ordered output across shards (shard N's keys all
    precede shard N+1's) without a single-task global sort: the range
    exchange samples the keys, every shard sorts only its slice.

    ``fmt='json'`` emits JSON-Lines shards (the LLM-training loader
    lingua franca — one JSON object per line); the default gzip
    compression there keeps shards seekable by line after decompress.
    Same partitioning/sort/cap semantics for every format.
    """
    if fmt not in ("parquet", "json"):
        raise ValueError(f"unsupported export format {fmt!r}")
    out = df
    if sort_cols:
        parts = [F.col(c) for c in sort_cols]
        out = (out.repartitionByRange(*([n_shards] if n_shards else []),
                                      *parts)
                  .sortWithinPartitions(*parts))
    elif n_shards:
        out = out.repartition(n_shards)
    writer = (out.write.mode(mode)
              .option("compression",
                      "gzip" if fmt == "json"
                      and compression == "snappy" else compression)
              .option("maxRecordsPerFile", str(max_records_per_file)))
    if fmt == "json":
        writer.json(path)
    else:
        writer.parquet(path)


def write_jdbc(df: DataFrame, table: str, cfg: JdbcConfig,
               mode: str = "overwrite",
               coalesce_to: int | None = 8) -> None:
    """S4 — JDBC sink (reference ``yellow_taxi_etl.py:37-48``).

    ``coalesce_to`` caps the number of simultaneous DB connections
    (executors open one per partition); aggregate outputs here are small,
    so 8 writers saturate a single MySQL without melting it.
    """
    if coalesce_to is not None and coalesce_to > 0:
        df = df.coalesce(coalesce_to)
    writer = (df.write.format("jdbc")
                .option("url", cfg.url)
                .option("dbtable", table)
                .option("user", cfg.user)
                .option("password", cfg.password)
                .option("driver", cfg.driver))
    for k, v in cfg.extra_options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def write_bucketed_table(df: DataFrame, table: str,
                         bucket_cols: Sequence[str], n_buckets: int,
                         sort_cols: Sequence[str] | None = None,
                         path: str | None = None,
                         mode: str = "overwrite") -> None:
    """Bucketed (+ optionally sorted) parquet table — the storage-layout
    answer to repeated co-located joins/aggregations on the same key.

    Two 100 TB tables both bucketed (and sorted) on the join key
    sort-merge-join with NO Exchange and NO Sort: the shuffle is paid
    once at write time, then every downstream join/groupBy on that key
    is scan-local (`tests/test_bucketed.py` pins the Exchange-free plan).
    Pick ``n_buckets`` so one bucket of the larger table fits an
    executor's memory at target scale; both sides must use the same
    ``n_buckets`` for the join to align.

    Registers via ``saveAsTable`` (bucket metadata lives in the
    catalog); ``path`` makes it an external table.

    Sort elimination additionally needs
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` on the
    READING session (off by default since Spark 3.0, SPARK-28503,
    because it is only sound for single-file buckets — which the
    repartition below guarantees for sorted writes). Exchange
    elimination needs no config.
    """
    if sort_cols:
        # One file per bucket: Spark only trusts (and exploits) the
        # per-bucket sort order when a bucket is a single file — a write
        # task per bucket guarantees that. Skip for unsorted buckets,
        # where many files per bucket parallelize the write harmlessly.
        df = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    writer = (df.write.mode(mode).format("parquet")
                .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_console(df: DataFrame, n: int = 20, truncate: bool = True) -> None:
    """S5 — preview sink (reference ``cleaning.py:23``)."""
    df.show(n, truncate=truncate)


#: The sinks ``write_output`` dispatches to.
SINKS = ("parquet", "jdbc", "console", "noop")


def write_output(df: DataFrame, sink: str = "parquet", **kwargs) -> None:
    """Dispatch: ``sink`` in ``SINKS``. ``noop`` forces full
    materialization without I/O (benchmarking)."""
    if sink == "parquet":
        write_parquet(df, **kwargs)
    elif sink == "jdbc":
        write_jdbc(df, **kwargs)
    elif sink == "console":
        write_console(df, **kwargs)
    elif sink == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        raise ValueError(f"unknown sink {sink!r}")


def zorder_key(df: DataFrame, cols: Sequence[str],
               bits: int = 16) -> F.Column:
    """Morton (Z-order) interleave key over 2+ numeric columns.

    Each column is quantized to ``bits`` levels with ``width_bucket``
    over its broadcastable global (min, max) — equi-width quantization,
    cheap and codegen'd; heavy skew wants approx-quantile cutpoints
    instead (documented upgrade, same interleave). Bit b of every
    quantized column then interleaves into position b*len(cols)+i, so
    files sorted by the key are clustered in ALL dimensions at once —
    the Delta/Iceberg Z-ORDER layout trick that lets min/max file stats
    prune multi-column range predicates.

    Returns a Column (the key); NULLs quantize to bucket 0 (sort
    first). Call under a select that also carries the (min,max) bounds
    columns ``_zlo_i`` / ``_zhi_i`` — or use ``write_zordered`` which
    wires the whole thing.

    ``bits`` is auto-scaled so every interleaved bit fits the 63
    value bits of a signed long: with the default bits=16, 4 columns
    would place a bit at position 63 (the sign bit — inverting the sort
    for high buckets) and 5+ columns would shift past 64, which the JVM
    reduces mod 64, silently colliding bits from different columns.
    63 // d levels per column keeps the full key collision-free (the
    per-column resolution loss is the standard Z-order trade).
    """
    d = len(cols)
    bits = min(bits, 63 // d)
    if bits < 1:
        raise ValueError(f"cannot Z-order {d} columns: no bits left "
                         "per column under a 63-bit long key")
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        # width_bucket returns 1..n+1; clamp into 0..2^bits-1
        q = (F.least(F.greatest(
                F.width_bucket(F.col(c), F.col(f"_zlo{i}"),
                               F.col(f"_zhi{i}"), F.lit((1 << bits) - 1)),
                F.lit(1)), F.lit(1 << bits)) - 1).cast("long")
        q = F.coalesce(q, F.lit(0))
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)),
                            b * d + i))
    return key


def write_zordered(df: DataFrame, path: str, cols: Sequence[str],
                   n_files: int = 8, bits: int = 16,
                   mode: str = "overwrite") -> None:
    """Z-order-clustered parquet write: range-partition + sort by the
    Morton key of ``cols`` so every output file covers a bounded
    hyper-rectangle of the clustered columns (vs a 1-column sort, which
    leaves every other column's per-file min/max spanning the full
    domain). One bounds aggregate (k-row broadcast), one range exchange,
    per-file local sort — no global single-task sort. The win is read-
    side: parquet min/max stats prune files for range predicates on ANY
    clustered column (verified in tests/test_zorder.py)."""
    bounds = df.agg(*[f(F.col(c)).alias(f"_z{t}{i}")
                      for i, c in enumerate(cols)
                      for t, f in (("lo", F.min), ("hi", F.max))])
    keyed = (df.crossJoin(F.broadcast(bounds))
               .withColumn("_zkey", zorder_key(df, cols, bits))
               .drop(*[f"_z{t}{i}" for i in range(len(cols))
                       for t in ("lo", "hi")]))
    (keyed.repartitionByRange(n_files, "_zkey")
          .sortWithinPartitions("_zkey")
          .drop("_zkey")
          .write.mode(mode).parquet(path))


def compact_parquet(spark, path: str,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    even_sizes: bool = False) -> dict:
    """Small-files maintenance: rewrite a parquet directory into
    ~``target_file_bytes`` files, committed by atomic directory swap.

    The many-small-files problem is THE silent killer of 100 TB scans
    (per-file open cost + starved vectorized reads + NameNode/S3-LIST
    pressure); every table format (Delta OPTIMIZE, Iceberg rewrite)
    ships this operation. This is the plain-directory equivalent:

      * output file count = ceil(total_bytes / target_file_bytes),
        from stat'ing the CURRENT files (compression ratio carries
        over since the data is re-encoded with the same codec);
      * ``coalesce`` by default — a shuffle-FREE merge of read splits
        into fewer write tasks; ``even_sizes=True`` swaps in a
        round-robin ``repartition`` (one shuffle) when the input is so
        skewed that merged splits would still be lopsided;
      * same commit pattern as the streaming admission sink: write to
        a ``._compact_tmp`` sibling, then directory-rename swap — a
        reader never observes a half-compacted table, and the swap is
        a metadata op.

    Local-filesystem paths (tests, single node). On a cluster store
    the same plan applies with the FileSystem rename swap or a real
    table format's transactional rewrite. Returns before/after stats.
    """
    import math
    import os
    import shutil
    from urllib.parse import unquote, urlparse

    df = spark.read.parquet(path)
    files = [unquote(urlparse(f).path) for f in df.inputFiles()]
    sizes = [os.stat(f).st_size for f in files]
    total = sum(sizes)
    n_out = max(1, math.ceil(total / target_file_bytes))
    out = df.repartition(n_out) if even_sizes else df.coalesce(n_out)

    tmp = path.rstrip("/") + "._compact_tmp"
    bak = path.rstrip("/") + "._compact_bak"
    out.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path.rstrip("/"), bak)
    os.rename(tmp, path.rstrip("/"))
    shutil.rmtree(bak)
    after = [f for f in os.listdir(path.rstrip("/"))
             if f.endswith(".parquet")]
    return {"files_before": len(files), "files_after": len(after),
            "bytes_before": total, "target_file_bytes": target_file_bytes}
