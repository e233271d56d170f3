"""SparkSession bootstrap.

Reference equivalent: ``yellow_taxi_etl.py:57-61`` (bare ``builder.appName``).
Ours pins the configs that matter for correctness (UTC timestamps for oracle
parity) and for scale (AQE, skew-join handling, sane shuffle parallelism).

On a real cluster the same builder is used — only ``master`` and the memory /
shuffle-partition numbers come from the environment. Local defaults target
the test harness (local[32]); the driver heap defaults to a quarter of the
host's physical memory, between 1g and 16g. The codegen class cache holds
1024 compiled classes (Spark's default is 100), so a session that runs the
same queries again stops recompiling their generated code. Python workers
get this engine's checkout root first on their PYTHONPATH, so they import
the engine whatever the working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One knob for local parallelism; the driver exports SPARK_GRAFT_CPUS.
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# The directory that holds this engine's package: its checkout root.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else a quarter of physical
    memory in MiB, at least 1g and at most 16g."""
    mib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
           // 4 // 2**20)
    return (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or f"{max(1024, min(16 * 1024, mib))}m")


def get_spark(app_name: str = "nyctaxidatapipeline_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``shuffle_partitions`` defaults to the local core count: at 100 TB this is
    instead sized so that ``input_bytes / partitions`` stays in the 100-500 MB
    band per task, and AQE coalescing trims the small tail.

    ``extra_conf`` entries are applied at BUILD time — the hook for
    create-time-only confs (e.g. ``spark.ui.retainedStages`` for the
    streaming movement census); they have no effect when an existing
    session is reused (getOrCreate).
    """
    n_shuffle = shuffle_partitions or int(_CPUS)
    # Pin BLAS to one thread per task BEFORE the JVM (and thus the forked
    # Python workers) launches: with local[32], each worker spawning a full
    # OpenBLAS pool oversubscribes the host ~1000x and a post-fork pool can
    # spin-wait (an observed 11 s for a 10 ms matmul in mapInPandas). One
    # BLAS thread per task is also the right shape on a real cluster.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Python workers inherit the JVM's PYTHONPATH. Without this root on
    # it they find the engine only through the working directory, and a
    # run started elsewhere fails every Python UDF with
    # ModuleNotFoundError. Set it before the JVM launches.
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [_ROOT] + [p for p in paths if p and p != _ROOT])
    builder = (
        SparkSession.builder
        .master(master or f"local[{_CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferWindowGroupLimit only rewrites rank-filters whose limit
        # is <= this threshold (default 1000). The bottom-k sketches
        # use k=16384 (ungrouped) / 4096 (grouped) — below the default
        # their row_number trims get NO map-side WindowGroupLimit
        # (Partial) and the level-0 exchange would ship the whole
        # input. 2^20 covers any sane sketch size; the rank-like
        # partial is a streaming counter over sorted input (O(1)
        # memory), so there is no cost to raising it.
        .config("spark.sql.optimizer.windowGroupLimitThreshold",
                str(1 << 20))
        # Fixture parquet stores TIMESTAMP(NANOS) which the Spark reader
        # rejects; read as long and let sources.tables restore timestamps
        # (truncated to micros, matching DuckDB's nanos handling).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_mem())
        # Whole-stage codegen emits a unique class per query; a long-lived
        # session running many distinct queries can fill HotSpot's default
        # code cache, silently disabling the JIT (~20x slowdowns late in a
        # benchmark run). Reserve enough for the full query sweep.
        # 1g: a 44-query suite of distinct codegen'd plans emits enough
        # JIT-compiled classes to exhaust 512m near the end of a run, at
        # which point HotSpot silently stops compiling and the last
        # queries run interpreted (observed 12x on the final query).
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing")
        # Spark's side of the same cost: CodeGenerator keeps compiled
        # classes in an LRU of this many entries (default 100, a static
        # conf). perfbench's plan_heavy pass (near_dup_production,
        # pagerank, shortest_paths at sf0.005) needs 173-176 classes
        # (71-74 + 48 + 54), so at 100 each query evicted the others'
        # classes and every warm pass recompiled 172 of them (~12 ms
        # each, ~2 s a pass); at 1024 a warm pass compiles 0, or 8 when
        # AQE picks a new variant of one shortest_paths stage.
        # taxi_etl needs 71. The largest one-query set in a
        # check_correctness.py pass is 64 classes; the whole pass
        # compiles ~3,350 at 100, ~2,470 at 1024 and ~2,400 at 4096,
        # with peak metaspace 188, 196 and 209 MB. 1024 is ~6x the
        # largest repeated set measured (4-core host).
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
