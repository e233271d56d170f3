"""Plan-level helpers: oracle-comparison normalization, driver-held
local frames and plan inspection."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def round_doubles(df: DataFrame, ndigits: int = 6) -> DataFrame:
    """Round every DoubleType/FloatType column to ``ndigits``.

    Floating-point aggregation is order-sensitive; Spark sums partitions in
    shuffle order while the DuckDB oracle sums sequentially, so raw double
    aggregates can differ in the last few ulps. The differential harness
    rounds BOTH sides to the same precision (oracle SQL uses
    ``ROUND(x, n)``), making the value-hash comparison deterministic while
    still catching real errors (1e-6 ≪ any semantic difference).

    SIGNED ZERO: a tiny negative value rounds to ``-0.0`` under DuckDB's
    ``ROUND`` but ``+0.0`` under Spark's — numerically equal, byte-level
    different, so a byte-sensitive value hash flags a mismatch (this cost
    two rounds on ``embedding_covariance``). ``+ 0.0`` after the round
    canonicalizes: IEEE 754 ``-0.0 + 0.0 = +0.0`` on every engine. The
    oracle-SQL convention is the mirror image: ``ROUND(x, n) + 0.0``.
    """
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            cols.append((F.round(F.col(f.name).cast("double"), ndigits)
                         + F.lit(0.0)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def local_frame(spark, rows: list, schema: T.StructType | str) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples in ``schema``
    order) that plans as a JVM ``LocalRelation``.

    ``createDataFrame`` over a Python list pickles the rows into a
    ``parallelize`` RDD: every read of the frame then runs one
    Python-worker task per core, and the ``LogicalRDD`` it plans as has
    no size estimate, so joins against it plan as shuffles. Handing
    ``createDataFrame`` a ``pyarrow.Table`` typed from ``schema``
    instead ships the rows to the JVM once, as Arrow batches, and the
    plan carries the relation's exact size (so it can be broadcast).
    This path needs no Python worker and ignores
    ``spark.sql.execution.arrow.pyspark.enabled``.

    ``schema`` is a ``StructType`` or a DDL string. Values follow
    ``createDataFrame``'s conventions: dates and timestamps are
    converted by the Spark type's own ``toInternal`` (a naive
    ``datetime`` in a TIMESTAMP column is local time). An empty
    ``rows`` yields an empty frame with ``schema``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    width = len(schema.fields)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row needs {width} values "
                         f"({schema.simpleString()})")
    columns = list(zip(*rows)) if rows else [()] * width
    arrays = []
    for field, values in zip(schema.fields, columns):
        dt = field.dataType
        if dt.needConversion():
            values = [dt.toInternal(v) for v in values]
        arrays.append(pa.array(values, to_arrow_type(dt)))
    table = pa.Table.from_arrays(arrays, names=schema.names)
    return spark.createDataFrame(table, schema)


def input_scan_bytes(df: DataFrame) -> int | None:
    """Total bytes of the stat-able local files backing ``df``'s scan,
    or None when the plan isn't file-backed (in-memory frames, remote
    filesystems). The cheap size probe adaptive operators use to pick
    between small-corpus and at-scale strategies — same trust model as
    AQE's runtime sizing, but available at PLAN TIME for decisions that
    shape the DAG itself (e.g. whether a reused intermediate is worth
    materializing)."""
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files or not all(f.startswith("file:") for f in files):
        return None
    try:
        return sum(os.stat(unquote(urlparse(f).path)).st_size
                   for f in files)
    except OSError:
        return None


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Widen a narrow scan to the cluster's parallelism before CPU-heavy
    per-row work (regex tokenize, shingle explode, per-vector math).

    A small parquet input (one row group) plans as ONE task, serializing
    e.g. tokenization on a single core while the other 31 idle. The
    shuffle this inserts moves only the raw input bytes — trivial next to
    the downstream explode/hash work — and when the scan already has
    >= defaultParallelism partitions (any real-scale input) it is an
    exact no-op, so the 100 TB plan is unchanged. Hash-partitioning on
    ``key_cols`` (when given) keeps the placement deterministic across
    retries, unlike round-robin ``repartition()``.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Cheap width probe first: for local file-backed plans (every
    # production call site — fan_out wraps freshly-scanned corpora),
    # estimate the scan's partition count with Spark's own
    # FilePartition bin-packing formula over the stat'ed file sizes.
    # The raw file COUNT is NOT a bound in either direction — Spark
    # merges many small files into few partitions (openCostInBytes
    # packing: 100 tiny files on 32 cores scan as ~4 tasks) and splits
    # large files into many — so the previous len(files) probe silently
    # skipped the repartition in exactly the many-small-files case this
    # helper exists to fix. The old exact probe
    # (df.rdd.getNumPartitions()) forced a FULL analysis +
    # physical-planning pass through the RDD conversion path on every
    # call — pure driver overhead, paid again at execution — so it
    # remains only the fallback for plans we can't stat (in-memory
    # frames, remote filesystems).
    n_parts = _estimated_scan_partitions(df, target)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
    if n_parts >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def _estimated_scan_partitions(df: DataFrame, target: int) -> int | None:
    """Lower-bound estimate of a file-backed scan's task count, or None
    when the plan isn't backed by stat-able local files.

    Mirrors Spark's ``FilePartition.maxSplitBytes`` packing: each file
    is padded by ``spark.sql.files.openCostInBytes``, the split size is
    ``min(maxPartitionBytes, max(openCost, paddedTotal/parallelism))``,
    and files pack greedily into bins. Admission tests the RAW length
    but the bin then also absorbs the openCost pad, so a bin's padded
    content can reach ``splitSize + openCost`` — hence the safe lower
    bound is ``ceil(paddedTotal / (splitSize + openCost))`` (measured:
    est 25 = actual 25 for 100 tiny files on 32 cores). A lower bound
    makes the ``>= target`` skip decision safe: we only skip the
    repartition when the scan is provably wide enough.
    """
    import math
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files or not all(f.startswith("file:") for f in files):
        return None
    try:
        sizes = [os.stat(unquote(urlparse(f).path)).st_size
                 for f in files]
    except OSError:
        return None
    jutils = df.sparkSession._jvm.org.apache.spark.util.Utils  # noqa: SLF001
    conf = df.sparkSession.conf
    max_pb = jutils.byteStringAsBytes(
        conf.get("spark.sql.files.maxPartitionBytes"))
    open_cost = jutils.byteStringAsBytes(
        conf.get("spark.sql.files.openCostInBytes"))
    padded = sum(sizes) + len(sizes) * open_cost
    split = min(max_pb, max(open_cost, padded / max(target, 1)))
    return (math.ceil(padded / (split + open_cost))
            if split + open_cost else len(files))


def build_concurrently(session, *builders):
    """Run independent DataFrame-builders on driver threads and return
    their results in order — the guide-§2.6 "overlap independent jobs"
    pattern for compositions whose arms execute driver ACTIONS during
    plan construction (lineage-pin localCheckpoints, sizing counts,
    convergence probes). Built sequentially, each arm's jobs leave the
    cluster idle for the other's; two driver threads overlap them. The
    returned plans are identical to sequential construction — only the
    wall-clock of building them changes. Every thread finishes before
    this returns; the first failure in argument order is raised.

    Uses ``inheritable_thread_target`` (the documented way to inherit
    JVM-thread-local properties such as job descriptions/tags in
    pinned-thread mode); falls back to plain threads when the wrapper
    is unavailable (pinned-thread mode off)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    try:
        wrap = inheritable_thread_target(session)
        wrapped = [wrap(b) for b in builders]
    except TypeError:
        wrapped = list(builders)
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futures = [pool.submit(w) for w in wrapped]
        return [f.result() for f in futures]


def data_sized_bnljs(plan: str) -> list[str]:
    """Lines of BroadcastNestedLoopJoins whose build side is NOT a
    1-row scalar broadcast.

    The repo's only sanctioned BNLJ shape is the bounds/threshold
    pattern: a global aggregate (``keys=[]`` → exactly one row)
    broadcast with ``IdentityBroadcastMode`` and cross-joined into a
    projection. That shape is O(n·1) — indistinguishable from a scalar
    subquery — and composed queries may legitimately stack many of
    them. What must NEVER appear is a BNLJ whose build side is a
    data-sized relation (a scan/filter/keyed aggregate): that is an
    O(n·m) nested loop that dies at scale.

    This classifier walks the ``explain("simple")`` tree text: for each
    BNLJ node it locates the build-side child (the last child for
    ``BuildRight``, the first for ``BuildLeft``) and accepts it only if
    that child is a broadcast exchange (or a ReusedExchange of one)
    whose topmost aggregate is global (``keys=[]``). Everything else is
    returned for the caller to fail on.
    """
    import re

    lines = plan.splitlines()

    def connector_col(line: str) -> int | None:
        m = re.match(r"^([ :]*)[:+]- ", line)
        return len(m.group(1)) if m else None

    bad = []
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        col = connector_col(line)
        child_col = (col + 3) if col is not None else 0
        build_conn = ":- " if "BuildLeft" in line else "+- "
        build_idx = None
        for j in range(i + 1, len(lines)):
            cj = connector_col(lines[j])
            if cj is None or cj < child_col:
                break
            if cj == child_col and lines[j][cj:cj + 3] == build_conn:
                build_idx = j
                if build_conn == "+- ":
                    break  # BuildRight: last child — first `+-` at depth
                else:
                    break  # BuildLeft: first child — first `:-` at depth
        if build_idx is None:
            bad.append(line.strip())
            continue
        build_line = lines[build_idx]
        reused = "ReusedExchange" in build_line
        if "BroadcastExchange" not in build_line and not reused:
            bad.append(line.strip())
            continue
        if reused:
            # The reused exchange was (or will be) classified at its
            # original site; shape-wise it duplicates that verdict.
            continue
        # First aggregate inside the build subtree must be global.
        ok = False
        for j in range(build_idx + 1, len(lines)):
            cj = connector_col(lines[j])
            if cj is None or cj <= child_col:
                break
            m = re.search(r"Aggregate(?:\w*)?\(keys=\[(.*?)\]", lines[j])
            if m:
                ok = m.group(1).strip() == ""
                break
        if not ok:
            bad.append(line.strip())
    return bad


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (what ``df.explain`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode)
