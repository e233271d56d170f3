"""Reshaping & multi-granularity aggregation: pivot, unpivot/melt,
cube/rollup, grouped percentiles, distinct counts.

Extension surface (SURVEY.md §2.4 notes the reference never uses distinct
aggregates, grouping sets, or pivot — these close that gap with pure
built-ins).

Scale notes:
  * ``pivot`` with an explicit value list compiles to one pass of CASE
    aggregates — no extra shuffle vs a plain groupBy (always pass the
    list; value discovery adds a distinct scan).
  * ``cube``/``rollup`` expand rows by the number of grouping sets BEFORE
    the shuffle — at 100 TB prefer rollup (d+1 sets) over cube (2^d).
  * ``approx_count_distinct`` is the scale path (HLL sketch, mergeable);
    exact ``countDistinct`` forces a per-key distinct shuffle and exists
    for oracle parity (same pattern as the A7 quantile modes).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyctaxidatapipeline_spark.operators.quantiles import (
    QUANTILES,
    named_percentiles,
    quantiles,
)
from nyctaxidatapipeline_spark.plans.util import local_frame


def pivot_agg(df: DataFrame, group_col: str, pivot_col: str,
              values: Sequence[str], agg_col: str,
              prefix: str = "") -> DataFrame:
    """One pivoted sum column per value (explicit value list → single-pass
    CASE aggregation, no discovery scan)."""
    out = (df.groupBy(group_col)
             .pivot(pivot_col, list(values))
             .sum(agg_col))
    for v in values:
        out = out.withColumnRenamed(str(v), f"{prefix}{v}")
    return out


def melt(df: DataFrame, id_cols: Sequence[str], value_cols: Sequence[str],
         var_name: str = "measure", value_name: str = "val") -> DataFrame:
    """Unpivot (wide → long), the inverse of pivot."""
    return df.melt(ids=list(id_cols), values=list(value_cols),
                   variableColumnName=var_name, valueColumnName=value_name)


def cube_agg(df: DataFrame, group_cols: Sequence[str],
             agg_exprs: Sequence) -> DataFrame:
    """CUBE over the grouping columns (all 2^d granularities, NULL rolls)."""
    return df.cube(*group_cols).agg(*agg_exprs)


def grouped_percentiles(df: DataFrame, group_cols: Sequence[str], col: str,
                        percentiles: Sequence[float] = (0.5, 0.95),
                        mode: str = "exact",
                        accuracy: int = 100,
                        rank_cols: Sequence[str] | None = None,
                        k: int = 4096,
                        salt_buckets: int | None | str = "auto"
                        ) -> DataFrame:
    """Per-group percentiles as ``p50``-style columns, rounded 6 dp —
    all requested ranks off ONE per-group ``quantiles`` aggregate.

    ``exact``: interpolated, oracle-parity with ``quantile_cont``.
    ``approx``: mergeable Greenwald-Khanna sketch — the 100 TB path
    (exact percentile buffers the whole group in one
    ObjectHashAggregate; the sketch is bounded at ~O(accuracy·log n)
    per group and merges map-side); rank error 1/accuracy, and with
    accuracy >= group size the result is the EXACT rank statistic
    (DuckDB ``quantile_disc``) — how the registered approx query keeps
    full hash parity at correctness scale while compressing for real at
    sf1 group sizes. ``sketch``: discrete percentiles over a per-group
    bottom-``k`` md5-rank sample on ``rank_cols``
    (``sketches.grouped_hash_sample_bottom_k``; ``salt_buckets`` picks
    its naive-window or salted-tree shape, bit-identical either way) —
    every group's state bounded at k rows, accuracy sqrt(q(1-q)/k),
    reproducible verbatim by the DuckDB twin."""
    if mode not in ("exact", "approx", "sketch"):
        raise ValueError(f"grouped_percentiles mode must be 'exact', "
                         f"'approx' or 'sketch', got {mode!r}")
    qdf = quantiles(df, col, percentiles, by=group_cols, mode=mode,
                    accuracy=accuracy, rank_cols=rank_cols, k=k,
                    salt_buckets=salt_buckets)
    return named_percentiles(qdf, group_cols, percentiles)


def distinct_counts(df: DataFrame, group_cols: Sequence[str], col: str,
                    mode: str = "exact") -> DataFrame:
    """Per-group distinct cardinality; ``approx`` = HLL sketch (rsd 5%)."""
    if mode not in ("exact", "approx"):
        raise ValueError(f"distinct_counts mode must be 'exact' or "
                         f"'approx', got {mode!r}")
    agg = (F.countDistinct(col) if mode == "exact"
           else F.approx_count_distinct(col))
    return (df.groupBy(*group_cols)
              .agg(agg.alias(f"n_distinct_{col}")))


def heavy_hitters(df: DataFrame, col: str, min_share: float = 0.01,
                  mode: str = "exact") -> DataFrame:
    """Values of ``col`` carrying at least ``min_share`` of all rows.

    ``exact`` is one hash aggregate + a 1-row total joined broadcast —
    at 100 TB that is a full shuffle of the distinct values (fine: the
    output is by definition ≤ 1/min_share rows, and partial aggregation
    collapses the hot keys map-side, which is exactly where heavy
    hitters live). ``approx`` uses Spark's one-pass ``freqItems``
    (a Karp-Papadimitriou-Shenker sketch): no shuffle of per-value
    counts, possible false positives, no counts/shares in the output —
    the candidate pre-filter for a second exact pass at extreme scale.

    Output (exact): (value, n, share) ordered nowhere — sort downstream.
    Output (approx): (value,) candidates only.
    """
    if mode not in ("exact", "approx"):
        raise ValueError(f"heavy_hitters mode must be 'exact' or "
                         f"'approx', got {mode!r}")
    if mode == "approx":
        row = df.freqItems([col], support=min_share).first()
        vals = row[f"{col}_freqItems"]
        spark = df.sparkSession
        # Explicit schema from the source column: no type can be
        # inferred from an empty candidate list, and inference from
        # Python values could drift from the column's real type.
        schema = T.StructType(
            [T.StructField("value", df.schema[col].dataType, True)])
        return local_frame(spark, [(v,) for v in vals], schema)
    total = df.agg(F.count("*").alias("_total"))
    return (df.groupBy(F.col(col).alias("value"))
              .agg(F.count("*").alias("n"))
              .crossJoin(F.broadcast(total))
              .filter(F.col("n") >= F.col("_total") * min_share)
              .select("value", "n",
                      F.round(F.col("n") / F.col("_total"), 6)
                       .alias("share")))


def histogram(df: DataFrame, col: str, bins: int = 20,
              mode: str = "equiwidth") -> DataFrame:
    """Binned distribution of a numeric column.

    ``equiwidth``: bin edges from the global (min, max) — one 1-row
    bounds aggregate broadcast into a projection, then one count
    aggregate; values at max land in the last bin (the standard
    closed-right convention). Output: (bin int, lo, hi, n) for occupied
    bins only.

    ``equidepth``: NTILE over (col, then arbitrary-but-total tiebreak is
    the caller's responsibility — pass a unique column via ``col`` tuple
    ordering upstream if ties matter) — equal-count buckets whose edges
    ARE the observed quantile boundaries. Output: (bin int, lo, hi, n).
    NTILE is one global-sort window: INTERACTIVE-ONLY — the 100 TB
    shape for the same question is
    :func:`equidepth_histogram_sketch` (bounded sample edges + one
    count aggregate; registered and oracle-gated); this exact mode is
    kept as its small-scale test oracle (VERDICT r13 task 8).
    """
    c = F.col(col)
    if mode == "equiwidth":
        bounds = F.broadcast(df.agg(F.min(c).alias("_lo"),
                                    F.max(c).alias("_hi")))
        width = (F.col("_hi") - F.col("_lo")) / bins
        bin_ = F.least(F.floor((c - F.col("_lo")) / width),
                       F.lit(bins - 1)).cast("int")
        return (df.crossJoin(bounds)
                  .select(F.when(F.col("_hi") == F.col("_lo"), 0)
                           .otherwise(bin_).alias("bin"),
                          F.col("_lo"), F.col("_hi"))
                  .groupBy("bin", "_lo", "_hi")
                  .agg(F.count("*").alias("n"))
                  .select("bin",
                          F.round(F.col("_lo")
                                  + F.col("bin")
                                  * (F.col("_hi") - F.col("_lo")) / bins,
                                  6).alias("lo"),
                          F.round(F.col("_lo")
                                  + (F.col("bin") + 1)
                                  * (F.col("_hi") - F.col("_lo")) / bins,
                                  6).alias("hi"),
                          "n"))
    if mode == "equidepth":
        from pyspark.sql import Window

        w = Window.orderBy(c)
        return (df.select(c.alias("_v"),
                          F.ntile(bins).over(w).alias("bin"))
                  .groupBy("bin")
                  .agg(F.round(F.min("_v"), 6).alias("lo"),
                       F.round(F.max("_v"), 6).alias("hi"),
                       F.count("*").alias("n")))
    raise ValueError(f"unknown mode {mode!r}")


def equidepth_histogram_sketch(df: DataFrame, col: str,
                               rank_cols: Sequence[str],
                               bins: int = 10,
                               k: int = 16384) -> DataFrame:
    """Equal-count histogram with SAMPLED quantile edges — the 100 TB
    shape for :func:`histogram`'s ``equidepth`` question (VERDICT r13
    task 8: this retires the package's last whole-corpus
    single-partition window from any registered plan; the exact NTILE
    mode stays as its small-scale test oracle).

    Three bounded stages, no global sort anywhere:

      1. edges from the deterministic bottom-k hash sample
         (:func:`~nyctaxidatapipeline_spark.operators.sketches.
         hash_sample_bottom_k` via ``quantiles(mode='sketch')`` — one
         linear scan; merge fan-in auto-bounded): edge_i = the
         sample's discrete (i/bins) quantile, so each edge carries the
         sketch's ±sqrt(q(1-q)/k) rank accuracy and is reproducible
         verbatim in DuckDB;
      2. the (bins-1)-element edge array broadcast into a projection
         (1-row IdentityBroadcastMode cross join — the repo's
         sanctioned scalar-BNLJ shape): ``bin = 1 + |{e : v > e}|``
         via a codegen'd array HOF, closed-right like the equiwidth
         mode;
      3. ONE count/min/max aggregate over ≤ ``bins`` groups.

    Output (bin int, lo, hi, n): lo/hi are the OBSERVED per-bin
    bounds (exact aggregates, 6-dp rounded), n the exact per-bin
    count — so counts are exact and only the edge PLACEMENT carries
    sampling error (bins off-target by ≤ ~k^-1/2 of total rows each).
    NULL values land in bin 1 with NULL-skipping lo/hi, identically
    in both engines (NULL comparisons drop out of the HOF filter in
    Spark and DuckDB alike). Ties across an edge go to the LOWER bin
    (v > e strict); duplicate edges (heavy ties in the sample) leave
    the intermediate bins empty rather than splitting a tie-group.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    edges = (quantiles(df, col, [i / bins for i in range(1, bins)],
                       mode="sketch", rank_cols=rank_cols, k=k)
             .select(F.col(QUANTILES).alias("_edges")))
    binned = (df.select(F.col(col).alias("_v"))
                .crossJoin(F.broadcast(edges))
                .select((F.lit(1) + F.size(F.filter(
                            "_edges", lambda e: F.col("_v") > e)))
                        .cast("int").alias("bin"),
                        "_v"))
    return (binned.groupBy("bin")
                  .agg((F.round(F.min("_v"), 6) + F.lit(0.0)).alias("lo"),
                       (F.round(F.max("_v"), 6) + F.lit(0.0)).alias("hi"),
                       F.count("*").alias("n")))
