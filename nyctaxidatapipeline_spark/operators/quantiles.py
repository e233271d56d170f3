"""One quantile core under the percentile family.

The reference asks one quantile question (A7's ``approxQuantile`` p99,
``yellow_taxi_etl.py:121``); the engine asks it in many shapes —
winsorize bounds, anomaly thresholds, grouped percentiles, a sampled
summary, equidepth edges, the MAD location/scale, perplexity tertiles,
and the streaming sketch readers. Every one of them is a call to
:func:`quantiles` (or, for a state that already IS a sample,
:func:`sample_quantiles`; inside a wider aggregate, its buffer
:func:`percentile_buffer`), which is built from three low-level
operators and nothing else:

  * **one percentile buffer** (``exact`` / ``approx``): ONE aggregate
    per group over an ARRAY of percentages — every requested rank reads
    the same whole-group buffer (exact, interpolated ``F.percentile`` =
    DuckDB ``quantile_cont``) or the same mergeable Greenwald-Khanna
    sketch (``percentile_approx``, rank error <= 1/accuracy; with
    accuracy >= n the sketch stays uncompressed and returns the exact
    rank statistic = DuckDB ``quantile_disc``). N scalar aggregates
    each buffered the column separately (r15 measured ~2x);
  * **one bottom-k sampler** (``sketch``): the deterministic md5-rank
    sample of :mod:`~nyctaxidatapipeline_spark.operators.sketches`, its
    grouped and ungrouped forms sharing one salt/threshold resolver;
  * **one sorted-sample readout** (:func:`sample_quantiles`):
    ``sort_array(collect_list(v))`` per group, read at the discrete
    index ``ceil(q·n)`` — the only spelling of that boundary
    arithmetic, replayed verbatim by the DuckDB twins.

Output contract: the ``by`` columns plus ONE array column
:data:`QUANTILES` holding the requested quantiles in request order, so
callers index it (``F.col(QUANTILES)[i]``) and the percentages are
never re-buffered per rank.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The array column :func:`quantiles` returns — dunder-named so it never
#: collides with a caller's ``by`` column (ADVICE r15).
QUANTILES = "__quantiles__"


def sample_quantiles(sample: DataFrame, value: str, qs: Sequence[float],
                     by: Sequence[str] = ()) -> DataFrame:
    """The sorted-sample readout: per ``by`` group, the discrete
    quantiles of ``value`` over the sample's rows, as the ``by`` columns
    plus :data:`QUANTILES`.

    Quantile q is the element at 1-based index ``greatest(ceil(q·n),
    1)`` of the sorted array — the same double product the DuckDB twins
    spell, so the boundary cannot disagree across engines; this is the
    only spelling of that arithmetic (r13 review finding 4).
    ``try_element_at`` yields NULL rather than an ANSI
    INVALID_ARRAY_INDEX error on an EMPTY sample, matching DuckDB's NULL
    on an out-of-bounds list index (r13 review finding 1). NULL contract
    (ADVICE r13): ``collect_list`` drops NULL values from both the array
    and the effective n, so the quantiles are over the sampled NON-NULL
    values (all-NULL/empty → NULL); the twins spell it ``list(v) FILTER
    (WHERE v IS NOT NULL)`` with ``COUNT(v)``."""
    arr = F.col("_arr")
    n = F.size(arr)
    return (sample.groupBy(*by)
                  .agg(F.sort_array(F.collect_list(value)).alias("_arr"))
                  .select(*by, F.array(*[
                      F.try_element_at(arr, F.greatest(
                          F.ceil(F.lit(float(q)) * n).cast("int"),
                          F.lit(1)))
                      for q in qs]).alias(QUANTILES)))


def quantiles(df: DataFrame, value: str, qs: Sequence[float],
              by: Sequence[str] = (), mode: str = "exact",
              accuracy: int = 100,
              rank_cols: Sequence[str] | None = None,
              k: int = 16384,
              salt_buckets: int | None | str = "auto") -> DataFrame:
    """The ``qs`` quantiles of ``value`` per ``by`` group (one row when
    ``by`` is empty): the ``by`` columns plus :data:`QUANTILES`.

    ``mode='exact'``: interpolated percentiles from one whole-group
    buffer — oracle parity, not the 100 TB mode. ``mode='approx'``: the
    Greenwald-Khanna sketch at ``accuracy`` (bounded ~O(accuracy·log n)
    per group, merges map-side). ``mode='sketch'``: discrete quantiles
    of the deterministic bottom-``k`` md5-rank sample over
    ``rank_cols`` — one linear scan plus a config-bounded merge at any
    size, rank accuracy ±sqrt(q(1-q)/k), reproducible verbatim in
    DuckDB; ``salt_buckets`` picks the sampler's merge shape (see
    ``sketches.hash_sample_bottom_k`` — a pure physical choice)."""
    qs = [float(q) for q in qs]
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"qs must be floats in [0, 1], got {qs!r}")
    by = list(by)
    if mode == "sketch":
        from nyctaxidatapipeline_spark.operators.sketches import (
            grouped_hash_sample_bottom_k,
            hash_sample_bottom_k,
        )

        if not rank_cols:
            raise ValueError(
                "mode='sketch' needs rank_cols (integer/string key "
                "columns to hash — ideally a unique row key; duplicate "
                "keys are tolerated (ties break on the value, multiset "
                "deterministic) but turn the sample into a cluster "
                "sample, loosening the +-sqrt(q(1-q)/k) accuracy bound "
                "in proportion to the duplication rate)")
        if by:
            s = grouped_hash_sample_bottom_k(df, by, value, rank_cols, k,
                                             salt_buckets)
            return sample_quantiles(s, "_v", qs, by)
        s = hash_sample_bottom_k(df, rank_cols, [value], k, salt_buckets)
        return sample_quantiles(s, value, qs)
    return df.groupBy(*by).agg(
        percentile_buffer(value, qs, mode, accuracy).alias(QUANTILES))


def percentile_buffer(value: str, qs: Sequence[float], mode: str = "exact",
                      accuracy: int = 100) -> Column:
    """The one percentile buffer as an aggregate expression: the ``qs``
    quantiles of ``value`` as one array, for callers that compute them
    inside a wider aggregate (``mode`` ``exact`` or ``approx``, as in
    :func:`quantiles`)."""
    pct = F.array(*[F.lit(float(q)) for q in qs])
    if mode == "exact":
        return F.percentile(value, pct)
    if mode == "approx":
        return F.percentile_approx(value, pct, F.lit(accuracy))
    raise ValueError(f"mode must be exact|approx|sketch, got {mode!r}")


def named_percentiles(qdf: DataFrame, by: Sequence[str],
                      percentiles: Sequence[float]) -> DataFrame:
    """A :data:`QUANTILES` frame as the ``by`` columns plus one
    ``p50``-style column per percentile, rounded 6 dp with -0.0
    normalized — the grouped-percentile output contract shared by the
    batch operator and the streaming state reader."""
    return qdf.select(*by, *[
        (F.round(F.col(QUANTILES)[i], 6) + F.lit(0.0))
        .alias(f"p{int(p * 100)}") for i, p in enumerate(percentiles)])
