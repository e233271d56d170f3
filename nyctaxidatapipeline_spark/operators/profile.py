"""Data profiling — per-column statistics as a long table.

The pre-flight step of any large pipeline (null rates, cardinalities,
ranges drive cleaning rules and partition choices). One aggregate per
column unioned into a long frame: Catalyst executes the union of
single-row aggregates as parallel jobs over the same scan.

Scale: exact ``countDistinct`` per column is a distinct-shuffle each —
switch ``approx=True`` (HLL) for wide tables at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.reshape import grouped_percentiles


def profile_numeric(df: DataFrame, cols: Sequence[str],
                    approx: bool | str = False,
                    hll_b: int = 12) -> DataFrame:
    """(column, n, n_nulls, n_distinct, min, max, mean) per numeric col.

    ``approx`` picks the distinct-count engine:

    * ``False`` — exact ``countDistinct``: a distinct-shuffle of each
      column's values (the PLAN_METRICS census measured this as the
      query's entire shuffle volume) — the parity mode, wrong at
      100 TB for high-cardinality columns;
    * ``True`` — Spark's native ``approx_count_distinct`` (HLL++):
      bounded memory/shuffle, but engine-specific estimates (no oracle
      twin possible);
    * ``"hll"`` — the repo's PORTABLE HyperLogLog
      (``sketches.hll_registers``/``hll_finish``, ``2^hll_b``
      registers): same bounded O(m)-per-column shuffle as the native
      sketch, but bit-reproducible in the DuckDB twin. Values are
      canonicalized through ``DECIMAL(38,10)`` before hashing (both
      engines render that type identically; raw double→string is
      engine-dependent in the scientific-notation regime). Output
      gains ``est_mode`` and the estimate column is
      ``n_distinct_est`` (double).
    """
    if approx == "hll":
        return _profile_hll(df, cols, hll_b)
    if not (approx is False or approx is True):
        # ADVICE r12: any other string ("HLL", a typo) would fall
        # through to the exact countDistinct path SILENTLY — changing
        # both semantics and the data-sized shuffle the caller asked
        # to avoid. Identity, not equality (ADVICE r13): `approx in
        # (False, True)` admits 0/1/np.bool_, and the dispatch below
        # tests `approx is True` — approx=1 would silently run exact.
        raise ValueError(
            f"approx must be False, True, or 'hll', got {approx!r}")
    # NOTE (r15, measured): no fan_out here. The exact mode's cost is
    # the per-column countDistinct (distinct-shuffle + merge) — widening
    # the 1-task fixture scan measured 1.33 -> 1.65 s at sf0.1 (the
    # added exchange outweighs the parallel partials when the partial
    # can't collapse ~distinct values). The hll mode below DOES fan out
    # (md5-per-value is embarrassingly parallel: 3.64 -> 1.55 s).
    parts = []
    for c in cols:
        distinct = (F.approx_count_distinct(c) if approx is True
                    else F.countDistinct(c))
        # Mean via exact decimal sum: double summation is order-dependent
        # across engines/partitionings; a decimal sum is associative, so
        # the result is reproducible run-to-run (and oracle-comparable).
        dec_sum = F.sum(F.col(c).cast("decimal(38,10)")).cast("double")
        parts.append(df.agg(
            F.lit(c).alias("column"),
            F.count("*").alias("n"),
            F.sum(F.col(c).isNull().cast("long")).alias("n_nulls"),
            distinct.alias("n_distinct"),
            (F.round(F.min(c).cast("double"), 6) + F.lit(0.0)).alias("min_value"),
            (F.round(F.max(c).cast("double"), 6) + F.lit(0.0)).alias("max_value"),
            (F.round(dec_sum / F.count(F.col(c)), 6)
             + F.lit(0.0)).alias("mean_value")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _profile_hll(df: DataFrame, cols: Sequence[str],
                 hll_b: int) -> DataFrame:
    """The ``approx="hll"`` body — TWO scan passes total, not
    2-per-column: one wide aggregate computes every column's exact
    stats at once (unpivoted to the long shape by an
    explode-of-structs over the single broadcast row), and one
    exploded (column, canonical-value) pass feeds a SINGLE grouped
    register aggregate for all columns (``group_cols=["column"]``), so
    the md5 count is unchanged but the scan/agg count is constant in
    the column count. Results are identical to the per-column form —
    the estimator sees exactly the same (column, key) multiset.

    Shuffle note (ADVICE r15): the module docstring's "bounded
    O(m)-per-column shuffle" describes the REGISTER aggregate; the
    ``fan_out`` below additionally pays one data-sized exchange of the
    projected numeric columns whenever the input scan is narrower than
    the session parallelism (fixture scale: ~9 MB at sf0.1). At real
    scale the fan_out is a no-op and the bounded-register claim is the
    whole story. The repartition is keyless round-robin — retry-safe
    because Spark sorts before round-robin repartition
    (``spark.sql.execution.sortBeforeRepartition``, on by default);
    keying on the profiled value columns would risk skew on
    low-cardinality columns for no correctness gain (both downstream
    aggregates are order-independent)."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        hll_finish,
        hll_registers,
    )
    from nyctaxidatapipeline_spark.plans.util import fan_out

    # Same narrow-scan fan-out rationale as profile_numeric: both
    # passes below are per-row maps feeding order-independent
    # aggregates, and the md5-per-value register pass is the whole
    # cost of this mode.
    df = fan_out(df.select(*[F.col(c) for c in cols]))

    # pass 1 — every column's stats in one aggregate, then unpivot the
    # single row (broadcast-sized) into the long frame
    aggs = [F.count("*").alias("_n")]
    for i, c in enumerate(cols):
        dec_sum = F.sum(F.col(c).cast("decimal(38,10)")).cast("double")
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls{i}"),
            (F.round(F.min(c).cast("double"), 6)
             + F.lit(0.0)).alias(f"_min{i}"),
            (F.round(F.max(c).cast("double"), 6)
             + F.lit(0.0)).alias(f"_max{i}"),
            (F.round(dec_sum / F.count(F.col(c)), 6)
             + F.lit(0.0)).alias(f"_mean{i}"),
        ]
    wide = df.agg(*aggs)
    stats = wide.select(F.col("_n").alias("n"), F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(f"_nulls{i}").alias("n_nulls"),
                 F.col(f"_min{i}").alias("min_value"),
                 F.col(f"_max{i}").alias("max_value"),
                 F.col(f"_mean{i}").alias("mean_value"))
        for i, c in enumerate(cols)])).alias("_s")).select("n", "_s.*")

    # pass 2 — one stacked register aggregate over all columns; the
    # DECIMAL(38,10) canonicalization happens BEFORE the explode so
    # the estimator hashes the same bytes as the per-column form
    stacked = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(c).cast("decimal(38,10)").cast("string")
                  .alias("_key"))
        for c in cols])).alias("_e")).select("_e.*")
    est = hll_finish(
        hll_registers(stacked, F.col("_key"), ["column"], b=hll_b),
        ["column"], b=hll_b).select("column", "est_mode",
                                    "n_distinct_est")
    # LEFT join (≤ |cols| rows each side, broadcast): an all-NULL
    # column has NO register rows (COUNT DISTINCT semantics drop NULL
    # keys), so an inner join would silently drop its profile row —
    # diverging from the exact mode AND the DuckDB twin. The empty
    # sketch's principled estimate is the linear-counting branch with
    # every register empty: m·ln(m/m) = 0 distinct. The twin reaches
    # the same pair arithmetically (COALESCE(SUM(..), 0) feeds e_raw =
    # α·m ≤ 2.5m with v = m > 0 → 'linear', 0.0).
    order = F.array_position(
        F.array(*[F.lit(c) for c in cols]), F.col("column"))
    return (stats.join(F.broadcast(est), "column", "left")
                 .orderBy(order)
                 .select("column", "n", "n_nulls",
                         F.coalesce("est_mode", F.lit("linear"))
                          .alias("est_mode"),
                         (F.coalesce("n_distinct_est", F.lit(0.0))
                          + F.lit(0.0)).alias("n_distinct_est"),
                         "min_value", "max_value", "mean_value"))


def outliers_zscore(df: DataFrame, group_cols: Sequence[str],
                    value_col: str, k: float = 3.0) -> DataFrame:
    """Rows whose value lies beyond ``k`` population standard deviations
    of their group mean. Two passes: one grouped (mean, stddev_pop)
    aggregate (map-side combined — |groups| rows), joined back to the
    rows (broadcast when groups are few); the z-score itself is a
    projection. Groups with zero variance flag nothing.

    Output: input columns + (z_score) for flagged rows only.
    """
    stats = (df.groupBy(*group_cols)
               .agg(F.avg(value_col).alias("_mu"),
                    F.stddev_pop(value_col).alias("_sigma")))
    z = (F.col(value_col) - F.col("_mu")) / F.col("_sigma")
    return (df.join(stats, list(group_cols))
              .filter((F.col("_sigma") > 0) & (F.abs(z) > k))
              .withColumn("z_score", F.round(z, 6) + F.lit(0.0))
              .drop("_mu", "_sigma"))


def mad_outliers(df: DataFrame, group_cols: Sequence[str],
                 value_col: str, k: float = 3.5) -> DataFrame:
    """Robust per-group outliers by the modified z-score
    (Iglewicz–Hoaglin): |0.6745·(x − median)/MAD| > ``k``. Unlike
    ``outliers_zscore``, the median/MAD location-scale pair is itself
    insensitive to the outliers being hunted (a few extreme rows can
    inflate σ enough to mask themselves; they cannot move the median).

    Two sequential grouped EXACT medians (``grouped_percentiles``:
    median, then median absolute deviation) — inherently two shuffles,
    since the MAD depends on the first median; both produce |groups|
    rows that join back broadcast-sized. At 100 TB the medians take
    ``mode='approx'`` (the ``grouped_percentiles_approx`` pattern); the
    rest of the shape is unchanged. Medians/MAD round 6 dp so the flag
    predicate is engine-reproducible; groups with MAD = 0 (over half
    the rows at the median) flag nothing, NULL values are ignored by
    the percentiles and never flagged.

    Output: input columns + (median, mad, robust_z) for flagged rows.
    """
    gcols = list(group_cols)

    def median(frame: DataFrame, col: str, name: str) -> DataFrame:
        return (grouped_percentiles(frame, gcols, col, (0.5,))
                .withColumnRenamed("p50", name))

    dev = (df.join(median(df, value_col, "median"), gcols)
             .withColumn("_adev", F.abs(F.col(value_col)
                                        - F.col("median"))))
    mad = median(dev, "_adev", "mad")
    z = F.lit(0.6745) * (F.col(value_col) - F.col("median")) / F.col("mad")
    return (dev.join(mad, gcols)
               .filter(F.col("mad") > 0)
               .withColumn("robust_z", F.round(z, 6) + F.lit(0.0))
               .filter(F.abs(F.col("robust_z")) > k)
               .drop("_adev"))


def correlations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pearson correlation for every column pair — one global aggregate
    computing all C(n,2) ``corr`` measures in a single pass (no per-pair
    jobs, no driver loop over collect()ed stats).

    Output: (col_a, col_b, corr) via one stack/unpivot of the 1-row
    aggregate.
    """
    if len(cols) < 2:
        raise ValueError(
            f"correlations needs at least 2 columns, got {list(cols)}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    # Positional aliases + a struct-array unpivot: immune to column
    # names containing backticks or a separator colliding with real
    # columns (no string-formatted SQL).
    agg = df.agg(*[(F.round(F.corr(a, b), 6) + F.lit(0.0)).alias(f"_p{i}")
                   for i, (a, b) in enumerate(pairs)])
    rows = F.array(*[
        F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                 F.col(f"_p{i}").alias("corr"))
        for i, (a, b) in enumerate(pairs)])
    return (agg.select(F.explode(rows).alias("_r"))
               .select("_r.col_a", "_r.col_b", "_r.corr"))
