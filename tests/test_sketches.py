"""HyperLogLog sketch: register parity vs a Python reference, accuracy
bounds, mergeability, determinism."""

import hashlib
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.sketches import (
    hll_alpha,
    hll_distinct,
    hll_registers,
)


def _ref_registers(keys, b):
    """Reference sketch: same md5-prefix hash, same rho."""
    m, width = 1 << b, 32 - b
    regs = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
        bucket, w = h % m, h // m
        rho = (width + 1 - w.bit_length()) if w > 0 else width + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def test_registers_match_python_reference(spark):
    keys = list(range(1, 301))
    df = spark.createDataFrame([Row(g="a", k=k) for k in keys])
    got = {r.bucket: r.M
           for r in hll_registers(df, F.col("k"), ["g"], b=6).collect()}
    assert got == _ref_registers(keys, 6)


def test_estimate_within_theory_bounds(spark):
    """b=10 -> se ~ 1.04/32 = 3.25%; assert within 4 sigma of truth."""
    n = 5000
    df = spark.createDataFrame([Row(g="x", k=f"key-{i}") for i in range(n)]
                               + [Row(g="x", k=f"key-{i}")  # dups ignored
                                  for i in range(500)])
    est = hll_distinct(df, "k", ["g"], b=10).collect()[0]
    assert abs(est.n_distinct_est - n) / n < 4 * 1.04 / math.sqrt(1024)


def test_small_range_uses_linear_counting(spark):
    df = spark.createDataFrame([Row(g="s", k=i) for i in range(10)])
    est = hll_distinct(df, "k", ["g"], b=6).collect()[0]
    assert est.est_mode == "linear"
    v = 64 - est.n_buckets
    assert est.n_distinct_est == round(64.0 * math.log(64.0 / v), 6)


def test_registers_merge_by_max(spark):
    """Union sketch == max of per-corpus sketches (the mergeability
    that makes the 100 TB shuffle O(groups x m))."""
    a = spark.createDataFrame([Row(g="m", k=i) for i in range(150)])
    b_ = spark.createDataFrame([Row(g="m", k=i) for i in range(100, 250)])
    ra = {r.bucket: r.M for r in hll_registers(a, F.col("k"), ["g"]).collect()}
    rb = {r.bucket: r.M for r in hll_registers(b_, F.col("k"), ["g"]).collect()}
    merged = {bk: max(ra.get(bk, 0), rb.get(bk, 0)) for bk in set(ra) | set(rb)}
    ru = {r.bucket: r.M
          for r in hll_registers(a.unionByName(b_), F.col("k"),
                                 ["g"]).collect()}
    assert ru == merged


def test_estimate_repartition_invariant(spark):
    df = spark.createDataFrame([Row(g=f"g{i % 3}", k=f"u{i}")
                                for i in range(900)])
    one = {(r.event_type if hasattr(r, "event_type") else r.g):
           (r.n_buckets, r.est_mode, r.n_distinct_est)
           for r in hll_distinct(df, "k", ["g"], b=6).collect()}
    many = {r.g: (r.n_buckets, r.est_mode, r.n_distinct_est)
            for r in hll_distinct(df.repartition(13), "k", ["g"],
                                  b=6).collect()}
    assert one == many


def test_nulls_dropped_and_b_validated(spark):
    df = spark.createDataFrame([Row(g="n", k=None), Row(g="n", k=1)])
    est = hll_distinct(df, "k", ["g"], b=6).collect()[0]
    assert est.n_buckets == 1
    with pytest.raises(ValueError):
        hll_registers(df, F.col("k"), ["g"], b=2)


def test_alpha_constants():
    assert hll_alpha(64) == 0.709
    assert abs(hll_alpha(1024) - 0.7213 / (1.0 + 1.079 / 1024)) < 1e-15


# --- wide-hash (60-bit) mode -------------------------------------------


def _ref_registers_wide(keys, b):
    """Reference wide sketch: 15 md5 hex chars = 60-bit hash."""
    m, width = 1 << b, 60 - b
    regs = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        bucket, w = h % m, h // m
        rho = (width + 1 - w.bit_length()) if w > 0 else width + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def test_wide_registers_match_python_reference(spark):
    keys = [f"user-{i}" for i in range(1, 401)]
    df = spark.createDataFrame([Row(g="w", k=k) for k in keys])
    got = {r.bucket: r.M
           for r in hll_registers(df, F.col("k"), ["g"], b=10,
                                  hash_bits=60).collect()}
    assert got == _ref_registers_wide(keys, 10)


def test_wide_estimate_within_theory_bounds(spark):
    """b=10 at 60 bits -> same se ~ 1.04/32 = 3.25%; within 4 sigma."""
    n = 5000
    df = spark.createDataFrame([Row(g="x", k=f"key-{i}") for i in range(n)]
                               + [Row(g="x", k=f"key-{i}")  # dups ignored
                                  for i in range(500)])
    est = hll_distinct(df, "k", ["g"], b=10, hash_bits=60).collect()[0]
    assert abs(est.n_distinct_est - n) / n < 4 * 1.04 / math.sqrt(1024)


def test_wide_scaled_sum_bounds_and_int64_safety():
    """The scaled-integer register sum's worst case is m * 2^(width+1)
    = 2^(hash_bits+1) — 2^61 at 60 bits: inside int64 (no overflow in
    either engine) for every supported (b, hash_bits), and POW(2, M)
    is double-exact at every M in range (a power of two has a one-bit
    mantissa, so CAST(POW(2, M) AS BIGINT) can never round)."""
    for hash_bits in (32, 60):
        for b in range(4, 17):
            width = hash_bits - b
            worst = (1 << b) * (1 << (width + 1))
            assert worst == 1 << (hash_bits + 1) < 1 << 63
            for m_reg in range(1, width + 2):
                assert int(float(2 ** m_reg)) == 2 ** m_reg


def test_wide_matches_narrow_semantics_and_validates(spark):
    """Same estimator structure: a tiny group lands in linear-counting
    mode with the exact m-scaled formula; bad hash_bits rejected."""
    df = spark.createDataFrame([Row(g="s", k=i) for i in range(10)])
    est = hll_distinct(df, "k", ["g"], b=10, hash_bits=60).collect()[0]
    assert est.est_mode == "linear"
    v = 1024 - est.n_buckets
    assert est.n_distinct_est == round(1024.0 * math.log(1024.0 / v), 6)
    with pytest.raises(ValueError, match="hash_bits"):
        hll_registers(df, F.col("k"), ["g"], b=6, hash_bits=48)


# --- KMV (bottom-k / Theta family) ------------------------------------


def _ref_bottom_k(keys, k):
    hs = sorted({int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16)
                 for x in keys})
    return hs[:k]


def test_kmv_sketch_matches_python_reference(spark):
    from nyctaxidatapipeline_spark.operators.sketches import kmv_sketch
    df = spark.createDataFrame([Row(g="a", k=i % 200) for i in range(600)])
    got = kmv_sketch(df, "k", "g", k=32).collect()[0]
    assert list(got.hs) == _ref_bottom_k(range(200), 32)


def test_kmv_distinct_exact_below_k(spark):
    from nyctaxidatapipeline_spark.operators.sketches import (
        kmv_distinct,
        kmv_sketch,
    )
    df = spark.createDataFrame([Row(g="a", k=i) for i in range(40)])
    est = kmv_distinct(kmv_sketch(df, "k", "g", k=256), "g",
                       k=256).collect()[0]
    assert est.n_distinct_est == 40.0  # sketch holds the whole set


def test_kmv_distinct_estimator_accuracy(spark):
    from nyctaxidatapipeline_spark.operators.sketches import (
        kmv_distinct,
        kmv_sketch,
    )
    n, k = 20000, 512
    df = spark.createDataFrame([Row(g="a", k=f"user-{i}") for i in range(n)])
    est = kmv_distinct(kmv_sketch(df, "k", "g", k=k), "g", k=k).collect()[0]
    assert abs(est.n_distinct_est - n) / n < 4 / math.sqrt(k)


def test_kmv_overlap_recovers_planted_jaccard(spark):
    """Two groups sharing exactly half their users: J = 1/3."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        kmv_overlap,
        kmv_sketch,
    )
    rows = ([Row(g="a", k=f"u{i}") for i in range(2000)]
            + [Row(g="b", k=f"u{i}") for i in range(1000, 3000)])
    sk = kmv_sketch(spark.createDataFrame(rows), "k", "g", k=256)
    ov = kmv_overlap(sk, "g", k=256).collect()[0]
    assert (ov.ga, ov.gb) == ("a", "b") and ov.k_used == 256
    assert abs(ov.jaccard_est - 1 / 3) < 0.12          # 4 sigma-ish
    assert abs(ov.intersection_est - 1000) / 1000 < 0.35
    assert abs(ov.union_est - 3000) / 3000 < 0.25


def test_kmv_overlap_exact_for_small_sets(spark):
    from nyctaxidatapipeline_spark.operators.sketches import (
        kmv_overlap,
        kmv_sketch,
    )
    rows = ([Row(g="a", k=i) for i in range(10)]
            + [Row(g="b", k=i) for i in range(5, 20)])
    sk = kmv_sketch(spark.createDataFrame(rows), "k", "g", k=256)
    ov = kmv_overlap(sk, "g", k=256).collect()[0]
    # union of 20, intersection of 5 — sketches hold the full sets
    assert (ov.k_used, ov.union_est, ov.intersection_est) == (20, 20.0, 5.0)
    assert ov.jaccard_est == 0.25


def test_kmv_validates_k(spark):
    from nyctaxidatapipeline_spark.operators.sketches import kmv_sketch
    df = spark.createDataFrame([Row(g="a", k=1)])
    with pytest.raises(ValueError):
        kmv_sketch(df, "k", "g", k=1)


# --- Count-Min (frequency sketch) --------------------------------------


def test_cms_estimate_dominates_exact_counts(spark):
    """CMS guarantee: est >= exact always; with w >> distinct keys the
    estimate is exact (no collisions to inflate it)."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        cms_counters,
        cms_lookup,
    )
    rows = ([Row(k="alpha")] * 50 + [Row(k="beta")] * 20
            + [Row(k="gamma")] * 3)
    df = spark.createDataFrame(rows)
    counters = cms_counters(df, F.col("k"), w=4096, d=4)
    got = {r.key: r.est_count
           for r in cms_lookup(spark, counters,
                               ["alpha", "beta", "gamma", "absent"],
                               w=4096, d=4).collect()}
    assert got["alpha"] == 50 and got["beta"] == 20 and got["gamma"] == 3
    assert got["absent"] == 0


def test_cms_overestimates_only_under_collisions(spark):
    """Tiny width forces collisions: estimates stay >= truth."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        cms_counters,
        cms_lookup,
    )
    rows = [Row(k=f"key-{i % 37}") for i in range(370)]
    df = spark.createDataFrame(rows)
    counters = cms_counters(df, F.col("k"), w=8, d=3)
    got = cms_lookup(spark, counters, [f"key-{i}" for i in range(37)],
                     w=8, d=3).collect()
    assert all(r.est_count >= 10 for r in got)


def test_cms_counters_merge_by_sum(spark):
    """Union sketch == counter-wise sum of member sketches."""
    from nyctaxidatapipeline_spark.operators.sketches import cms_counters
    a = spark.createDataFrame([Row(k=f"u{i % 11}") for i in range(100)])
    b = spark.createDataFrame([Row(k=f"u{i % 7}") for i in range(50)])
    ca = {(r.r, r.c): r.cnt
          for r in cms_counters(a, F.col("k"), w=64, d=3).collect()}
    cb = {(r.r, r.c): r.cnt
          for r in cms_counters(b, F.col("k"), w=64, d=3).collect()}
    want = {rc: ca.get(rc, 0) + cb.get(rc, 0) for rc in set(ca) | set(cb)}
    cu = {(r.r, r.c): r.cnt
          for r in cms_counters(a.unionByName(b), F.col("k"),
                                w=64, d=3).collect()}
    assert cu == want


def test_cms_validates_params(spark):
    from nyctaxidatapipeline_spark.operators.sketches import cms_counters
    df = spark.createDataFrame([Row(k="x")])
    with pytest.raises(ValueError):
        cms_counters(df, F.col("k"), w=1, d=4)


def test_hash_sample_quantile_accuracy_and_determinism(spark):
    """The bottom-k hash-sample quantile sits within the documented
    sampling error of the exact rank statistic, and is IDENTICAL
    across partitionings / row orders (the determinism the oracle
    twin relies on)."""
    from nyctaxidatapipeline_spark.operators.analytics import (
        quantile_threshold,
    )

    n = 5000
    df = spark.createDataFrame(
        [Row(id=i, v=float((i * 7919) % n)) for i in range(n)])
    got = quantile_threshold(df, "v", 0.9, mode="sketch", rank_cols=["id"],
                             sample_k=1024).collect()[0]["threshold"]
    # true p90 of 0..n-1 is ~4500; sampling error ~sqrt(.09/1024)≈0.9%
    # of rank -> ±~3.5 sigma bound of 160 on the value scale
    assert abs(got - 4500.0) < 160
    again = quantile_threshold(
        df.repartition(13).orderBy(F.rand(seed=1)), "v", 0.9,
        mode="sketch", rank_cols=["id"],
        sample_k=1024).collect()[0]["threshold"]
    assert again == got
    # k >= n degenerates to the exact discrete quantile
    exact = quantile_threshold(df, "v", 0.9, mode="sketch", rank_cols=["id"],
                               sample_k=n).collect()[0]["threshold"]
    assert exact == 4499.0  # ceil(0.9*5000)=4500th smallest = 4499.0


def test_hash_sample_bottom_k_is_mergeable(spark):
    """bottom_k(A ∪ B) == bottom_k(bottom_k(A) ∪ bottom_k(B)) — the
    fixed global md5 rank makes partial sketches losslessly
    combinable, the property that lets per-partition/per-day sketches
    merge without revisiting rows."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_bottom_k,
    )

    a = spark.createDataFrame([Row(id=i, v=float(i))
                               for i in range(0, 400)])
    b = spark.createDataFrame([Row(id=i, v=float(i))
                               for i in range(400, 900)])
    k = 64
    direct = {(r._rk, r.v) for r in hash_sample_bottom_k(
        a.unionByName(b), ["id"], ["v"], k).collect()}
    pa = hash_sample_bottom_k(a, ["id"], ["v"], k)
    pb = hash_sample_bottom_k(b, ["id"], ["v"], k)
    merged = {(r._rk, r.v) for r in
              pa.unionByName(pb).orderBy("_rk", "v").limit(k).collect()}
    assert merged == direct and len(direct) == k


def test_hash_sample_rank_ties_break_on_value(spark):
    """Duplicate rank keys (the sf0.01 lineitem fixture shape) cannot
    make the sampled value multiset flap: ties order by the payload,
    so truncation at k keeps a deterministic multiset."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_bottom_k,
    )

    # every row shares ONE rank key; values force the tie-break
    df = spark.createDataFrame([Row(id=1, v=float(99 - i))
                                for i in range(100)])
    for seed in (1, 2):
        got = sorted(r.v for r in hash_sample_bottom_k(
            df.repartition(7).orderBy(F.rand(seed=seed)),
            ["id"], ["v"], 10).collect())
        assert got == [float(x) for x in range(10)]


def test_grouped_hash_sample_percentiles_contract(spark):
    """Grouped sketch percentiles: per-group columns p50/p95, exact
    discrete quantiles when k >= group size, deterministic under
    reshuffling."""
    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )

    rows = [Row(g="a", id=i, v=float(i)) for i in range(100)] + \
           [Row(g="b", id=1000 + i, v=float(10 * i)) for i in range(50)]
    df = spark.createDataFrame(rows)
    got = {r.g: (r.p50, r.p95) for r in grouped_percentiles(
        df, ["g"], "v", (0.5, 0.95), mode="sketch", rank_cols=["id"],
        k=4096).collect()}
    # k >= group sizes -> exact: a: ceil(.5*100)=50th -> 49.0,
    # ceil(.95*100)=95th -> 94.0 ; b: 25th -> 240.0, ceil(47.5)=48th -> 470.0
    assert got == {"a": (49.0, 94.0), "b": (240.0, 470.0)}
    again = {r.g: (r.p50, r.p95) for r in grouped_percentiles(
        df.repartition(11).orderBy(F.rand(seed=3)), ["g"], "v",
        (0.5, 0.95), mode="sketch", rank_cols=["id"], k=4096).collect()}
    assert again == got


def test_grouped_percentiles_salted_two_phase_identity(spark):
    """The r11 two-phase salted bottom-k (VERDICT r10 item 1) yields
    the EXACT sample of the logical single-window form: k smaller
    than group sizes (so truncation actually bites), compared against
    an inline single-window reference."""
    from pyspark.sql import Window

    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_rank,
    )

    rows = [Row(g="a", id=i, v=float((i * 37) % 1000))
            for i in range(500)] + \
           [Row(g="b", id=10_000 + i, v=float((i * 13) % 700))
            for i in range(300)]
    df = spark.createDataFrame(rows).repartition(9)
    k = 64
    got = {r.g: (r.p50, r.p95)
           for r in grouped_percentiles(
               df, ["g"], "v", (0.5, 0.95), mode="sketch",
               rank_cols=["id"], k=k, salt_buckets=8).collect()}
    # logical single-window reference (the shape the DuckDB twin spells)
    w = Window.partitionBy("g").orderBy("_rk", "_v")
    ref_s = (df.select("g", F.col("v").alias("_v"),
                       hash_sample_rank(["id"]).alias("_rk"))
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= k))
    ref_agg = ref_s.groupBy("g").agg(
        F.sort_array(F.collect_list("_v")).alias("arr"))
    ref = {}
    for r in ref_agg.collect():
        arr, n = r.arr, len(r.arr)
        ref[r.g] = tuple(
            round(arr[max(math.ceil(p * n), 1) - 1], 6) + 0.0
            for p in (0.5, 0.95))
    assert got == ref


def test_grouped_percentiles_plan_has_no_whole_group_window(spark):
    """Scale-shape pin for the TREE form (forced via an int salt —
    r15: the default is "auto", which correctly picks the naive
    single window on a frame this small): the FIRST window (the one
    over the full scan) partitions by (group, _salt) — never by the
    group key alone — and the group-only window runs only over the
    phase-1 survivors (a Filter on _rn1 sits between the two
    windows)."""
    import re

    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )
    from nyctaxidatapipeline_spark.plans import explain_str

    df = spark.createDataFrame([Row(g="a", id=1, v=1.0)])
    plan = explain_str(grouped_percentiles(
        df, ["g"], "v", (0.5,), mode="sketch", rank_cols=["id"], k=4,
        salt_buckets=8))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert len(specs) == 2, plan
    # formatted explain lists nodes in execution order: the full-scan
    # window first (salted), the survivor window second (group-only)
    assert "_salt" in specs[0], specs[0]
    assert "_salt" not in specs[1], specs[1]


def test_hash_sample_rank_null_keys_stay_distinct(spark):
    """ADVICE r10: concat_ws silently skips NULLs, collapsing
    (1, NULL) and (NULL, 1) onto one rank. The coalesce-to-NUL
    sentinel keeps them distinct and matches the DuckDB
    COALESCE(..., chr(0)) twin byte-for-byte."""
    import duckdb

    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_rank,
    )

    df = spark.createDataFrame(
        [Row(a=1, b=None), Row(a=None, b=1), Row(a=1, b=2)],
        schema="a int, b int")
    got = sorted(r.rk for r in df.select(
        hash_sample_rank(["a", "b"]).alias("rk")).collect())
    assert len(set(got)) == 3  # no collapse
    ref = sorted(r[0] for r in duckdb.sql("""
        SELECT md5(COALESCE(CAST(a AS VARCHAR), chr(0)) || ':' ||
                   COALESCE(CAST(b AS VARCHAR), chr(0)))
        FROM (VALUES (1, NULL), (NULL, 1), (1, 2)) t(a, b)
    """).fetchall())
    assert got == ref


def test_grouped_percentiles_salt_bucket_invariance(spark):
    """The salt count is a pure physical knob: ANY salt_buckets value
    (including 1, which degenerates to the single-window form) yields
    the identical percentile output — duplicate rank keys included
    (same _rk → same salt, so tie-groups never split)."""
    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )

    rows = ([Row(g="a", id=i % 37, v=float((i * 31) % 500))
             for i in range(300)] +          # duplicated rank keys
            [Row(g="b", id=50 + (i % 11), v=float(i))
             for i in range(120)])
    df = spark.createDataFrame(rows).repartition(7)
    results = []
    for s_b in (1, 2, 7, 32):
        got = {r.g: (r.p50, r.p95)
               for r in grouped_percentiles(
                   df, ["g"], "v", (0.5, 0.95), mode="sketch",
                   rank_cols=["id"], k=32, salt_buckets=s_b).collect()}
        results.append(got)
    assert all(r == results[0] for r in results[1:]), results


def test_bottom_k_tree_merge_identity(spark):
    """The r13 salted tree merge (VERDICT r12 task 1) is bit-identical
    to the naive ``orderBy(rank).limit(k)`` single-merge form at ANY
    salt count — duplicate rank keys, NULL payloads and repartitioned
    input included (equal ranks share a salt; ties on (rank, payload)
    are interchangeable rows)."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_bottom_k,
    )

    rows = ([Row(id=i % 211, v=float((i * 31) % 500))
             for i in range(900)] +          # duplicated rank keys
            [Row(id=1000 + i, v=None) for i in range(40)])
    df = spark.createDataFrame(rows, schema="id int, v double") \
              .repartition(11)
    k = 128
    naive = [tuple(r) for r in hash_sample_bottom_k(
        df, ["id"], ["v"], k, salt_buckets=None).collect()]
    assert len(naive) == k
    for s_b in (1, 4, 32):
        tree = [tuple(r) for r in hash_sample_bottom_k(
            df, ["id"], ["v"], k, salt_buckets=s_b).collect()]
        assert tree == naive, s_b


def test_bottom_k_tree_plan_and_fan_in_bounded(spark):
    """Scale-shape pin for the tree merge: (a) the plan carries a
    map-side ``WindowGroupLimit(Partial)`` BELOW each of the two
    exchanges (per-task trim to k rows before any shuffle — the
    property Spark could silently regress on), ends in ONE
    TakeOrderedAndProject, and the first window partitions by _pid,
    the second by _salt; (b) executed, the final single-partition
    merge receives <= salt_buckets * k rows (SQLMetrics, not
    construction)."""
    import re

    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_bottom_k,
    )
    from nyctaxidatapipeline_spark.plans import explain_str

    df = (spark.range(0, 20_000)
               .select(F.col("id").cast("int").alias("id"),
                       (F.col("id") % 997).cast("double").alias("v"))
               .repartition(13))
    k, s_b = 50, 4
    sample = hash_sample_bottom_k(df, ["id"], ["v"], k, salt_buckets=s_b)

    plan = explain_str(sample)
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", plan)) == 1, plan
    assert len(re.findall(r"row_number\(\), %d, Partial" % k, plan)) == 2, \
        plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert len(specs) == 2 and "_pid" in specs[0] and "_salt" in specs[1], \
        specs

    # executed fan-in: walk the AQE final plan from the
    # TakeOrderedAndProject down to the first node exposing
    # numOutputRows — everything below the final merge is already
    # salt-trimmed, so its output must be <= s_b * k
    qe = sample._jdf.queryExecution()
    qe.toRdd().count()

    def _children(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return [node.executedPlan()]
        if name.endswith("QueryStageExec"):
            return [node.plan()]
        it, out = node.children().iterator(), []
        while it.hasNext():
            out.append(it.next())
        return out

    def _find(node, cls):
        if node.getClass().getSimpleName() == cls:
            return node
        for c in _children(node):
            hit = _find(c, cls)
            if hit is not None:
                return hit
        return None

    def _rows_metric(node):
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                return kv._2().value()
        for c in _children(node):
            got = _rows_metric(c)
            if got is not None:
                return got
        return None

    top = _find(qe.executedPlan(), "TakeOrderedAndProjectExec")
    assert top is not None
    fan_in = _rows_metric(_children(top)[0])
    assert fan_in is not None and fan_in <= s_b * k, fan_in


def test_bottom_k_tree_requires_wgl_conf_else_naive(spark):
    """The tree shape is only better than the naive single merge when
    the session's windowGroupLimitThreshold >= k (else no map-side
    Partial trim exists and level 0 would ship the WHOLE input). The
    repo session raises the conf to 2^20 — at the production k=16384
    the plan must carry both Partial trims; a session below k must
    degrade to the naive TakeOrderedAndProject, never the untrimmed
    tree."""
    import re

    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_bottom_k,
    )
    from nyctaxidatapipeline_spark.plans import explain_str

    # a parquet scan: maxRows is unknown, so neither the k-limit nor
    # the rank filters can be statically eliminated (a small
    # createDataFrame/range input with known maxRows < k legitimately
    # optimizes the whole trim chain away)
    df = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
               .select(F.col("o_orderkey").alias("id"),
                       F.col("o_totalprice").alias("v")))
    # salt_buckets=32 FORCES the tree (the r14 "auto" default resolves
    # to naive on a fixture this small — pinned separately below)
    plan = explain_str(hash_sample_bottom_k(df, ["id"], ["v"], 16384,
                                            salt_buckets=32))
    assert len(re.findall(r"row_number\(\), 16384, Partial", plan)) == 2, \
        plan

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "100")
        degraded = explain_str(
            hash_sample_bottom_k(df, ["id"], ["v"], 16384,
                                 salt_buckets=32))
    finally:
        spark.conf.set(key, saved)
    assert "WindowGroupLimit" not in degraded, degraded
    assert len(re.findall(r"\(\d+\) Exchange", degraded)) == 0, degraded
    assert "TakeOrderedAndProject" in degraded


def test_bottom_k_auto_salt_crossover(spark):
    """VERDICT r13 task 2: the default ``salt_buckets="auto"`` keeps
    the naive bounded-heap plan while the estimated naive fan-in
    (tasks x k) stays under NAIVE_MERGE_FANIN_MAX, and switches to the
    salted tree above it. The switch point is pinned exactly on the
    pure decision; the plan-level consequence is pinned on a real
    fixture scan (small -> naive: one TakeOrderedAndProject, zero
    exchanges, no WindowGroupLimit)."""
    import re

    from nyctaxidatapipeline_spark.operators.sketches import (
        NAIVE_MERGE_FANIN_MAX,
        _tree_pays_off,
        hash_sample_bottom_k,
    )
    from nyctaxidatapipeline_spark.plans import explain_str

    # exact switch point: 128 tasks x k=16384 == 2^21 == the bound
    k = 16384
    assert NAIVE_MERGE_FANIN_MAX == 1 << 21
    assert not _tree_pays_off(128, k)          # at the bound: naive
    assert _tree_pays_off(129, k)              # past it: tree
    # a 100 TB scan (~10^5-10^6 tasks) is deep in tree territory
    assert _tree_pays_off(800_000, k)
    # streaming-epoch-sized merges never leave naive
    assert not _tree_pays_off(8, k)

    # e2e: the sf0.001 fixture estimates to a handful of tasks, so the
    # DEFAULT plan is the naive single merge — no window trims, no
    # exchanges, and bit-identical output to the forced tree.
    df = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
               .select(F.col("o_orderkey").alias("id"),
                       F.col("o_totalprice").alias("v")))
    auto_df = hash_sample_bottom_k(df, ["id"], ["v"], 512)
    plan = explain_str(auto_df)
    assert "WindowGroupLimit" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert "TakeOrderedAndProject" in plan
    forced_tree = hash_sample_bottom_k(df, ["id"], ["v"], 512,
                                       salt_buckets=32)
    assert [tuple(r) for r in auto_df.collect()] == \
        [tuple(r) for r in forced_tree.collect()]


def test_grouped_bottom_k_auto_salt_crossover(spark):
    """VERDICT r14 task 1: the grouped sketch's ``salt_buckets="auto"``
    default rides the SAME _tree_pays_off arithmetic as the ungrouped
    form — naive single window per group below the fan-in bound
    (measured: naive 12.8 s vs tree 15.5 s warm at sf10, naive 1.3 s
    cheaper at sf0.1), salted two-phase above it — and the two shapes
    are bit-identical on real data."""
    import re

    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )
    from nyctaxidatapipeline_spark.operators.sketches import (
        grouped_hash_sample_bottom_k,
    )
    from nyctaxidatapipeline_spark.plans import explain_str

    df = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
               .select("l_returnflag", "l_extendedprice",
                       "l_orderkey", "l_linenumber"))
    # the sf0.001 scan estimates to a couple of tasks: auto = naive —
    # exactly ONE window (no _salt spec), exactly ONE exchange
    auto_plan = explain_str(grouped_hash_sample_bottom_k(
        df, ["l_returnflag"], "l_extendedprice",
        ["l_orderkey", "l_linenumber"], k=256))
    assert "_salt" not in auto_plan, auto_plan
    assert len(re.findall(r"\(\d+\) Exchange", auto_plan)) == 1, auto_plan
    # bit-identical percentiles, naive vs forced tree
    kw = dict(percentiles=(0.5, 0.95), mode="sketch",
              rank_cols=["l_orderkey", "l_linenumber"], k=256)
    naive = grouped_percentiles(
        df, ["l_returnflag"], "l_extendedprice", salt_buckets=None, **kw)
    tree = grouped_percentiles(
        df, ["l_returnflag"], "l_extendedprice", salt_buckets=16, **kw)
    assert sorted(map(tuple, naive.collect())) == \
        sorted(map(tuple, tree.collect()))


def test_auto_salt_fallback_uses_shuffle_partitions(spark):
    """ADVICE r14: a non-file-backed frame's upstream task count is
    bounded by spark.sql.shuffle.partitions (e.g. 200 on a 4-core
    session), not defaultParallelism — the fallback must take the max
    of the two, and the file-stat lower bound carries a x2 safety
    factor."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        _FANIN_ESTIMATE_SAFETY,
        _auto_salt_buckets,
    )

    assert _FANIN_ESTIMATE_SAFETY == 2
    df = spark.createDataFrame([Row(id=1, v=1.0)])
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        # 256 shuffle partitions x k=16384 = 2^22 > 2^21: the old
        # defaultParallelism-only fallback (32 x 16384 = 2^19) would
        # under-price this by 8x and keep the naive merge
        spark.conf.set(key, "256")
        assert _auto_salt_buckets(df, 16384) == 32
        spark.conf.set(key, "64")
        assert _auto_salt_buckets(df, 16384) is None
    finally:
        spark.conf.set(key, saved)


def test_grouped_bottom_k_phase1_has_mapside_trim(spark):
    """With the session conf raised (session.py), the grouped sketch's
    phase-1 salted window also gains the map-side
    WindowGroupLimit(Partial) — each task ships <= k rows per
    (group, salt) instead of its whole input."""
    import re

    from nyctaxidatapipeline_spark.operators.sketches import (
        grouped_hash_sample_bottom_k,
    )
    from nyctaxidatapipeline_spark.plans import explain_str

    df = spark.createDataFrame(
        [Row(g="a", id=1, v=1.0)], schema="g string, id int, v double")
    plan = explain_str(grouped_hash_sample_bottom_k(
        df, ["g"], "v", ["id"], k=4096, salt_buckets=32))
    assert len(re.findall(r"row_number\(\), 4096, Partial", plan)) == 2, \
        plan
    # r15: the "auto" default on this tiny frame picks the naive
    # single window — ONE exchange, still with its map-side Partial
    # trim (the shape the r14 grouped tree premium motivated)
    naive = explain_str(grouped_hash_sample_bottom_k(
        df, ["g"], "v", ["id"], k=4096))
    assert len(re.findall(r"row_number\(\), 4096, Partial", naive)) == 1, \
        naive
    assert len(re.findall(r"\(\d+\) Exchange", naive)) == 1, naive


def test_quantile_summary_contract(spark):
    """Multi-quantile summary off ONE sample: one (q, value) row per
    requested quantile, values equal to the discrete index into the
    sorted sample (cross-checked against the threshold form at the
    same q); bad qs rejected."""
    from nyctaxidatapipeline_spark.operators.analytics import (
        quantile_threshold,
    )
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_quantile_summary,
    )

    df = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
               .select(F.col("o_orderkey").alias("id"),
                       F.col("o_totalprice").alias("v")))
    got = {r.q: r.value for r in hash_sample_quantile_summary(
        df, "v", ["id"], qs=(0.5, 0.99), k=256).collect()}
    assert set(got) == {0.5, 0.99}
    thr = quantile_threshold(df, "v", 0.99, mode="sketch", rank_cols=["id"],
                             sample_k=256).collect()[0].threshold
    assert got[0.99] == round(thr, 6) + 0.0
    assert got[0.5] <= got[0.99]

    with pytest.raises(ValueError, match="qs"):
        hash_sample_quantile_summary(df, "v", ["id"], qs=())
    with pytest.raises(ValueError, match="qs"):
        hash_sample_quantile_summary(df, "v", ["id"], qs=(0.5, 1.5))


def test_quantile_sketch_empty_input_yields_null_not_ansi_error(spark):
    """r13 review finding 1: an EMPTY sample (empty input, or every
    value NULL so collect_list collected nothing) must yield a NULL
    quantile — not Spark 4's ANSI INVALID_ARRAY_INDEX error — in the
    threshold, summary AND grouped forms; DuckDB's out-of-bounds list
    index is NULL, so parity holds on the edge too."""
    from nyctaxidatapipeline_spark.operators.analytics import (
        quantile_threshold,
    )
    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_quantile_summary,
    )

    empty = spark.createDataFrame([], schema="id int, v double")
    thr = quantile_threshold(empty, "v", 0.99, mode="sketch",
                             rank_cols=["id"], sample_k=16).collect()
    assert len(thr) == 1 and thr[0].threshold is None

    summ = hash_sample_quantile_summary(
        empty, "v", ["id"], qs=(0.5, 0.99), k=16).collect()
    assert [r.value for r in summ] == [None, None]

    all_null = spark.createDataFrame(
        [Row(g="a", id=1, v=None), Row(g="a", id=2, v=None),
         Row(g="b", id=3, v=1.0)],
        schema="g string, id int, v double")
    got = {r.g: r.p50 for r in grouped_percentiles(
        all_null, ["g"], "v", (0.5,), mode="sketch", rank_cols=["id"],
        k=4).collect()}
    assert got == {"a": None, "b": 1.0}


@pytest.mark.parametrize("by", [(), ("g",)], ids=["ungrouped", "grouped"])
@pytest.mark.parametrize("mode", ["exact", "approx", "sketch"])
def test_quantiles_match_scalar_forms(spark, mode, by):
    """The quantile core's ONE buffer per group returns exactly what
    the per-rank forms return: every rank of the array aggregate equals
    the scalar ``F.percentile`` / ``percentile_approx`` at that rank
    (exact, approx), and every sketch quantile is the discrete index
    into that group's sorted sample (sketch) — in the core's
    ``by + [QUANTILES]`` layout and through ``grouped_percentiles``'s
    p-named, 6-dp columns."""
    from nyctaxidatapipeline_spark.operators.quantiles import (
        QUANTILES,
        quantiles,
    )
    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )
    from nyctaxidatapipeline_spark.operators.sketches import (
        grouped_hash_sample_bottom_k,
        hash_sample_bottom_k,
    )

    # Deliberately awkward: duplicates, negatives, a null, one group
    # with a single row (percentile of 1 value = that value).
    rows = [("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 2.0), ("a", 4, -3.5),
            ("a", 5, 10.0), ("b", 6, 7.25), ("b", 7, None), ("b", 8, 0.0),
            ("c", 9, 42.0)]
    vals = spark.createDataFrame(rows, "g string, id int, v double")
    qs, by, k = (0.5, 0.95, 0.05), list(by), 4   # k bites group "a"
    kw = dict(mode=mode, accuracy=1000, rank_cols=["id"], k=k)
    out = quantiles(vals, "v", qs, by=by, **kw)
    assert out.columns == [*by, QUANTILES]
    got = {tuple(r[c] for c in by): r[QUANTILES] for r in out.collect()}

    if mode == "sketch":
        if by:
            s, vcol = grouped_hash_sample_bottom_k(vals, by, "v", ["id"],
                                                   k), "_v"
        else:
            s, vcol = hash_sample_bottom_k(vals, ["id"], ["v"], k), "v"
        samples = {}
        for r in s.collect():
            samples.setdefault(tuple(r[c] for c in by), []).append(r[vcol])
        want = {}
        for key, vs in samples.items():
            arr = sorted(v for v in vs if v is not None)
            want[key] = [arr[max(math.ceil(q * len(arr)), 1) - 1]
                         for q in qs]
    else:
        fn = (F.percentile if mode == "exact"
              else (lambda c, p: F.percentile_approx(c, p, F.lit(1000))))
        want = {tuple(r[c] for c in by): [r[f"_{i}"] for i in range(3)]
                for r in vals.groupBy(*by)
                             .agg(*[fn(F.col("v"), F.lit(q)).alias(f"_{i}")
                                    for i, q in enumerate(qs)]).collect()}
    assert got == want

    named = grouped_percentiles(vals, by, "v", qs, **kw)
    assert named.columns == [*by, "p50", "p95", "p5"]
    assert {tuple(r[c] for c in by): [r.p50, r.p95, r.p5]
            for r in named.collect()} == \
        {key: [round(x, 6) + 0.0 for x in xs] for key, xs in want.items()}
