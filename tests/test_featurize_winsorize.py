"""Unit gates for the round-4 featurization batch: hashing-trick
features (operators/featurize.py), winsorization (cleaning.winsorize),
and length-bucketed batching (packing.length_bucketed_batches). The
cross-engine oracles live in __spark_entry__ (`feature_hash_counts`,
`winsorized_prices`, `length_buckets`)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.cleaning import winsorize
from nyctaxidatapipeline_spark.operators.featurize import (
    bucket_collision_profile,
    feature_hash,
)
from nyctaxidatapipeline_spark.operators.packing import (
    length_bucketed_batches,
)


def _md5_bucket(s: str, n: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % n


def test_feature_hash_matches_hashlib(spark):
    df = spark.createDataFrame(
        [("click", 7), ("view", None)], "etype string, uid int")
    rows = {r["etype"]: r["features"]
            for r in feature_hash(df, ["etype", "uid"], 32).collect()}
    assert rows["click"] == [_md5_bucket("etype:click", 32),
                             _md5_bucket("uid:7", 32)]
    # NULL value -> NULL index (not a phantom bucket)
    assert rows["view"] == [_md5_bucket("etype:view", 32), None]


def test_collision_profile_counts(spark):
    # Two columns, crafted so we can count occupancy by hand.
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), (None, "x")],
        "c1 string, c2 string")
    prof = {r["bucket"]: (r["n_rows"], r["n_values"])
            for r in bucket_collision_profile(df, ["c1", "c2"], 8).collect()}
    # 3 non-null c1 entries + 4 c2 entries = 7 hashed occurrences total
    assert sum(n for n, _ in prof.values()) == 7
    bx = _md5_bucket("c2:x", 8)
    n_rows, n_values = prof[bx]
    assert n_rows >= 3          # the three 'x' rows land together
    # distinct raw values never exceeds row count
    assert all(v <= n for n, v in prof.values())


def test_feature_hash_repartition_stable(spark):
    df = spark.range(200).withColumn("s", F.col("id").cast("string"))
    a = sorted(map(tuple, feature_hash(df, ["s"], 64).collect()))
    b = sorted(map(tuple,
                   feature_hash(df.repartition(7), ["s"], 64).collect()))
    assert a == b


def test_winsorize_clips_to_exact_quantiles(spark):
    vals = [(float(i),) for i in range(1, 101)]
    df = spark.createDataFrame(vals, "v double")
    out = winsorize(df, "v", 0.1, 0.9, out_col="w")
    lo, hi = (df.agg(F.percentile("v", 0.1),
                     F.percentile("v", 0.9)).first())
    got = [r["w"] for r in out.collect()]
    assert min(got) == pytest.approx(lo)
    assert max(got) == pytest.approx(hi)
    assert len(got) == 100
    # interior values untouched
    assert all(r["w"] == r["v"] for r in out.collect()
               if lo < r["v"] < hi)


def test_winsorize_null_passthrough(spark):
    df = spark.createDataFrame([(1.0,), (None,), (100.0,), (50.0,)],
                               "v double")
    out = winsorize(df, "v", 0.25, 0.75)
    assert sum(1 for r in out.collect() if r["v"] is None) == 1


def test_length_buckets_layout(spark):
    # 6 docs with token counts 6,5,4,3,2,1 -> batch 0 = {6,5,4},
    # batch 1 = {3,2,1} under batch_size=3, longest first.
    rows = [(i, " ".join(["tok"] * (6 - i))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["batch_id"]: r
           for r in length_bucketed_batches(df, "text", "doc_id",
                                            batch_size=3).collect()}
    assert set(got) == {0, 1}
    assert (got[0]["max_tokens"], got[0]["sum_tokens"],
            got[0]["padding_tokens"]) == (6, 15, 3)
    assert (got[1]["max_tokens"], got[1]["sum_tokens"],
            got[1]["padding_tokens"]) == (3, 6, 3)
    assert got[0]["pad_ratio"] == pytest.approx(1 - 15 / 18, abs=1e-6)


def test_length_buckets_repartition_invariant(spark):
    rows = [(i, " ".join(["w"] * (1 + (i * 7) % 13))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple,
                   length_bucketed_batches(df, "text", "doc_id", 8)
                   .collect()))
    b = sorted(map(tuple,
                   length_bucketed_batches(df.repartition(11), "text",
                                           "doc_id", 8).collect()))
    assert a == b


def test_approx_quantile_bounded_error(spark):
    """The GK-sketch quantile mode in its REAL operating regime
    (accuracy << n, compression active): returned values must be actual
    data elements whose rank sits within the 1/accuracy guarantee of
    the target percentile — the contract the 100 TB mode sells."""
    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )
    from nyctaxidatapipeline_spark.sources import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem") \
        .select("l_returnflag", "l_extendedprice")
    acc = 100  # rank error <= n/100 per group
    approx = {r["l_returnflag"]: (r["p50"], r["p95"])
              for r in grouped_percentiles(li, ["l_returnflag"],
                                           "l_extendedprice", (0.5, 0.95),
                                           mode="approx",
                                           accuracy=acc).collect()}
    # exact rank envelope per group: value at percentile p±1.5/acc
    eps = 1.5 / acc
    env = (li.groupBy("l_returnflag")
             .agg(*[F.percentile("l_extendedprice", F.lit(q)).alias(n)
                    for q, n in ((0.5 - eps, "lo50"), (0.5 + eps, "hi50"),
                                 (0.95 - eps, "lo95"),
                                 (0.95 + eps, "hi95"))])
             .collect())
    for r in env:
        p50, p95 = approx[r["l_returnflag"]]
        assert r["lo50"] <= p50 <= r["hi50"]
        assert r["lo95"] <= p95 <= r["hi95"]


def test_winsorize_approx_matches_exact_rank_at_high_accuracy(spark):
    from nyctaxidatapipeline_spark.operators.quantiles import (
        QUANTILES,
        quantiles,
    )
    from nyctaxidatapipeline_spark.sources import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    lo, hi = quantiles(li, "l_extendedprice", (0.01, 0.99), mode="approx",
                       accuracy=10_000_000).first()[QUANTILES]
    # uncompressed sketch -> exact rank statistics: both bounds are
    # actual data values at the right ranks
    vals = sorted(r["l_extendedprice"]
                  for r in li.select("l_extendedprice").collect())
    n = len(vals)
    import math
    assert lo == vals[max(0, math.ceil(0.01 * n) - 1)]
    assert hi == vals[max(0, math.ceil(0.99 * n) - 1)]
