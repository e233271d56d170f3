"""Distributed PCA (operators/pca.py): statistics parity with numpy,
eigenvector parity with numpy.linalg.eigh, and partitioning
determinism. The cross-engine oracle lives in __spark_entry__
(`pca_project` / `embedding_covariance`)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.pca import (
    covariance_matrix,
    embedding_dim,
    embedding_moments,
    pca_project_top,
    pca_top_component,
    power_iteration,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def X(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    return np.array([r["embedding"] for r in rows], dtype=np.float64), \
        [r["vec_id"] for r in rows]


def test_moments_match_numpy(emb, X):
    x, _ = X
    n, d = x.shape
    got = {(r["i"], r["j"]): r["s"]
           for r in embedding_moments(emb, "embedding").collect()}
    assert got[(-1, -1)] == pytest.approx(n)
    for i in (0, 1, d - 1):
        assert got[(i, -1)] == pytest.approx(x[:, i].sum(), rel=1e-9)
    for i, j in ((0, 0), (0, 1), (2, d - 1), (d - 1, d - 1)):
        assert got[(i, j)] == pytest.approx((x[:, i] * x[:, j]).sum(),
                                            rel=1e-9)
    # upper triangle + sums + count, nothing else
    assert len(got) == d * (d + 1) // 2 + d + 1


def test_covariance_matches_numpy(emb, X):
    x, _ = X
    d = x.shape[1]
    ref = np.cov(x, rowvar=False, bias=True)
    rows = covariance_matrix(emb, "embedding").collect()
    assert len(rows) == d * d
    for r in rows[:500]:
        assert r["cov"] == pytest.approx(ref[r["i"], r["j"]], abs=2e-9)


def test_top_component_matches_eigh(emb, X):
    x, _ = X
    ref = np.cov(x, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(ref)
    top = vecs[:, -1]
    got = np.array(pca_top_component(emb, "embedding", iters=150))
    assert abs(float(np.dot(got, top))) > 0.999
    assert float(np.linalg.norm(got)) == pytest.approx(1.0, abs=1e-6)


def test_projection_matches_numpy(emb, X):
    x, ids = X
    comp = np.array(pca_top_component(emb, "embedding", iters=40))
    want = dict(zip(ids, x @ comp))
    got = {r["vec_id"]: r["pc1"]
           for r in pca_project_top(emb, "embedding",
                                    id_col="vec_id", iters=40).collect()}
    assert set(got) == set(want)
    for k, v in got.items():
        assert v == pytest.approx(want[k], abs=1e-5)


def test_sign_convention_deterministic():
    # The largest-|coordinate| rule makes the returned direction unique:
    # feeding a covariance whose eigenvector is "negative-dominant"
    # still yields the positively-signed representative.
    d = 4
    main = np.array([-0.9, 0.3, 0.2, 0.1])
    main /= np.linalg.norm(main)
    cov = 5.0 * np.outer(main, main) + 0.1 * np.eye(d)
    rows = [(i, j, round(float(cov[i, j]), 9))
            for i in range(d) for j in range(d)]
    v = np.array(power_iteration(rows, d, iters=50))
    assert v[np.argmax(np.abs(v))] > 0
    assert abs(float(np.dot(v, main))) > 0.999


def test_covariance_bit_identical_across_partitionings(emb):
    """The decimal(38,12) moment sums are exact and associative, so the
    covariance output is BIT-identical — not approximately equal — for
    any partitioning (the CORRECTNESS_r05 embedding_covariance flake was
    order-sensitive double reduction crossing a rounding boundary)."""
    a = sorted(map(tuple,
                   covariance_matrix(emb.repartition(1), "embedding",
                                     decimals=6).collect()))
    b = sorted(map(tuple,
                   covariance_matrix(emb.repartition(97), "embedding",
                                     decimals=6).collect()))
    assert a == b  # exact float equality, no approx


def test_repartition_invariance(emb):
    a = sorted(map(tuple, pca_project_top(emb, iters=24).collect()))
    b = sorted(map(tuple,
                   pca_project_top(emb.repartition(7), iters=24).collect()))
    assert a == b


def test_embedding_dim(emb):
    assert embedding_dim(emb) == 64


def test_moments_partition_independent(spark):
    """embedding_moments (fan_out'd) must be BIT-identical at any
    partition count — the property that makes the fan_out safe."""
    from nyctaxidatapipeline_spark.operators.pca import embedding_moments

    rows = [(i, [0.1 * i, -0.25 * i, 3.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    one = {(r["i"], r["j"]): r["s"]
           for r in embedding_moments(df.coalesce(1)).collect()}
    many = {(r["i"], r["j"]): r["s"]
            for r in embedding_moments(df.repartition(7)).collect()}
    assert one == many
