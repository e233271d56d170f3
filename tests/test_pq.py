"""Product-quantization ANN: geometry guards, exhaustive-rerank parity
with brute force, and the recall gate on planted-structure data (the
isotropic `embeddings` fixture caveat in test_recall.py applies — PQ is
gated where its assumptions hold, on clustered corpora)."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.pq import (
    pq_encode,
    pq_kmeans_codebooks,
    pq_seed_codebooks_portable,
    pq_topk,
)
from nyctaxidatapipeline_spark.operators.similarity import (
    brute_force_topk,
    embedding_dim,
)
from nyctaxidatapipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _clustered(spark, n_clusters=8, per_cluster=40, dim=32, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    i = 0
    for ci in range(n_clusters):
        for v in centers[ci] + 0.12 * rng.normal(size=(per_cluster, dim)):
            rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
            i += 1
    return spark.createDataFrame(rows)


def test_geometry_must_divide(spark):
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="divide"):
        pq_seed_codebooks_portable(emb, n_codes=4, m=5)


def test_codebook_shape_and_codes_range(spark):
    emb = load_table(spark, SF, "embeddings")
    dim = embedding_dim(emb)
    books = pq_seed_codebooks_portable(emb, n_codes=8, m=4, dim=dim)
    assert len(books) == 4
    assert all(len(b) == 8 for b in books)
    assert all(len(c) == dim // 4 for b in books for c in b)
    enc = pq_encode(emb, books)
    stats = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m")).collect()[0]
    assert stats["lo"] >= 0 and stats["hi"] <= 7 and stats["m"] == 4


def test_exhaustive_rerank_equals_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    dim = embedding_dim(emb)
    q = emb.filter(F.col("vec_id") < 3)
    books = pq_seed_codebooks_portable(emb, n_codes=8, m=4, dim=dim)
    full = pq_topk(emb, q, k=5, rerank=10 ** 6, dim=dim, codebooks=books)
    bf = brute_force_topk(emb, q, k=5, dim=dim)
    assert full.exceptAll(bf).count() == 0
    assert bf.exceptAll(full).count() == 0


def test_pq_recall_on_clustered_corpus(spark):
    """On clustered data (PQ's design regime) the ADC candidate scan at
    ~12% of the corpus must recover >= 90% of the exact top-10."""
    df = _clustered(spark)
    dim = 32
    q = df.filter(F.col("vec_id") % 40 == 0).limit(6)
    bf = brute_force_topk(df, q, k=10, dim=dim)
    approx = pq_topk(df, q, k=10, rerank=40, dim=dim, kmeans_iters=4)
    exact = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(got & exact) / len(exact) >= 0.9, len(got & exact) / len(exact)


def test_kmeans_codebooks_do_not_regress_seed_recall(spark):
    """Lloyd refinement must not lose recall vs raw seeds on clustered
    data (the same invariant the IVF quantizer pins)."""
    df = _clustered(spark, seed=13)
    dim = 32
    q = df.filter(F.col("vec_id") % 40 == 1).limit(6)
    bf = brute_force_topk(df, q, k=10, dim=dim)
    exact = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    rec = {}
    for iters in (0, 4):
        books = pq_kmeans_codebooks(df, n_codes=16, m=4, iters=iters,
                                    dim=dim)
        got = {(r["query_id"], r["vec_id"])
               for r in pq_topk(df, q, k=10, rerank=40, dim=dim,
                                codebooks=books).collect()}
        rec[iters] = len(got & exact) / len(exact)
    assert rec[4] >= rec[0]
    assert rec[4] >= 0.9


def test_ivfpq_exhaustive_equals_brute_force(spark):
    """nprobe = n_centroids and rerank >= |corpus| makes IVF-PQ exact:
    every list is probed and every candidate is exact-reranked."""
    from nyctaxidatapipeline_spark.operators.pq import ivfpq_topk
    from nyctaxidatapipeline_spark.operators.similarity import (
        ivf_seed_centroids_portable,
    )
    emb = load_table(spark, SF, "embeddings")
    dim = embedding_dim(emb)
    q = emb.filter(F.col("vec_id") < 3)
    cents = ivf_seed_centroids_portable(emb, n_centroids=8)
    books = pq_seed_codebooks_portable(emb, n_codes=8, m=4, dim=dim)
    full = ivfpq_topk(emb, q, k=5, n_centroids=8, nprobe=8,
                      rerank=10 ** 6, dim=dim, centroids=cents,
                      codebooks=books)
    bf = brute_force_topk(emb, q, k=5, dim=dim)
    assert full.exceptAll(bf).count() == 0
    assert bf.exceptAll(full).count() == 0


def test_ivfpq_recall_on_clustered_corpus(spark):
    """Composed pruning (4/8 lists probed, ADC candidates, rerank 40)
    must still recover >= 90% of the exact top-10 on clustered data —
    the regime both quantizers are designed for."""
    from nyctaxidatapipeline_spark.operators.pq import ivfpq_topk
    df = _clustered(spark, seed=23)
    dim = 32
    q = df.filter(F.col("vec_id") % 40 == 2).limit(6)
    bf = brute_force_topk(df, q, k=10, dim=dim)
    approx = ivfpq_topk(df, q, k=10, n_centroids=8, nprobe=4,
                        rerank=40, dim=dim, kmeans_iters=2,
                        pq_kmeans_iters=4)
    exact = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(got & exact) / len(exact) >= 0.9, \
        len(got & exact) / len(exact)


def test_ivfpq_residual_exhaustive_equals_brute_force(spark):
    """The residual variant is exact under full probe + full rerank
    too — residual encoding changes candidate SELECTION only."""
    from nyctaxidatapipeline_spark.operators.pq import ivfpq_topk
    from nyctaxidatapipeline_spark.operators.similarity import (
        ivf_seed_centroids_portable,
    )
    emb = load_table(spark, SF, "embeddings")
    dim = embedding_dim(emb)
    q = emb.filter(F.col("vec_id") < 3)
    cents = ivf_seed_centroids_portable(emb, n_centroids=8)
    full = ivfpq_topk(emb, q, k=5, n_centroids=8, nprobe=8,
                      rerank=10 ** 6, dim=dim, centroids=cents,
                      by_residual=True)
    bf = brute_force_topk(emb, q, k=5, dim=dim)
    assert full.exceptAll(bf).count() == 0
    assert bf.exceptAll(full).count() == 0


def test_ivfpq_residual_recall_not_worse_than_raw(spark):
    """FAISS's by_residual rationale, verified: residual codes carry
    more precision at the same m x n_codes bitrate on clustered data,
    so recall@10 must be >= the raw-vector variant (and clear the 0.9
    floor) at identical index parameters."""
    from nyctaxidatapipeline_spark.operators.pq import ivfpq_topk
    df = _clustered(spark, seed=23)
    dim = 32
    q = df.filter(F.col("vec_id") % 40 == 2).limit(6)
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(df, q, k=10, dim=dim).collect()}
    rec = {}
    for res in (False, True):
        got = {(r["query_id"], r["vec_id"])
               for r in ivfpq_topk(df, q, k=10, n_centroids=8,
                                   nprobe=4, rerank=40, dim=dim,
                                   kmeans_iters=2, pq_kmeans_iters=4,
                                   by_residual=res).collect()}
        rec[res] = len(got & exact) / len(exact)
    assert rec[True] >= rec[False], rec
    assert rec[True] >= 0.9, rec


def test_pq_self_dot_bitexact_vs_runtime_fold(spark):
    from nyctaxidatapipeline_spark.operators.pq import (
        _fold_dot,
        _lit_arr,
        _self_dot,
    )

    rng = random.Random(162)
    for trial in range(6):
        c = [rng.uniform(-3, 3) * (10 ** rng.randint(-8, 6))
             for _ in range(rng.randint(1, 48))]
        arr = _lit_arr(c)
        runtime = spark.range(1).select(
            F.expr(_fold_dot(arr, arr)).alias("v")).first()["v"]
        assert _self_dot(c) == runtime, (trial, c)
