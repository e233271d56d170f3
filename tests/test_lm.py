"""Add-one bigram LM scoring — hand-checked Laplace arithmetic on a
micro-corpus (fixture-scale values are pinned by the `lm_perplexity`
differential oracle)."""

from __future__ import annotations

import math

from pyspark.sql import Row

from nyctaxidatapipeline_spark.operators.lm import (
    lm_score,
    perplexity_filter,
)


def _corpus(spark):
    # bigrams: "a b" x2, "a c" x1; ctx(a)=3; V={a,b,c}=3
    return spark.createDataFrame([
        Row(doc_id=0, text="a b"),
        Row(doc_id=1, text="a b"),
        Row(doc_id=2, text="a c"),
        Row(doc_id=3, text="a"),          # < 2 tokens: no bigrams
    ])


def test_laplace_hand_computed(spark):
    out = {r["doc_id"]: r for r in
           lm_score(_corpus(spark), "text", "doc_id").collect()}
    assert set(out) == {0, 1, 2}          # doc 3 absent
    # P(b|a) = (2+1)/(3+3) = 1/2 ; P(c|a) = (1+1)/(3+3) = 1/3
    assert out[0]["avg_logp"] == round(math.log(0.5), 6)
    assert out[0]["ppl"] == round(
        math.exp(-round(math.log(0.5), 6)), 6)
    assert out[2]["avg_logp"] == round(math.log(1 / 3), 6)
    # the common pattern scores better (lower perplexity)
    assert out[0]["ppl"] < out[2]["ppl"]
    assert out[0]["n_bigrams"] == 1


def test_repeated_pattern_beats_novel_text(spark):
    rows = [Row(doc_id=i, text="the cat sat on the mat")
            for i in range(9)]
    rows.append(Row(doc_id=9, text="zq xv wk jn qp zz"))
    docs = spark.createDataFrame(rows)
    out = {r["doc_id"]: r["ppl"]
           for r in lm_score(docs, "text", "doc_id").collect()}
    assert out[0] < out[9]


def test_perplexity_filter_semi_join(spark):
    rows = [Row(doc_id=i, text="the cat sat on the mat")
            for i in range(9)]
    rows.append(Row(doc_id=9, text="zq xv wk jn qp zz"))
    docs = spark.createDataFrame(rows)
    cutoff = sorted(
        r["ppl"] for r in lm_score(docs, "text", "doc_id").collect())[-2]
    kept = perplexity_filter(docs, "text", "doc_id", cutoff)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 9 not in ids and ids == set(range(9))
    # schema is the input schema (semi join adds nothing)
    assert kept.columns == docs.columns


def test_dsir_weights_prefer_target_like_docs(spark):
    from nyctaxidatapipeline_spark.operators.lm import dsir_weights

    rows = [Row(doc_id=i, text="the cat sat on the mat") for i in range(3)]
    rows += [Row(doc_id=3 + i, text="stock market prices fell sharply")
             for i in range(3)]
    docs = spark.createDataFrame(rows)
    target = docs.filter("doc_id < 3")        # the cat domain
    out = {r["doc_id"]: r for r in
           dsir_weights(docs, target, "text", "doc_id").collect()}
    assert set(out) == set(range(6))
    # target-like docs are MORE likely under the target LM than the raw
    # LM; off-domain docs are less likely (their bigrams are unseen)
    assert all(out[i]["weight"] > 1 for i in range(3))
    assert all(out[i]["weight"] < 1 for i in range(3, 6))
    assert all(out[i]["log_ratio"] > 0 for i in range(3))


def test_lm_score_under_unseen_bigrams_smoothed(spark):
    from nyctaxidatapipeline_spark.operators.lm import lm_score_under

    model = spark.createDataFrame([Row(doc_id=0, text="a b a b")])
    score = spark.createDataFrame([Row(doc_id=1, text="x y")])
    out = lm_score_under(model, score, "text", "doc_id").collect()
    # completely unseen bigram and context: P = (0+1)/(0+V), V={a,b}=2
    assert out[0]["avg_logp"] == round(math.log(1 / 2), 6)


def test_skipgram_counts_window_semantics(spark):
    # "a b c a b": window=2 directional pairs are
    # a->(b,c) b->(c,a) c->(a,b) a->(b) — so (a,b) x2, (b,c) x1, ...
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.lm import skipgram_counts

    df = spark.createDataFrame([Row(doc_id=1, text="a b c a b")])
    got = {(r.w1, r.w2): r.n_pair
           for r in skipgram_counts(df, "text", "doc_id", window=2,
                                    min_count=1).collect()}
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1,
                   ("b", "a"): 1, ("c", "a"): 1, ("c", "b"): 1}
    # pairs never cross document boundaries
    df2 = spark.createDataFrame([Row(doc_id=1, text="x y"),
                                 Row(doc_id=2, text="y z")])
    got2 = {(r.w1, r.w2): r.n_pair
            for r in skipgram_counts(df2, "text", "doc_id", window=5,
                                     min_count=1).collect()}
    assert got2 == {("x", "y"): 1, ("y", "z"): 1}


def test_perplexity_buckets_reads_one_percentile_buffer(spark):
    """Both tertile bounds come off ONE percentile aggregate (the
    quantile core's array buffer): the optimized plan holds a single
    percentile function — two scalar ones buffered the scored corpus
    twice."""
    import re

    from nyctaxidatapipeline_spark.operators.lm import perplexity_buckets

    rows = [Row(doc_id=i,
                text=" ".join(f"w{j % (i + 2)}" for j in range(20)))
            for i in range(12)]
    out = perplexity_buckets(spark.createDataFrame(rows), "text", "doc_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bpercentile\(", plan)) == 1, plan


def test_perplexity_buckets_tertiles(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.lm import perplexity_buckets

    # 30 docs with varying repetitiveness -> spread of perplexities
    rows = [Row(doc_id=i,
                text=" ".join(f"w{j % (i + 2)}" for j in range(20)))
            for i in range(30)]
    out = perplexity_buckets(spark.createDataFrame(rows),
                             "text", "doc_id").collect()
    assert len(out) == 30
    sizes = {}
    for r in out:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
        assert r.bucket == ("head", "middle", "tail")[r.bucket_idx]
    # every bucket populated (tie groups may skew exact tertile sizes —
    # equal ppls land in one bucket by design)
    assert set(sizes) == {"head", "middle", "tail"}
    # buckets partition the ppl axis in order
    by = {b: [r.ppl for r in out if r.bucket == b] for b in sizes}
    assert max(by["head"]) <= min(by["middle"])
    assert max(by["middle"]) <= min(by["tail"])
    # equal perplexities always share a bucket
    seen = {}
    for r in out:
        assert seen.setdefault(r.ppl, r.bucket) == r.bucket


def test_stupid_backoff_arms_hand_computed(spark):
    """All three scoring arms on a tiny corpus: seen bigram (raw
    relative frequency), unseen bigram with seen unigram (alpha*u/N),
    and OOV unigram (alpha*1/N floor)."""
    import math

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.lm import lm_score_backoff

    model = spark.createDataFrame([Row(doc_id=1, text="a b a b c")])
    # "a b": seen (c=2, ctx(a)=2 -> s=1.0); "b z": unseen bigram, z
    # OOV (floor 0.4*1/5); "z c": unseen bigram, c seen (0.4*1/5)
    score = spark.createDataFrame([Row(doc_id=9, text="a b z c")])
    out = {r.doc_id: r for r in
           lm_score_backoff(model, score, "text", "doc_id").collect()}
    r = out[9]
    assert r.n_bigrams == 3 and r.n_backoff == 2
    want = (math.log(1.0) + math.log(0.4 * 1 / 5)
            + math.log(0.4 * 1 / 5)) / 3
    assert abs(r.avg_logs - round(want, 6)) < 1e-9
    assert abs(r.ppl - round(math.exp(-round(want, 6)), 6)) < 1e-9
