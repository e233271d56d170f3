"""Unit tests: dedup suite + similarity search on crafted inputs."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.functions.text import shingles, token_count, tokens
from nyctaxidatapipeline_spark.operators.dedup import (
    connected_components,
    dedup_keep_representatives,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    near_dup_production,
    simhash_near_pairs,
)
from nyctaxidatapipeline_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup,
    embedding_near_dup_blocked,
    ivf_topk,
    rp_lsh_near_dup,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (3, "completely different text with other words here entirely"),
]


def _docs(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS])


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([Row(text="  A b  C ")])
    row = df.select(tokens("text").alias("tk"),
                    token_count("text").alias("n"),
                    shingles(tokens("text"), 2).alias("sh")).collect()[0]
    assert row.tk == ["a", "b", "c"] and row.n == 3
    assert row.sh == ["a b", "b c"]
    # shorter than n → empty shingle set
    short = spark.createDataFrame([Row(text="one two")])
    assert short.select(shingles(tokens("text"), 3)).collect()[0][0] == []


def test_tokens_codegen_form_equals_filter_form(spark):
    """The codegen split (no HOF lambda) must match the list_filter
    contract byte-for-byte on every edge case, including NULL, empty,
    all-whitespace, and mixed-whitespace texts."""
    cases = ["", "   ", "\t", "\t \n", "a", "  A b\t C ", "x\n\ny",
             None, "tab\t end ", " one", "\tTab Bounded\t", "\na\n"]
    df = spark.createDataFrame([Row(text=t) for t in cases])
    reference = F.filter(F.split(F.lower(F.trim("text")), r"\s+"),
                         lambda t: t != "")
    rows = df.select(tokens("text").alias("got"),
                     reference.alias("want")).collect()
    assert all(r.got == r.want for r in rows)


def test_exact_dedup_representative(spark):
    out = {r.text: (r.doc_id, r.n_copies)
           for r in exact_dedup(_docs(spark), ["text"], "doc_id").collect()}
    assert out[DOCS[0][1]] == (0, 2)   # min id kept, 2 copies
    assert len(out) == 3


def test_jaccard_pairs_finds_near_dup(spark):
    out = {(r.id_a, r.id_b): r.jaccard
           for r in jaccard_pairs(_docs(spark), "text", "doc_id",
                                  n=3, threshold=0.2).collect()}
    assert (0, 2) in out and out[(0, 2)] == 1.0       # exact dup
    assert (0, 1) in out and 0.5 < out[(0, 1)] < 1.0  # near dup
    assert (1, 2) in out
    assert not any(3 in p for p in out)                # unrelated doc absent


def test_minhash_lsh_recovers_exact_dups(spark):
    out = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        _docs(spark), "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.9).collect()}
    assert (0, 2) in out  # identical docs always collide in every band


def test_minhash_lsh_max_bucket_skips_hot_classes(spark):
    """Overfull-bucket guard: a duplicate class bigger than the cap is
    skipped (its quadratic pair expansion never happens); small buckets
    are untouched."""
    from pyspark.sql import Row
    hot = "the same boilerplate page body repeated everywhere verbatim"
    near_a = "a quick brown fox jumps over the lazy dog in the park"
    near_b = "a quick brown fox jumps over the lazy dog in the yard"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=hot) for i in range(8)]
        + [Row(doc_id=10, text=near_a), Row(doc_id=11, text=near_b)])
    capped = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.3, max_bucket=4).collect()}
    assert capped == {(10, 11)}  # hot class skipped, near-dup kept
    uncapped = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.3).collect()}
    assert (0, 1) in uncapped and (10, 11) in uncapped
    assert len(uncapped) == 8 * 7 // 2 + 1


def test_near_dup_production_matches_naive_composition(spark):
    """The exact-first production path labels every row, and its groups
    equal components over the UNCAPPED full-corpus LSH pair graph — the
    collapse is a pure optimization, not a semantics change (exact
    copies share signatures, so their edges are redundant)."""
    from pyspark.sql import Row

    hot = "the same boilerplate page body repeated everywhere verbatim"
    near_a = "a quick brown fox jumps over the lazy dog in the park"
    near_b = "a quick brown fox jumps over the lazy dog in the yard"
    lone = "entirely unrelated content that matches nothing else at all"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=hot) for i in range(6)]
        + [Row(doc_id=10, text=near_a), Row(doc_id=11, text=near_b),
           Row(doc_id=12, text=near_a),     # exact copy of a near-dup
           Row(doc_id=20, text=lone)])
    got = {r.doc_id: r.group_id for r in near_dup_production(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.3).collect()}
    # every input row labeled; hot class -> 0, near-dup class -> 10,
    # singleton -> itself
    assert got == {**{i: 0 for i in range(6)},
                   10: 10, 11: 10, 12: 10, 20: 20}
    # naive composition: components over the uncapped full-corpus graph,
    # rows in no pair keep their own id
    pairs = minhash_lsh_pairs(df, "text", "doc_id", n=3, num_hashes=32,
                              bands=8, threshold=0.3)
    comp = {r.id: r.comp for r in connected_components(pairs).collect()}
    naive = {i: comp.get(i, i) for i, _ in
             [(i, None) for i in list(range(6)) + [10, 11, 12, 20]]}
    assert got == naive


def test_near_dup_production_portable_matches_default(spark):
    """Portable (md5) and default (xxhash64) hash families agree on the
    grouping for unambiguous inputs — the oracle-checked variant is the
    same operator, not a fork."""
    df = _docs(spark)
    for portable in (False, True):
        got = {r.doc_id: r.group_id for r in near_dup_production(
            df, "text", "doc_id", n=3, num_hashes=32, bands=8,
            threshold=0.5, portable=portable).collect()}
        assert got == {0: 0, 1: 0, 2: 0, 3: 3}


def test_incremental_minhash_admission(spark):
    """Batch docs near-matching the corpus are rejected; in-batch
    near-dups resolve greedy-first (smaller id wins); novel docs are
    admitted; and the decision equals components-over-everything for
    this unambiguous fixture."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )

    base = "the quick brown fox jumps over the lazy dog in the park"
    corpus = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=2, text="completely different corpus text with "
                           "other words entirely present"),
    ])
    batch = spark.createDataFrame([
        Row(doc_id=1, text=base),                               # dup of 0
        Row(doc_id=3, text=base.replace("park", "yard")),       # near 0
        Row(doc_id=5, text="a genuinely novel batch document about "
                           "unrelated topics and fresh content"),
        Row(doc_id=7, text="a genuinely novel batch document about "
                           "unrelated topics and new content"),  # near 5
    ])
    got = {r.doc_id for r in incremental_minhash_admission(
        batch, corpus, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.5, portable=True).collect()}
    assert got == {5}
    # max_bucket backstop is SYMMETRIC (r9, ADVICE): capping at 0
    # disables BOTH candidate arms — corpus buckets and the batch's
    # own posting lists — so every batch doc is admitted
    capped = {r.doc_id for r in incremental_minhash_admission(
        batch, corpus, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.5, portable=True, max_bucket=0).collect()}
    assert capped == {1, 3, 5, 7}
    # cap admitting pairs (>=2) but skipping nothing here: unchanged
    assert {r.doc_id for r in incremental_minhash_admission(
        batch, corpus, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.5, portable=True, max_bucket=2).collect()} == {5}


def test_incremental_minhash_batch_side_storm_cap(spark):
    """A boilerplate storm INSIDE one batch (class bigger than the cap)
    is skipped by the batch-side posting-list cap — the unattended
    streaming admitter survives it; with the cap opted out (None) the
    storm expands and greedy first-wins keeps only the min id."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )

    storm = "subscribe to our newsletter all rights reserved today"
    batch = spark.createDataFrame(
        [Row(doc_id=i, text=storm) for i in range(40)])
    corpus = spark.createDataFrame([], batch.schema)
    # default cap (32) < class size (40): every band bucket of the
    # storm class is skipped, no in-batch pairs form, all admitted
    assert incremental_minhash_admission(
        batch, corpus, "text", "doc_id", portable=True).count() == 40
    # explicit opt-out: the storm expands and collapses to doc_id 0
    got = {r.doc_id for r in incremental_minhash_admission(
        batch, corpus, "text", "doc_id", portable=True,
        max_bucket=None).collect()}
    assert got == {0}


def test_minhash_lsh_default_cap_engages(spark):
    """r9 API-default flip (VERDICT r8 task 2): a bare
    ``minhash_lsh_pairs`` call gets the capped-32 production semantics
    — a 40-copy class emits NO pairs by default, while small buckets
    pair as ever; ``max_bucket=None`` restores the exhaustive mode.
    ``near_dup_production`` and ``incremental_minhash_admission``
    share the same default by signature."""
    import inspect

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )

    hot = "the same boilerplate page body repeated everywhere verbatim"
    near_a = "a quick brown fox jumps over the lazy dog in the park"
    near_b = "a quick brown fox jumps over the lazy dog in the yard"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=hot) for i in range(40)]
        + [Row(doc_id=100, text=near_a), Row(doc_id=101, text=near_b)])
    default = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.3).collect()}
    assert default == {(100, 101)}  # 40-copy class skipped by default
    uncapped = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.3, max_bucket=None).collect()}
    assert (0, 1) in uncapped and (100, 101) in uncapped
    for fn in (minhash_lsh_pairs, near_dup_production,
               incremental_minhash_admission):
        assert inspect.signature(fn).parameters["max_bucket"].default == 32


def test_incremental_minhash_prebuilt_index(spark, tmp_path):
    """A prebuilt (and parquet-round-tripped) corpus index yields the
    identical admitted set as the direct call — the persist-between-
    increments contract."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_admission,
    )

    base = "the quick brown fox jumps over the lazy dog in the park"
    corpus = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=2, text="completely different corpus text with "
                           "other words entirely present")])
    batch = spark.createDataFrame([
        Row(doc_id=1, text=base.replace("park", "yard")),
        Row(doc_id=5, text="a genuinely novel batch document about "
                           "unrelated topics and fresh content")])
    direct = {r.doc_id for r in incremental_minhash_admission(
        batch, corpus, "text", "doc_id", portable=True).collect()}
    idx = build_minhash_index(corpus, "text", "doc_id", portable=True)
    path = str(tmp_path / "lsh_index")
    idx.write.parquet(path)
    via_index = {r.doc_id for r in incremental_minhash_admission(
        batch, corpus, "text", "doc_id", portable=True,
        corpus_index=spark.read.parquet(path)).collect()}
    assert direct == via_index == {5}


def test_cross_signal_dedup_union_semantics(spark):
    """One group forms only through the TEXT edge (near-identical
    wording, orthogonal embeddings), one only through the EMBEDDING
    edge (unrelated wording, parallel vectors), and the two signals
    CHAIN: text-links a-b plus embedding-links b-c put a,b,c in one
    group."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        cross_signal_dedup,
    )

    docs = spark.createDataFrame([
        Row(doc_id=0, text="the quick brown fox jumps over the lazy "
                           "dog in the park"),
        Row(doc_id=1, text="the quick brown fox jumps over the lazy "
                           "dog in the yard"),       # text-near 0
        Row(doc_id=2, text="completely different material about other "
                           "unrelated topics entirely"),  # emb-near 1
        Row(doc_id=3, text="a standalone document with wholly distinct "
                           "content and words")])
    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 0.999, 0.01]),  # parallel to 1
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0])])
    got = {r.doc_id: r.group_id for r in cross_signal_dedup(
        docs, emb, jaccard_threshold=0.5, cosine_threshold=0.95,
        lsh_planes=8, lsh_bands=4, dim=3).collect()}
    # 0-1 text edge, 1-2 embedding edge -> {0,1,2} chain; 3 isolated
    assert got == {0: 0, 1: 0, 2: 0, 3: 3}


def test_append_to_minhash_index_day_over_day(spark):
    """Index maintenance closure: index(corpus) ∪ append(admitted) ==
    index(corpus ∪ admitted) EXACTLY, so a day-2 admission against the
    appended index equals one against a full rebuild."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        incremental_minhash_admission,
    )

    base = "the quick brown fox jumps over the lazy dog in the park"
    corpus = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=2, text="completely different corpus text with "
                           "other words entirely present")])
    day1 = spark.createDataFrame([
        Row(doc_id=11, text="a genuinely novel batch document about "
                            "unrelated topics and fresh content")])
    idx = build_minhash_index(corpus, "text", "doc_id", portable=True)
    admitted = incremental_minhash_admission(
        day1, corpus, "text", "doc_id", portable=True, corpus_index=idx)
    assert admitted.count() == 1
    idx2 = append_to_minhash_index(idx, admitted, "text", "doc_id",
                                   portable=True)
    rebuilt = build_minhash_index(corpus.unionByName(day1),
                                  "text", "doc_id", portable=True)
    assert (sorted(tuple(r) for r in idx2.collect())
            == sorted(tuple(r) for r in rebuilt.collect()))
    # day 2: a near-dup of day-1's admission is rejected through the
    # APPENDED index (it never saw a rebuild)
    day2 = spark.createDataFrame([
        Row(doc_id=21, text="a genuinely novel batch document about "
                            "unrelated topics and new content"),
        Row(doc_id=23, text="entirely fresh day two material with "
                            "wholly distinct words")])
    corpus2 = corpus.unionByName(day1)
    via_append = {r.doc_id for r in incremental_minhash_admission(
        day2, corpus2, "text", "doc_id", portable=True,
        corpus_index=idx2).collect()}
    via_rebuild = {r.doc_id for r in incremental_minhash_admission(
        day2, corpus2, "text", "doc_id", portable=True,
        corpus_index=rebuilt).collect()}
    assert via_append == via_rebuild == {23}


def test_dedup_group_stats_histogram(spark):
    """Histogram over a known mapping: groups of size 3, 2, 1, 1."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        dedup_group_stats,
    )

    mapping = spark.createDataFrame(
        [Row(doc_id=i, group_id=g) for i, g in
         [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5), (6, 6)]])
    got = {r.group_size: (r.n_groups, r.n_docs)
           for r in dedup_group_stats(mapping).collect()}
    assert got == {3: (1, 3), 2: (1, 2), 1: (2, 2)}


def test_token_budget_counts(spark):
    """Whitespace vs BPE-ish token counts per group, plus chars."""
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.text_analysis import (
        token_budget,
    )

    df = spark.createDataFrame([
        Row(source="a", text="Hello, world!"),
        Row(source="a", text="one two three"),
        Row(source="b", text=""),
    ])
    got = {r.source: r for r in
           token_budget(df, "text", "source").collect()}
    # "Hello, world!": ws=2; bpe = ['hello', ',', ' world', '!'] = 4
    assert (got["a"].n_docs, got["a"].ws_tokens) == (2, 5)
    assert got["a"].bpe_tokens == 4 + 3
    assert got["a"].n_chars == len("Hello, world!") + len("one two three")
    assert (got["b"].ws_tokens, got["b"].bpe_tokens) == (0, 0)


def test_lsh_recall_report_invariants(spark):
    """One report row; common is bounded by both sides; the exact side
    finds the three >=0.5 pairs of the fixture; ratios live in [0,1]
    and identical docs are always common (they collide in every
    band)."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        lsh_recall_report,
    )

    rows = lsh_recall_report(_docs(spark), "text", "doc_id", n=3,
                             num_hashes=32, bands=8,
                             threshold=0.5, max_df=20).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_exact == 3                      # (0,1) (0,2) (1,2)
    assert r.n_common >= 1                     # (0,2) exact copies
    assert r.n_common <= min(r.n_exact, r.n_lsh)
    assert 0.0 <= r.recall <= 1.0 and 0.0 <= r.precision <= 1.0
    assert r.recall == round(r.n_common / r.n_exact, 6)
    assert r.precision == round(r.n_common / r.n_lsh, 6)


def test_simhash_identical_distance_zero(spark):
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(
        _docs(spark), shingles(tokens("text"), 2), "doc_id",
        max_hamming=8, bands=4).collect()}
    assert out.get((0, 2)) == 0  # identical docs → identical fingerprints


def test_simhash_portable_identical_distance_zero(spark):
    # the md5-derived (oracle-checkable) hash family finds the planted
    # exact dup too — fingerprints differ from xxhash64's, distances agree
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(
        _docs(spark), shingles(tokens("text"), 2), "doc_id",
        max_hamming=8, bands=4, portable=True).collect()}
    assert out.get((0, 2)) == 0


def test_simhash_rejects_word_straddling_bands(spark):
    with pytest.raises(ValueError):
        simhash_near_pairs(_docs(spark), shingles(tokens("text"), 2),
                           "doc_id", bands=1)


def test_simhash_max_bucket_caps_hot_buckets(spark):
    """r14: the max_bucket storm backstop (same contract as
    minhash_lsh_pairs). 40 identical docs share every band bucket —
    uncapped that is C(40,2)=780 quadratic pairs; the default cap (32)
    emits none of them, while pairs in small buckets are unaffected."""
    hot = [Row(doc_id=i, text="the same boilerplate text repeated here")
           for i in range(40)]
    pair = [Row(doc_id=100, text="a genuinely unique document alpha"),
            Row(doc_id=101, text="a genuinely unique document alpha")]
    df = spark.createDataFrame(hot + pair)
    feats = shingles(tokens("text"), 2)
    capped = {(r.id_a, r.id_b) for r in simhash_near_pairs(
        df, feats, "doc_id", max_hamming=3, bands=4).collect()}
    assert (100, 101) in capped            # small bucket survives
    assert not any(a < 100 for a, _ in capped)   # hot bucket dropped
    uncapped = {(r.id_a, r.id_b) for r in simhash_near_pairs(
        df, feats, "doc_id", max_hamming=3, bands=4,
        max_bucket=None).collect()}
    assert sum(1 for a, b in uncapped if a < 100 and b < 100) == 780
    assert capped < uncapped


def _vecs(spark):
    return spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.999, 0.01, 0.0]),  # ~parallel to 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),     # orthogonal
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),    # opposite
    ])


def test_embedding_near_dup_threshold(spark):
    out = {(r.id_a, r.id_b): r.cosine
           for r in embedding_near_dup(_vecs(spark), 0.95).collect()}
    assert list(out) == [(0, 1)]
    assert abs(out[(0, 1)] - 0.99995) < 1e-4
    # the block-pair BLAS kernel returns the fold path's pair and cosine
    blocked = {(r.id_a, r.id_b): r.cosine
               for r in embedding_near_dup_blocked(_vecs(spark), 0.95,
                                                   n_blocks=2).collect()}
    assert blocked == out


def test_blocked_kernel_matches_exact_path(spark):
    # The distributed block-pair kernel must reproduce the Catalyst fold
    # path pair-for-pair (same rounding rule, same id_a < id_b contract)
    # on a corpus big enough that every block pair is exercised.
    import random

    rnd = random.Random(7)
    rows = [Row(vec_id=i,
                embedding=[rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(40)]
    # seed exact duplicates and a near-duplicate across block boundaries
    rows[13] = Row(vec_id=13, embedding=rows[2].embedding)
    rows[29] = Row(vec_id=29,
                   embedding=[x * 1.001 for x in rows[5].embedding])
    df = spark.createDataFrame(rows)
    exact = {(r.id_a, r.id_b): r.cosine
             for r in embedding_near_dup(df, 0.8, dim=8).collect()}
    blocked = {(r.id_a, r.id_b): r.cosine
               for r in embedding_near_dup_blocked(df, 0.8,
                                                   n_blocks=3).collect()}
    assert blocked == exact
    assert (2, 13) in blocked and blocked[(2, 13)] == 1.0


def test_rp_lsh_guards(spark):
    import pytest

    with pytest.raises(ValueError, match="divide evenly"):
        rp_lsh_near_dup(_vecs(spark), planes=10, bands=4)
    # empty vectors must not collide into one bucket / produce pairs
    df = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[]),
        Row(vec_id=2, embedding=[]),
    ])
    out = rp_lsh_near_dup(df, threshold=-1.0, planes=8, bands=2).collect()
    assert not any(1 in (r.id_a, r.id_b) or 2 in (r.id_a, r.id_b)
                   for r in out)


def test_hard_negatives_label_filter_and_ranking(spark):
    """Negatives must exclude the query's own label and id, rank by
    cosine desc with vec_id tiebreak, and cap at k per query."""
    import math

    from nyctaxidatapipeline_spark.operators.similarity import (
        hard_negatives,
    )

    # label 0: ids 0,1 near x-axis; label 1: ids 10,11,12 spread
    vecs = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (10, [1.0, 0.05], 1),   # closest different-label to id 0
        (11, [0.5, 0.5], 1),
        (12, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
    out = hard_negatives(df, df.filter(F.col("vec_id") == 0), k=2, dim=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.vec_id for r in rows] == [10, 11]
    assert all(r.label == 1 and r.query_label == 0 for r in rows)
    got_cos = rows[0].cosine
    want = 1.0 / math.sqrt(1.0 + 0.05 ** 2)
    assert abs(got_cos - round(want, 6)) < 1e-9


def test_brute_force_topk_ranking(spark):
    vecs = _vecs(spark)
    out = brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.vec_id for r in rows] == [0, 1, 2, 3]
    assert rows[0].cosine == 1.0
    assert rows[3].cosine == -1.0
    assert math.isclose(rows[1].cosine, 0.99995, abs_tol=1e-4)


def test_ivf_exhaustive_probe_matches_brute_force(spark):
    # nprobe == n_centroids → every inverted list probed → identical
    # results (same candidates, same 6dp rounding, same tiebreak).
    vecs = _vecs(spark)
    qs = vecs.filter(F.col("vec_id") < 2)
    exact = {(r.query_id, r.rank): (r.vec_id, r.cosine)
             for r in brute_force_topk(vecs, qs, k=4, dim=3).collect()}
    ivf = {(r.query_id, r.rank): (r.vec_id, r.cosine)
           for r in ivf_topk(vecs, qs, k=4, n_centroids=2, nprobe=2,
                             dim=3).collect()}
    assert ivf == exact


def test_ivf_prebuilt_index_round_trip(spark, tmp_path):
    """A persisted (partitionBy list_id) IVF index read back via
    corpus_index= yields results identical to the in-query assignment
    — the deployment contract — and the probe join's scan carries a
    dynamic-partition-pruning filter on list_id, so probed lists are
    the only partitions READ at 100 TB."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
    )

    vecs = _vecs(spark)
    qs = vecs.filter(F.col("vec_id") < 2)
    cents = ivf_seed_centroids(vecs, n_centroids=2)
    direct = {(r.query_id, r.rank): (r.vec_id, r.cosine)
              for r in ivf_topk(vecs, qs, k=4, nprobe=1, dim=3,
                                centroids=cents).collect()}
    path = str(tmp_path / "ivf_index")
    (ivf_assign(vecs, cents, dim=3)
     .write.partitionBy("list_id").parquet(path))
    via = ivf_topk(None, qs, k=4, nprobe=1, dim=3, centroids=cents,
                   corpus_index=spark.read.parquet(path))
    got = {(r.query_id, r.rank): (r.vec_id, r.cosine)
           for r in via.collect()}
    assert got == direct
    plan = via._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # contract: an index without its centroids is unusable
    with pytest.raises(ValueError, match="centroids"):
        ivf_topk(None, qs, k=4,
                 corpus_index=spark.read.parquet(path))


def test_incremental_semantic_admission(spark, tmp_path):
    """Embedding-side admission gate: batch vectors near the corpus are
    rejected, in-batch near-dups resolve greedy-first (smaller id
    wins), novel and zero-norm vectors are admitted; a persisted
    (partitionBy list_id) index via corpus_index= yields identical
    verdicts; exhaustive probes equal the brute-force decision."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission,
        ivf_assign,
        ivf_seed_centroids,
    )

    corpus = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0])])
    batch = spark.createDataFrame([
        Row(vec_id=1, embedding=[0.999, 0.01, 0.0]),   # near corpus 0
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),      # novel
        Row(vec_id=5, embedding=[0.0, 0.01, 0.999]),   # near batch 3
        Row(vec_id=7, embedding=[0.0, 0.0, 0.0])])     # zero-norm
    cents = ivf_seed_centroids(corpus, n_centroids=2)
    got = {r.vec_id for r in incremental_semantic_admission(
        batch, corpus, threshold=0.95, nprobe=2, dim=3,
        centroids=cents).collect()}
    assert got == {3, 7}
    # persisted-index path: identical verdicts through the round trip
    path = str(tmp_path / "ivf_adm_index")
    (ivf_assign(corpus, cents, dim=3)
     .write.partitionBy("list_id").parquet(path))
    via_df = incremental_semantic_admission(
        batch, None, threshold=0.95, nprobe=2, dim=3, centroids=cents,
        corpus_index=spark.read.parquet(path))
    via = {r.vec_id for r in via_df.collect()}
    assert via == got
    # deployment contract: the probe join keys on the partition column,
    # so the index scan carries a dynamic-partition-pruning filter —
    # probed lists are the only partitions READ at 100 TB (the same
    # plan gate as the ivf_topk round trip)
    plan = via_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    with pytest.raises(ValueError, match="centroids"):
        incremental_semantic_admission(
            batch, None, corpus_index=spark.read.parquet(path))
    # nprobe=1 can only reject FEWER (probed lists shrink)
    fewer = {r.vec_id for r in incremental_semantic_admission(
        batch, corpus, threshold=0.95, nprobe=1, dim=3,
        centroids=cents).collect()}
    assert got <= fewer


def test_incremental_semantic_auto_matches_expr_path(spark):
    """The BLAS-routed auto variant reaches the same verdicts as the
    expression path on well-separated vectors (same centroids, same
    nprobe), and its default list count follows the corpus-size-aware
    sizing."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission,
        incremental_semantic_admission_auto,
        ivf_seed_centroids,
        knn_graph_ivf_n_centroids,
    )

    corpus = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0])])
    batch = spark.createDataFrame([
        Row(vec_id=1, embedding=[0.999, 0.01, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
        Row(vec_id=5, embedding=[0.0, 0.01, 0.999]),
        Row(vec_id=7, embedding=[0.0, 0.0, 0.0])])
    cents = ivf_seed_centroids(corpus, n_centroids=2)
    expr = {r.vec_id for r in incremental_semantic_admission(
        batch, corpus, threshold=0.95, nprobe=2, dim=3,
        centroids=cents).collect()}
    auto = {r.vec_id for r in incremental_semantic_admission_auto(
        batch, corpus, threshold=0.95, nprobe=2,
        centroids=cents).collect()}
    assert auto == expr == {3, 7}
    # default sizing engages when n_centroids omitted
    assert knn_graph_ivf_n_centroids(2, 2) == 2
    auto_sized = {r.vec_id for r in incremental_semantic_admission_auto(
        batch, corpus, threshold=0.95, nprobe=2).collect()}
    assert auto_sized == {3, 7}


def test_ivf_pruned_probe_is_subset_with_exact_scores(spark):
    # nprobe < n_centroids: every returned hit must carry the same cosine
    # the exact path computes (rerank is exact; only recall is approximate).
    vecs = _vecs(spark)
    qs = vecs.filter(F.col("vec_id") < 2)
    exact = {(r.query_id, r.vec_id): r.cosine
             for r in brute_force_topk(vecs, qs, k=4, dim=3).collect()}
    got = ivf_topk(vecs, qs, k=4, n_centroids=2, nprobe=1, dim=3).collect()
    assert got  # probing the nearest list always yields candidates
    for r in got:
        assert exact[(r.query_id, r.vec_id)] == r.cosine


def _edges(spark, pairs):
    return spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in pairs])


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4 (diameter 3 → needs multiple propagation rounds),
    # island 7-8, plus an isolated pairless node never appears.
    cc = {r.id: r.comp for r in connected_components(
        _edges(spark, [(2, 1), (2, 3), (4, 3), (7, 8)])).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_connected_components_long_path_olog2_rounds(spark):
    # 1000-node path graph: diameter 999. Min-label propagation would need
    # ~1000 rounds; large-star/small-star must close it within max_iter=15
    # (O(log² n)) — this is the adversarial chain case from the Kiveris
    # et al. analysis, and the regression gate for the algorithm swap.
    edges = _edges(spark, [(i, i + 1) for i in range(999)])
    labels = connected_components(edges, max_iter=15,
                                  local_threshold=0).collect()
    assert len(labels) == 1000
    assert all(r.comp == 0 for r in labels)


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    # A 16-node path cannot close in a single round — partial labels must
    # raise, never return (downstream dedup would drop the wrong rows).
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges(spark, [(i, i + 1) for i in range(15)]),
                             max_iter=1, local_threshold=0)


def test_connected_components_local_matches_distributed(spark):
    # The guarded driver-side union-find fast path must label exactly like
    # the large-star/small-star loop: chain + island + triangle + dup edges
    # in both orientations.
    pairs = [(2, 1), (2, 3), (4, 3), (7, 8), (10, 11), (11, 12), (12, 10),
             (1, 2), (3, 2)]
    edges = _edges(spark, pairs)
    local = {(r.id, r.comp) for r in connected_components(edges).collect()}
    dist = {(r.id, r.comp)
            for r in connected_components(edges,
                                          local_threshold=0).collect()}
    assert local == dist
    assert local == {(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7),
                     (10, 10), (11, 10), (12, 10)}


def test_connected_components_small_graph_is_local_relation(spark):
    # The union-find finish hands back a JVM local relation (exact
    # size known to the optimizer, no Python worker on read), not a
    # Python-worker RDD of unknown size.
    comp = connected_components(_edges(spark, [(2, 1), (3, 2), (7, 8)]))
    plan = comp._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert sorted(comp.collect()) == [(1, 1), (2, 1), (3, 1), (7, 7),
                                      (8, 7)]


def test_dedup_keep_representatives_drops_non_min(spark):
    docs = _docs(spark)
    pairs = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    kept = sorted(r.doc_id
                  for r in dedup_keep_representatives(docs, pairs,
                                                      "doc_id").collect())
    # 0,1,2 form one near-dup component (keep 0); 3 is untouched.
    assert kept == [0, 3]


def test_keep_latest_per_key(spark):
    import datetime as dt

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import keep_latest

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    df = spark.createDataFrame([
        Row(k=1, ts=ts(0), v="old"), Row(k=1, ts=ts(9), v="new"),
        Row(k=2, ts=ts(5), v="only"),
        Row(k=3, ts=ts(7), v="tie_a"), Row(k=3, ts=ts(7), v="tie_b"),
    ])
    out = {r["k"]: r["v"]
           for r in keep_latest(df, ["k"], "ts",
                                tiebreak_col="v").collect()}
    assert out == {1: "new", 2: "only", 3: "tie_b"}  # desc tiebreak
    # deterministic under repartition
    out2 = {r["k"]: r["v"]
            for r in keep_latest(df.repartition(5), ["k"], "ts",
                                 tiebreak_col="v").collect()}
    assert out == out2
    # a key column cannot break ties (constant per window partition)
    import pytest

    with pytest.raises(ValueError, match="tiebreak_col"):
        keep_latest(df, ["k"], "ts", tiebreak_col="k")
    with pytest.raises(ValueError, match="tiebreak_col"):
        keep_latest(df, ["k"], "ts", tiebreak_col=None)


def test_incremental_fingerprint_dedup(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_fingerprint_dedup,
    )

    corpus = spark.createDataFrame([
        Row(doc_id=1, text="the old document about foxes"),
        Row(doc_id=2, text="another existing piece of text"),
    ])
    new = spark.createDataFrame([
        Row(doc_id=10, text="THE OLD   document about foxes"),  # dup of 1
                                                  # (normalized)
        Row(doc_id=11, text="a genuinely new document"),
        Row(doc_id=12, text="a GENUINELY new document"),        # intra-batch
                                                  # dup of 11
        Row(doc_id=13, text="something else entirely here"),
    ])
    got = {r["doc_id"] for r in
           incremental_fingerprint_dedup(new, corpus, "text",
                                         "doc_id").collect()}
    assert got == {11, 13}                   # min-id wins in batch


# --- relational Bloom filter (incremental dedup pre-pass) -----------------

def test_bloom_no_false_negatives(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.operators.dedup import (
        bloom_maybe_contains,
        bloom_words,
    )
    keys = spark.createDataFrame(
        [Row(k=f"key-{i}") for i in range(500)])
    words = bloom_words(keys, "k", num_bits=1 << 13)
    tagged = bloom_maybe_contains(keys, "k", words, num_bits=1 << 13)
    assert tagged.filter(~F.col("_maybe")).count() == 0


def test_bloom_fpp_is_small(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.operators.dedup import (
        bloom_maybe_contains,
        bloom_words,
    )
    keys = spark.createDataFrame(
        [Row(k=f"in-{i}") for i in range(500)])
    others = spark.createDataFrame(
        [Row(k=f"out-{i}") for i in range(2000)])
    # m = 8192 bits for n=500, j=2 -> fpp ~ (1-e^(-2*500/8192))^2 ~ 1.3%
    words = bloom_words(keys, "k", num_bits=1 << 13)
    fp = (bloom_maybe_contains(others, "k", words, num_bits=1 << 13)
          .filter(F.col("_maybe")).count())
    assert fp / 2000 < 0.05, fp


def test_bloom_incremental_dedup_equals_plain(spark):
    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_fingerprint_dedup,
        incremental_fingerprint_dedup_bloom,
    )
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc number {i % 40}") for i in range(100)])
    new = spark.createDataFrame(
        [Row(doc_id=100 + i, text=f"doc number {i % 60}")
         for i in range(120)])
    plain = incremental_fingerprint_dedup(new, corpus, "text", "doc_id")
    bloom = incremental_fingerprint_dedup_bloom(new, corpus, "text",
                                                "doc_id",
                                                num_bits=1 << 12)
    assert plain.exceptAll(bloom).count() == 0
    assert bloom.exceptAll(plain).count() == 0
    # the admitted set must be exactly the batch texts unseen in corpus
    got = {r.doc_id for r in bloom.collect()}
    assert got == {100 + i for i in range(40, 60)}


def test_knn_graph_matches_brute_force(spark):
    # knn_graph's merged per-block partials must equal brute_force_topk
    # run with queries=corpus and self-pairs dropped — for every anchor,
    # under any block count (1 block = single matmul; 5 blocks = every
    # pair shape including sparse diagonals).
    import random

    from nyctaxidatapipeline_spark.operators.similarity import (
        brute_force_topk,
        knn_graph,
    )

    rnd = random.Random(11)
    rows = [Row(vec_id=i,
                embedding=[rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(37)]
    rows[20] = Row(vec_id=20, embedding=rows[3].embedding)  # exact dup
    df = spark.createDataFrame(rows)
    # reference: exact top-(k+1) incl. self, re-ranked after dropping self
    ref = brute_force_topk(df, df, k=4, dim=8)
    expect = {}
    for r in ref.collect():
        if r.query_id != r.vec_id:
            expect.setdefault(r.query_id, []).append(
                (r.vec_id, r.cosine))
    # brute k=4 incl. self leaves >=3 non-self rows; compare top-3
    for nb in (1, 5):
        got = {}
        for r in knn_graph(df, k=3, n_blocks=nb).collect():
            got.setdefault(r.query_id, []).append(
                (r.vec_id, r.cosine, r.rank))
        assert set(got) == set(range(37))
        for qid, lst in got.items():
            lst.sort(key=lambda t: t[2])
            assert [t[:2] for t in lst] == expect[qid][:3], qid
    # the exact duplicate pair must be each other's rank-1 at cosine 1.0
    g = {r.query_id: (r.vec_id, r.cosine)
         for r in knn_graph(df, k=1, n_blocks=5).collect()}
    assert g[3] == (20, 1.0) and g[20] == (3, 1.0)


def test_knn_graph_zero_vector_anchor_survives(spark):
    # A zero vector must not vanish from the graph: the norm clamp
    # scores it cosine 0.0 against everything instead of NaN (which the
    # top-k keep-filter would silently drop, breaking oracle parity).
    from nyctaxidatapipeline_spark.operators.similarity import knn_graph

    rows = [Row(vec_id=0, embedding=[0.0, 0.0, 0.0, 0.0])]
    rows += [Row(vec_id=i, embedding=[float(i), 1.0, 0.0, 0.0])
             for i in range(1, 6)]
    df = spark.createDataFrame(rows)
    got = {r.query_id: (r.vec_id, r.cosine)
           for r in knn_graph(df, k=1, n_blocks=2).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    # zero anchor ranks by tie-broken id at cosine 0.0
    assert got[0] == (1, 0.0)


def test_lsh_pairs_and_production_index_round_trip(spark, tmp_path):
    """A persisted MinHash band-bucket index read back via
    corpus_index= / reps_index= yields pairs and groupings identical
    to the in-query signature pass — the deployment contract of the
    cross_signal_dedup_indexed registration's lexical arm. The index
    for the production path is built over the exact-collapse
    REPRESENTATIVES (an index over the raw corpus would re-inflate
    the copy-class buckets the collapse deflates)."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        build_minhash_index,
        exact_representatives,
    )

    df = _docs(spark)
    direct = {(r.id_a, r.id_b, r.jaccard) for r in minhash_lsh_pairs(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.5, portable=True).collect()}
    path = str(tmp_path / "mh_index")
    (build_minhash_index(df, "text", "doc_id", n=3, num_hashes=32,
                         bands=8, portable=True).write.parquet(path))
    via = {(r.id_a, r.id_b, r.jaccard) for r in minhash_lsh_pairs(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.5, portable=True,
        corpus_index=spark.read.parquet(path)).collect()}
    assert via == direct and direct  # non-vacuous
    # production path: index over representatives
    reps = exact_representatives(df, "text", "doc_id")
    assert {(r.doc_id, r.text) for r in reps.collect()} == {
        (0, DOCS[0][1]), (1, DOCS[1][1]), (3, DOCS[3][1])}
    want = {r.doc_id: r.group_id for r in near_dup_production(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.5, portable=True).collect()}
    rpath = str(tmp_path / "mh_reps_index")
    (build_minhash_index(reps, "text", "doc_id", n=3, num_hashes=32,
                         bands=8, portable=True).write.parquet(rpath))
    got = {r.doc_id: r.group_id for r in near_dup_production(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.5, portable=True,
        reps_index=spark.read.parquet(rpath)).collect()}
    assert got == want == {0: 0, 1: 0, 2: 0, 3: 3}


def test_rp_lsh_auto_index_round_trip(spark, tmp_path):
    """build_rp_lsh_index persisted + read back via corpus_index=
    yields pairs identical to the in-query signature projection, at
    the same auto operating point."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        build_rp_lsh_index,
        rp_lsh_near_dup_auto,
    )

    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.999, 0.01, 0.0]),   # near 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.999, 0.02]),   # near 2
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0])])
    direct = {(r.id_a, r.id_b, r.cosine) for r in rp_lsh_near_dup_auto(
        emb, threshold=0.95, target_recall=0.9, max_bands=8,
        dim=3).collect()}
    path = str(tmp_path / "rp_index")
    (build_rp_lsh_index(emb, threshold=0.95, target_recall=0.9,
                        max_bands=8, dim=3).write.parquet(path))
    via = {(r.id_a, r.id_b, r.cosine) for r in rp_lsh_near_dup_auto(
        emb, threshold=0.95, target_recall=0.9, max_bands=8, dim=3,
        corpus_index=spark.read.parquet(path)).collect()}
    assert via == direct and (0, 1, 1.0) not in direct  # rounded cosines
    assert {(a, b) for a, b, _ in direct} >= {(0, 1), (2, 3)}


def test_cross_signal_dedup_indexed_round_trip(spark, tmp_path):
    """Both arms' persisted indexes plumbed through cross_signal_dedup
    yield the IDENTICAL grouping as the in-query rebuild — the
    index-representation-independence the shared oracle SQL of the
    cross_signal_dedup_indexed registration relies on."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        build_minhash_index,
        cross_signal_dedup,
        exact_representatives,
    )
    from nyctaxidatapipeline_spark.operators.similarity import (
        build_rp_lsh_index,
    )

    docs = spark.createDataFrame([
        Row(doc_id=0, text="the quick brown fox jumps over the lazy "
                           "dog in the park"),
        Row(doc_id=1, text="the quick brown fox jumps over the lazy "
                           "dog in the yard"),       # text-near 0
        Row(doc_id=2, text="completely different material about other "
                           "unrelated topics entirely"),  # emb-near 1
        Row(doc_id=3, text="a standalone document with wholly distinct "
                           "content and words")])
    emb = spark.createDataFrame([
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 0.999, 0.01]),  # parallel to 1
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0])])
    kw = dict(jaccard_threshold=0.5, cosine_threshold=0.95,
              target_recall=0.9, max_bands=8, dim=3, portable=True)
    want = {r.doc_id: r.group_id
            for r in cross_signal_dedup(docs, emb, **kw).collect()}
    lex = str(tmp_path / "lex_index")
    (build_minhash_index(exact_representatives(docs, "text", "doc_id"),
                         "text", "doc_id", portable=True)
     .write.parquet(lex))
    embp = str(tmp_path / "emb_index")
    (build_rp_lsh_index(emb, threshold=0.95, target_recall=0.9,
                        max_bands=8, dim=3).write.parquet(embp))
    got = {r.doc_id: r.group_id for r in cross_signal_dedup(
        docs, emb, lex_index=spark.read.parquet(lex),
        emb_index=spark.read.parquet(embp), **kw).collect()}
    assert got == want == {0: 0, 1: 0, 2: 0, 3: 3}
    # an emb index is the AUTO operating point's; explicit planes
    # cannot consume it
    with pytest.raises(ValueError, match="lsh_planes"):
        cross_signal_dedup(docs, emb, lsh_planes=8, lsh_bands=4,
                           emb_index=spark.read.parquet(embp), **kw)


def test_index_param_stamp_survives_parquet_and_rejects_mismatch(
        spark, tmp_path):
    """ADVICE r10: corpus_index consumers must not silently accept an
    index built at different parameters. The stamp rides column
    metadata through the parquet round trip; a mismatched probe
    raises, a matched probe passes, an UNSTAMPED index still passes
    (back-compat with pre-stamp persists)."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        incremental_minhash_admission,
    )
    from nyctaxidatapipeline_spark.operators.indexmeta import (
        read_index_params,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS])
    path = str(tmp_path / "mh_index")
    build_minhash_index(docs, "text", "doc_id", n=3, num_hashes=32,
                        bands=8, portable=True).write.parquet(path)
    back = spark.read.parquet(path)
    got = read_index_params(back)
    assert got and got["kind"] == "minhash_lsh" and got["bands"] == "8"
    batch = docs.limit(2)
    # matched: runs
    assert incremental_minhash_admission(
        batch, docs, "text", "doc_id", n=3, num_hashes=32, bands=8,
        portable=True, corpus_index=back).count() >= 0
    # mismatched bands: raises before any job
    with pytest.raises(ValueError, match="different parameters"):
        incremental_minhash_admission(
            batch, docs, "text", "doc_id", n=3, num_hashes=32, bands=4,
            portable=True, corpus_index=back)
    with pytest.raises(ValueError, match="different parameters"):
        minhash_lsh_pairs(docs, "text", "doc_id", n=5, num_hashes=32,
                          bands=8, portable=True, corpus_index=back)
    with pytest.raises(ValueError, match="different parameters"):
        append_to_minhash_index(back, batch, "text", "doc_id", n=3,
                                num_hashes=64, bands=8, portable=True)
    # unstamped (hand-built / pre-0.2.1): docstring contract only
    plain = back.select(
        "doc_id", F.col("band").cast("int").alias("band"), "bucket")
    assert read_index_params(plain) is None
    assert minhash_lsh_pairs(docs, "text", "doc_id", n=3, num_hashes=32,
                             bands=8, portable=True,
                             corpus_index=plain).count() >= 0


def test_rp_lsh_index_stamp_rejects_mismatched_operating_point(
        spark, tmp_path):
    from nyctaxidatapipeline_spark.operators.similarity import (
        build_rp_lsh_index,
        rp_lsh_near_dup_auto,
    )

    emb = spark.createDataFrame([
        Row(vec_id=i, embedding=[float(i == j) for j in range(3)])
        for i in range(3)])
    path = str(tmp_path / "rp_index")
    (build_rp_lsh_index(emb, threshold=0.95, target_recall=0.9,
                        max_bands=8, dim=3).write.parquet(path))
    back = spark.read.parquet(path)
    with pytest.raises(ValueError, match="different parameters"):
        rp_lsh_near_dup_auto(emb, threshold=0.90, target_recall=0.9,
                             max_bands=8, dim=3, corpus_index=back)
    with pytest.raises(ValueError, match="different parameters"):
        rp_lsh_near_dup_auto(emb, threshold=0.95, target_recall=0.9,
                             max_bands=16, dim=3, corpus_index=back)


def test_semantic_auto_routed_index_round_trip(spark, tmp_path):
    """build_semantic_routing_index persisted partitionBy(list_id) +
    read back via corpus_routed= yields the SAME admitted set as the
    in-query corpus routing; wrong centroids raise on the stamp."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        build_semantic_routing_index,
        incremental_semantic_admission_auto,
        ivf_seed_centroids_portable,
    )

    # pseudo-random corpus; batch = near-copies of corpus vectors
    # (must reject) + novel orthogonal-ish vectors (must admit)
    def vec(seed):
        return [float((seed * 2654435761 + j * 40503) % 997) / 997.0
                for j in range(4)]

    corpus_rows = [Row(vec_id=i, embedding=vec(i)) for i in range(50)]
    batch_rows = ([Row(vec_id=100 + i,
                       embedding=[x * 1.001 for x in vec(i)])
                   for i in range(5)] +          # near-dups of corpus
                  [Row(vec_id=200 + i,
                       embedding=[0.0, 0.0, 0.0, float(i + 1)])
                   for i in range(3)])           # novel direction
    corpus = spark.createDataFrame(corpus_rows)
    batch = spark.createDataFrame(batch_rows)
    cents = ivf_seed_centroids_portable(
        corpus.unionByName(batch), n_centroids=4)
    direct = {r.vec_id for r in incremental_semantic_admission_auto(
        batch, corpus, threshold=0.995, nprobe=2,
        centroids=cents).collect()}
    assert direct and any(v >= 200 for v in direct) \
        and not all(100 <= v < 200 for v in direct)
    path = str(tmp_path / "routed")
    (build_semantic_routing_index(corpus, cents)
     .write.partitionBy("list_id").parquet(path))
    back = spark.read.parquet(path)
    via = {r.vec_id for r in incremental_semantic_admission_auto(
        batch, None, threshold=0.995, nprobe=2, centroids=cents,
        corpus_routed=back).collect()}
    assert via == direct and 0 < len(direct) < batch.count() + 1
    # wrong centroids (same count, different matrix): stamp rejects
    bad = [[c + 0.5 for c in row] for row in cents]
    with pytest.raises(ValueError, match="different parameters"):
        incremental_semantic_admission_auto(
            batch, None, threshold=0.995, nprobe=2, centroids=bad,
            corpus_routed=back)
    # neither corpus nor index: explicit error
    with pytest.raises(ValueError, match="corpus"):
        incremental_semantic_admission_auto(
            batch, None, threshold=0.995, nprobe=2, centroids=cents)


def test_append_to_semantic_routing_index_equals_rebuild(spark):
    """route(corpus + admitted) == route(corpus) + route(admitted) —
    the day-over-day closure that lets a deployment append routed
    admissions instead of re-routing the corpus; mismatched centroids
    on the append side raise on the stamp."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        append_to_semantic_routing_index,
        build_semantic_routing_index,
        ivf_seed_centroids_portable,
    )

    def vec(seed):
        return [float((seed * 2654435761 + j * 40503) % 997) / 997.0
                for j in range(4)]

    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i)) for i in range(40)])
    admitted = spark.createDataFrame(
        [Row(vec_id=100 + i, embedding=vec(77 + i)) for i in range(10)])
    cents = ivf_seed_centroids_portable(corpus, n_centroids=4)
    rebuilt = {(r.list_id, r._id) for r in build_semantic_routing_index(
        corpus.unionByName(admitted), cents).collect()}
    appended = {(r.list_id, r._id) for r in
                append_to_semantic_routing_index(
                    build_semantic_routing_index(corpus, cents),
                    admitted, cents).collect()}
    assert appended == rebuilt and len(rebuilt) == 50
    bad = [[c + 0.25 for c in row] for row in cents]
    with pytest.raises(ValueError, match="different parameters"):
        append_to_semantic_routing_index(
            build_semantic_routing_index(corpus, cents), admitted, bad)


def test_corpus_routed_without_centroids_raises(spark):
    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission_auto,
    )

    emb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.0])])
    with pytest.raises(ValueError, match="requires the centroids"):
        incremental_semantic_admission_auto(
            emb, None, corpus_routed=emb.select(
                F.lit(0).alias("list_id"),
                F.col("vec_id").alias("_id"),
                F.col("embedding").alias("_vec")))


def test_corpus_routed_plan_routes_only_the_batch(spark, tmp_path):
    """Structural pin of the corpus_routed= claim: the in-query auto
    admission plan carries TWO mapInPandas routing kernels (batch +
    corpus); the indexed plan carries exactly ONE (the batch) — the
    corpus side is a parquet scan of the persisted routed table,
    never a re-route."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        build_semantic_routing_index,
        incremental_semantic_admission_auto,
        ivf_seed_centroids_portable,
    )
    from nyctaxidatapipeline_spark.plans import explain_str

    def vec(seed):
        return [float((seed * 2654435761 + j * 40503) % 997) / 997.0
                for j in range(4)]

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i)) for i in range(30)])
    corpus = emb.filter(F.col("vec_id") % 5 != 1)
    batch = emb.filter(F.col("vec_id") % 5 == 1)
    cents = ivf_seed_centroids_portable(emb, n_centroids=4)
    inq = explain_str(incremental_semantic_admission_auto(
        batch, corpus, threshold=0.9, nprobe=2, centroids=cents))
    path = str(tmp_path / "routed")
    (build_semantic_routing_index(corpus, cents)
     .write.partitionBy("list_id").parquet(path))
    idx = explain_str(incremental_semantic_admission_auto(
        batch, None, threshold=0.9, nprobe=2, centroids=cents,
        corpus_routed=spark.read.parquet(path)))
    # formatted explain lists each node twice (tree + details):
    # the in-query plan carries both routing kernels (batch + corpus)
    assert inq.count("MapInPandas") == 4, inq
    # the indexed plan's only Python kernel is the batch routing, which
    # sits behind the lazy localCheckpoint (shown as an RDD scan), so
    # the final plan shows NO MapInPandas at all — and the corpus side
    # is a parquet scan of the persisted routed table, never a kernel
    assert idx.count("MapInPandas") == 0, idx
    assert "Scan parquet" in idx


def test_unstamped_framework_index_warns_once(spark):
    """ADVICE r11: when the FRAMEWORK built the index (the streaming
    doors' read-back paths pass ``expect_stamp=True``), an unstamped
    frame means validation silently degraded — warn once per call-site
    label; external/hand-built frames (default ``expect_stamp=False``)
    stay silent."""
    import warnings

    from nyctaxidatapipeline_spark.operators import indexmeta
    from nyctaxidatapipeline_spark.operators.indexmeta import (
        check_index_params,
    )

    df = spark.createDataFrame([Row(doc_id=0, band=1, bucket="x")])
    label = "test_unstamped_framework_index_warns_once"
    indexmeta._WARNED_UNSTAMPED.discard(label)
    with pytest.warns(UserWarning, match="UNSTAMPED"):
        check_index_params(df, {"bands": 8}, label, expect_stamp=True)
    # once per label: the second call is silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        check_index_params(df, {"bands": 8}, label, expect_stamp=True)
        # default path (hand-built frames): never warns
        check_index_params(df, {"bands": 8}, label + "-other")


def test_bucket_cap_audit_planted_hot_bucket(spark):
    """VERDICT r14 task 4: the cap audit prices the storm backstop —
    a 40-copy class over cap 32 shows up as dropped buckets in EVERY
    band (exact copies share the whole signature), with the doc share
    and skipped candidate expansions accounted; an over-sized cap
    reports zeros."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        minhash_cap_audit,
        simhash_cap_audit,
    )

    hot = "the same boilerplate page body repeated everywhere verbatim"
    near_a = "a quick brown fox jumps over the lazy dog in the park"
    near_b = "a quick brown fox jumps over the lazy dog in the yard"
    df = spark.createDataFrame(
        [Row(doc_id=i, text=hot) for i in range(40)]
        + [Row(doc_id=100, text=near_a), Row(doc_id=101, text=near_b)])

    row = minhash_cap_audit(df, "text", "doc_id", n=3, num_hashes=32,
                            bands=8, max_bucket=32).collect()[0]
    # 40 identical texts -> identical signatures -> one 40-doc bucket
    # in each of the 8 bands, all over the 32 cap
    assert row.dropped_buckets == 8
    assert row.max_bucket_size == 40
    assert row.cand_pairs_dropped == 8 * (40 * 39) // 2
    assert row.docs_dropped == 40
    assert row.docs_banded == 42
    assert row.doc_share_dropped == round(40 / 42, 6)
    # near_a/near_b still collide in >=1 band: multi > dropped
    assert row.multi_buckets > row.dropped_buckets

    # cap above the hottest bucket: nothing dropped
    clear = minhash_cap_audit(df, "text", "doc_id", n=3, num_hashes=32,
                              bands=8, max_bucket=64).collect()[0]
    assert clear.dropped_buckets == 0
    assert clear.docs_dropped == 0
    assert clear.doc_share_dropped == 0.0
    assert clear.max_bucket_size == 40  # the storm is still visible

    # simhash sibling: same story over the pigeonhole banding
    from nyctaxidatapipeline_spark.functions.text import tokens as _toks
    srow = simhash_cap_audit(df, _toks(F.col("text")), "doc_id",
                             bands=4, max_bucket=32).collect()[0]
    assert srow.dropped_buckets == 4
    assert srow.docs_dropped == 40
    assert srow.max_bucket_size == 40


def test_bucket_cap_audit_empty_and_index_paths(spark, tmp_path):
    """Zero-row banding yields the all-zeros row (no ANSI nulls), and
    the prebuilt-index path audits the identical buckets as the
    in-query pass."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        bucket_cap_audit,
        build_minhash_index,
        minhash_cap_audit,
    )

    empty = spark.createDataFrame(
        [], schema="doc_id long, band int, bucket string")
    row = bucket_cap_audit(empty, "doc_id", 32).collect()[0]
    assert tuple(row) == (0, 0, 0, 0, 0, 0, 0.0)

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="shared boilerplate body text here again")
         for i in range(5)]
        + [Row(doc_id=9, text="one genuinely unique document about "
                              "completely other material")])
    audit = minhash_cap_audit(docs, "text", "doc_id", portable=True,
                              max_bucket=3)
    # no two-distinct-aggregate Expand: its projection order follows
    # session-wide exprIds, so the plan would depend on earlier queries
    assert "Expand" not in \
        audit._jdf.queryExecution().optimizedPlan().toString()
    direct = audit.collect()[0]
    idx = build_minhash_index(docs, "text", "doc_id", portable=True)
    path = str(tmp_path / "audit_idx")
    idx.write.parquet(path)
    via = minhash_cap_audit(docs, "text", "doc_id", portable=True,
                            max_bucket=3,
                            corpus_index=spark.read.parquet(path)
                            ).collect()[0]
    assert tuple(direct) == tuple(via)
    assert direct.dropped_buckets == 8 and direct.docs_dropped == 5


def test_candidate_shapes_have_one_copy():
    """One copy of each near-dup candidate shape under ``operators/``:
    the posting-list pair expansion (``slice(ids, i + 2, size(ids))``)
    is ``dedup._posting_pairs``, the band-table explode (``"bb.band"``)
    is ``dedup._band_table``, the block-pair layout (``sequence`` from
    ``_blk``) is ``similarity._block_pairs``, and similarity.py has one
    IVF ``route`` kernel."""
    import ast
    import pathlib

    from nyctaxidatapipeline_spark import operators

    sites = {"posting": set(), "band": set(), "block": set()}
    routes = 0
    for path in sorted(pathlib.Path(operators.__file__).parent
                       .glob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            where = f"{path.stem}.{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                if isinstance(node, ast.Call) \
                        and isinstance(node.func, ast.Attribute):
                    args = [ast.unparse(a) for a in node.args]
                    if (node.func.attr == "slice" and len(args) == 3
                            and args[1] == "i + F.lit(2)"
                            and args[2] == f"F.size({args[0]})"):
                        sites["posting"].add(where)
                    if (node.func.attr == "sequence"
                            and args[:1] == ["F.col('_blk')"]):
                        sites["block"].add(where)
                elif isinstance(node, ast.Constant) \
                        and node.value == "bb.band":
                    sites["band"].add(where)
                elif isinstance(node, ast.FunctionDef) \
                        and node.name == "route" \
                        and path.stem == "similarity":
                    routes += 1
    assert sites == {"posting": {"dedup._posting_pairs"},
                     "band": {"dedup._band_table"},
                     "block": {"similarity._block_pairs"}}
    assert routes == 1


def test_ivf_occupancy_audit_planted_routing(spark):
    """r15: the ANN sibling of the cap audits — every arm
    hand-computable on a planted 2-centroid routing: three vectors
    nearest e1, one nearest e2 → sizes (3, 1), mean 2.0, imbalance
    3/2.0 = 1.5. An empty corpus yields the all-zeros row."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        ivf_occupancy_audit,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame([
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.8, 0.2]),
        Row(vec_id=3, embedding=[0.7, 0.3]),
        Row(vec_id=4, embedding=[0.1, 0.9]),
    ])
    row = ivf_occupancy_audit(df, cents, dim=2).collect()[0]
    assert row["n_lists"] == 2
    assert row["vecs_routed"] == 4
    assert row["nonempty_lists"] == 2
    assert row["max_list"] == 3
    assert row["min_list"] == 1
    assert row["mean_occupancy"] == 2.0
    assert row["imbalance"] == 1.5
    empty = ivf_occupancy_audit(df.filter("vec_id < 0"), cents,
                                dim=2).collect()[0]
    assert (empty["vecs_routed"] == 0 and empty["nonempty_lists"] == 0
            and empty["max_list"] == 0 and empty["min_list"] == 0
            and empty["mean_occupancy"] == 0.0
            and empty["imbalance"] == 0.0)


def test_rp_lsh_cap_audit_planted_hot_bucket(spark):
    """r15: the RP-LSH bucket audit over a planted hot bucket — 21
    identical vectors share every band's bucket (identical signature),
    so with a cap below 21 exactly the duplicate's buckets (one per
    derived band) report as dropped; the 3 distinct fillers can at
    most join those buckets, bounding the arms tightly without
    hand-computing md5 plane signs."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        rp_lsh_cap_audit,
        rp_lsh_params,
    )

    dim = 8
    dup = [1.0] + [0.0] * (dim - 1)
    fillers = [[0.0] * i + [1.0] + [0.0] * (dim - 1 - i)
               for i in (1, 2, 3)]
    rows = [Row(vec_id=i, embedding=dup) for i in range(21)]
    rows += [Row(vec_id=100 + i, embedding=v)
             for i, v in enumerate(fillers)]
    df = spark.createDataFrame(rows)
    _, bands = rp_lsh_params(24, 0.95, 0.9, 128)
    row = rp_lsh_cap_audit(df, threshold=0.95, dim=dim,
                           max_bucket=10).collect()[0]
    assert row["dropped_buckets"] == bands
    assert 21 <= row["max_bucket_size"] <= 24
    assert row["cand_pairs_dropped"] >= bands * (21 * 20 // 2)
    assert row["docs_banded"] == 24
    assert 21 <= row["docs_dropped"] <= 24
    # cap above the corpus -> nothing dropped
    clear = rp_lsh_cap_audit(df, threshold=0.95, dim=dim,
                             max_bucket=24).collect()[0]
    assert clear["dropped_buckets"] == 0
    assert clear["cand_pairs_dropped"] == 0
