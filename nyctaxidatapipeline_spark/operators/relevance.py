"""Corpus relevance scoring: TF-IDF weights and BM25 ranking.

Training-data pipelines score documents against a seed set / query to
select domain-relevant data (the importance-sampling step in DSIR-style
selection, quality classifiers bootstrapped from BM25 candidates, plus
plain corpus search for inspection). BM25 (Robertson/Spärck Jones;
the Okapi formulation) is the standard lexical ranker.

Design for Spark:
  * **Filter before explode.** Tokens are filtered to the query term set
    *inside the array* (`F.filter`, codegen'd) before `explode`, so the
    exploded row count is O(query-term hits), not O(corpus tokens) — at
    100 TB this is the difference between a scan-shaped job and a
    corpus-sized shuffle.
  * **Scalars broadcast.** N (doc count) and avgdl are a 1-row aggregate
    cross-joined in (broadcast); per-term document frequencies are at
    most |query| rows — also broadcast. Only the per-(doc, term) tf rows
    shuffle, grouped by doc id.
  * **Oracle-stable arithmetic.** avgdl is rounded to 6 dp before use
    (an ulp of drift in a corpus-wide mean would perturb every score);
    each term's contribution is rounded to 6 dp before the final sum,
    and the sum is rounded again — both sides of the differential oracle
    compute the identical expression tree.

The IDF is the BM25+ style ``ln(1 + (N - df + 0.5)/(df + 0.5))`` —
always positive (plain Robertson IDF goes negative for df > N/2, which
makes scores non-monotone in term matches).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.functions.text import tokens
from nyctaxidatapipeline_spark.plans.util import fan_out, local_frame


def tfidf_weights(df: DataFrame, text_col: str, id_col: str,
                  min_doc_freq: int = 1) -> DataFrame:
    """Per-(doc, token) TF-IDF weights over the whole corpus.

    tf = in-doc count, idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    Output: (id, token, tf, doc_freq, tfidf). The doc-frequency table is
    token-keyed (vocabulary-sized); the join back to per-doc tf rows
    shuffles on token — Zipf-hot heads are spread because the tf side is
    keyed (token, doc), same mitigation as ``term_frequencies``.
    """
    tok = (fan_out(df, id_col)
           .select(id_col, F.explode(tokens(text_col)).alias("token")))
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = (tf.groupBy("token")
               .agg(F.count("*").alias("doc_freq"))
               .filter(F.col("doc_freq") >= min_doc_freq))
    n_docs = df.select(F.count("*").alias("n_docs"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("doc_freq") + 0.5)
                / (F.col("doc_freq") + 0.5))
    return (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(n_docs))
              .select(id_col, "token", "tf", "doc_freq",
                      F.round(F.col("tf") * idf, 6).alias("tfidf")))


# NOTE (r16, measured, do NOT retry): two fusions of the BM25 shapes'
# double-tokenize were measured and REVERTED —
#   1. localCheckpoint of a narrow (id, dl, hit-tokens) frame:
#      bm25_scores 0.72 -> 1.3 s at sf0.1, 1.36 -> 1.77 s at sf1. The
#      stats and matched subtrees execute as independent stages of ONE
#      job, so the "duplicate" tokenize overlaps across cores and
#      costs CPU, not wall — while the checkpoint SERIALIZES the plan
#      behind its materialization.
#   2. even WITHOUT the checkpoint, pre-computing the filtered hit
#      array in a shared projection (explode(_ft) instead of
#      explode(filter(_tk, ...)) inline) measured 0.67 -> 0.91 s at
#      sf0.1 / 1.02 -> 1.71 s at sf1 — the extra projection layer
#      defeats the pruning/collapse Catalyst applies to the inline
#      form. The r15 inline shape below is the measured optimum.


def bm25_scores(df: DataFrame, query_terms: Sequence[str],
                text_col: str, id_col: str,
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 score of every document against a bag of query terms.

    Output: (id, n_terms, bm25) for documents matching ≥ 1 term —
    ``n_terms`` = distinct query terms present. Scale shape: one token
    scan with the query-term filter pushed inside the array (exploded
    rows ∝ hits), a broadcast of the ≤|query|-row df table and the 1-row
    (N, avgdl) aggregate, one groupBy(id) to sum contributions.
    """
    terms = [t.lower() for t in query_terms]
    base = (fan_out(df, id_col)
            .select(id_col, tokens(text_col).alias("_tk"))
            .select(id_col, F.size("_tk").alias("dl"), F.col("_tk")))
    stats = base.agg(F.count("*").alias("n_docs"),
                     F.round(F.avg("dl"), 6).alias("avgdl"))
    matched = (base.select(
                   id_col, "dl",
                   F.explode(F.filter(
                       F.col("_tk"),
                       lambda t: t.isin(*terms))).alias("term")))
    tf = (matched.groupBy(id_col, "term")
                 .agg(F.count("*").alias("tf"), F.max("dl").alias("dl")))
    # doc_freq as a count-over-window on the tf rows, NOT a separate
    # groupBy + join back: the join formulation makes Catalyst plan the
    # whole tokenize/explode/aggregate subtree TWICE (no exchange reuse
    # across the differing projections) — one window over the already
    # tiny per-(doc, matched-term) rows keeps a single lineage.
    dfreq_w = Window.partitionBy("term")
    scored = (tf.withColumn("doc_freq", F.count("*").over(dfreq_w))
                .crossJoin(F.broadcast(stats)))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("doc_freq") + 0.5)
                / (F.col("doc_freq") + 0.5))
    contrib = F.round(
        idf * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                               / F.col("avgdl"))), 6)
    return (scored.withColumn("_contrib", contrib)
                  .groupBy(id_col)
                  .agg(F.count("*").cast("int").alias("n_terms"),
                       F.round(F.sum("_contrib"), 6).alias("bm25")))


def top_query_terms(df: DataFrame, text_col: str, id_col: str,
                    n_terms: int = 3,
                    query_id_col: str = "query_id",
                    term_col: str = "term") -> DataFrame:
    """Derive a deterministic per-document query bag: the ``n_terms``
    distinct tokens of each document ranked by (length DESC, token ASC)
    — a stand-in for tf-idf keyword extraction that both engines of the
    differential oracle can reproduce exactly. Output: (query_id, term).
    """
    tok = (df.select(F.col(id_col).alias(query_id_col),
                     F.explode(tokens(text_col)).alias(term_col))
             .distinct())
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.length(term_col).desc(), F.col(term_col).asc()))
    return (tok.withColumn("_trn", F.row_number().over(w))
               .filter(F.col("_trn") <= n_terms).drop("_trn"))


def bm25_multi(df: DataFrame, queries_df: DataFrame, text_col: str,
               id_col: str, query_id_col: str = "query_id",
               term_col: str = "term",
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 of every document against MANY query bags at once — the
    batch-retrieval shape (one ranked list per query id in
    ``queries_df`` = (query_id, term) rows).

    Scale shape: the DISTINCT term set across all queries is collected
    once to the driver (bounded by contract — query workloads are
    thousands of terms, never corpus-sized) so the token filter stays
    INSIDE the array before explode, exactly like ``bm25_scores``;
    per-term doc frequencies come from a window over the per-(doc,
    term) tf rows BEFORE the query join (corpus-level df, unpolluted
    by query multiplicity); ``queries_df`` broadcasts into the hit
    rows; one final groupBy((query, doc)) sums contributions.

    Output: (query_id, id, n_terms, bm25) for pairs with ≥ 1 match.
    """
    terms = sorted({r[0] for r in
                    queries_df.select(F.lower(F.col(term_col)))
                              .distinct().collect()})
    if not terms:
        # isin() with zero args is a plan-time error; an empty query
        # workload simply matches nothing. Output types mirror the
        # non-empty path: query/doc ids keep their input types.
        from pyspark.sql import types as T
        schema = T.StructType([
            queries_df.schema[query_id_col],
            df.schema[id_col],
            T.StructField("n_terms", T.IntegerType()),
            T.StructField("bm25", T.DoubleType()),
        ])
        return local_frame(df.sparkSession, [], schema)
    base = (fan_out(df, id_col)
            .select(id_col, tokens(text_col).alias("_tk"))
            .select(id_col, F.size("_tk").alias("dl"), F.col("_tk")))
    stats = base.agg(F.count("*").alias("n_docs"),
                     F.round(F.avg("dl"), 6).alias("avgdl"))
    matched = (base.select(
                   id_col, "dl",
                   F.explode(F.filter(
                       F.col("_tk"),
                       lambda t: t.isin(*terms))).alias(term_col)))
    tf = (matched.groupBy(id_col, term_col)
                 .agg(F.count("*").alias("tf"), F.max("dl").alias("dl")))
    dfreq_w = Window.partitionBy(term_col)
    scored = (tf.withColumn("doc_freq", F.count("*").over(dfreq_w))
                .crossJoin(F.broadcast(stats)))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("doc_freq") + 0.5)
                / (F.col("doc_freq") + 0.5))
    contrib = F.round(
        idf * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                               / F.col("avgdl"))), 6)
    q = (queries_df.select(query_id_col,
                           F.lower(F.col(term_col)).alias(term_col))
                   .distinct())
    return (scored.withColumn("_contrib", contrib)
                  .join(F.broadcast(q), term_col)
                  .groupBy(query_id_col, id_col)
                  .agg(F.count("*").cast("int").alias("n_terms"),
                       F.round(F.sum("_contrib"), 6).alias("bm25")))


def rrf_fuse(ranked: Sequence[DataFrame], k: int = 10, c: int = 60,
             query_col: str = "query_id", id_col: str = "doc_id",
             rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher) of N ranked
    lists — the standard hybrid-retrieval merge of a lexical (BM25)
    and a dense (ANN) ranking. Each input holds (query, id, rank);
    score(q, d) = Σ_lists 1/(c + rank). Items missing from a list
    simply contribute nothing (no outer-join NULL arms needed — a
    union + one aggregate, which also generalizes to N lists where a
    chain of full outer joins would not).

    Shuffles: one union-wide hash aggregate on (query, id) + the
    query-keyed rank window; list sizes are already top-k'd upstream,
    so the shuffle is O(queries·k·lists). Output: (query_id, doc_id,
    n_lists, rrf, rank) — rank 1..k by (rrf DESC, id ASC).
    """
    from functools import reduce

    from nyctaxidatapipeline_spark.operators.windows import (
        top_k_per_group,
    )

    parts = [r.select(F.col(query_col), F.col(id_col),
                      F.col(rank_col).alias("_r")) for r in ranked]
    tagged = reduce(lambda a, b: a.unionByName(b), parts)
    fused = (tagged.groupBy(query_col, id_col)
                   .agg(F.count("*").cast("int").alias("n_lists"),
                        F.round(F.sum(1.0 / (F.lit(float(c))
                                             + F.col("_r"))), 6)
                         .alias("rrf")))
    return top_k_per_group(
        fused, [query_col],
        [F.col("rrf").desc(), F.col(id_col).asc()],
        k=k, desc=False, rank_col=rank_col)
