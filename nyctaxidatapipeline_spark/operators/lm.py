"""Corpus-trained n-gram language model scoring (perplexity filtering).

The CCNet / Wikipedia-LM recipe: score every document by the per-token
log-probability under a language model and drop the high-perplexity tail
(boilerplate, gibberish, non-prose). Production pipelines use KenLM;
that binary isn't in this container, so the model here is a corpus-
trained add-one (Laplace) bigram LM — the same join/aggregate dataflow a
KenLM-backed scorer would need for its count tables, with every step
expressible in SQL for the differential oracle.

Model:  P(w2 | w1) = (c(w1 w2) + 1) / (ctx(w1) + V)
  c(w1 w2)  corpus bigram count
  ctx(w1)   count of bigrams whose first token is w1
  V         corpus vocabulary size (distinct tokens)

Score: mean ln P over a document's bigram occurrences (repeats count);
perplexity = exp(-mean). Documents under 2 tokens have no bigrams and
are absent from the output.

Scale shape: one tokenize + shingle explode (the dedup pipeline's
pattern), a corpus-wide bigram-count aggregate (map-side combined;
Zipf-hot context keys are spread across documents the same way
``term_frequencies`` spreads token keys), then the per-doc score is the
exploded bigram stream joined to the two count tables — shuffle joins
keyed on the bigram / context token. V is one exact distinct count
(swap in ``approx_count_distinct`` at 100 TB — noted, not default, so
the oracle stays exact). No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.functions.text import shingles, tokens
from nyctaxidatapipeline_spark.operators.quantiles import QUANTILES, quantiles
from nyctaxidatapipeline_spark.plans.util import fan_out


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, bigram, w1) — bigram occurrences with multiplicity. The
    bigram is the space-joined token pair (tokens are whitespace-split,
    so the separator is unambiguous and ``w1`` splits back out cleanly —
    the same contract the dedup shingles rely on)."""
    return (fan_out(df, id_col)
            .select(id_col, tokens(text_col).alias("_tk"))
            .select(id_col,
                    F.explode(shingles(F.col("_tk"), 2)).alias("bigram"))
            .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "),
                                           F.lit(1))))


def bigram_counts(df: DataFrame, text_col: str, id_col: str,
                  doc_bigrams: DataFrame | None = None) -> DataFrame:
    """Corpus bigram model tables: (bigram, w1, c) counts.

    ``doc_bigrams`` lets a caller that already derived the corpus's
    exploded bigram stream (``_doc_bigrams``) feed it in instead of
    re-tokenizing — the reuse hook ``dsir_weights`` needs to avoid
    paying the explode three times."""
    bg = (doc_bigrams if doc_bigrams is not None
          else _doc_bigrams(df, text_col, id_col))
    return bg.groupBy("bigram", "w1").agg(F.count("*").alias("c"))


def lm_score_under(model_df: DataFrame, score_df: DataFrame,
                   text_col: str, id_col: str, *,
                   model_bigrams: DataFrame | None = None,
                   score_bigrams: DataFrame | None = None) -> DataFrame:
    """Score ``score_df`` documents under a bigram LM trained on
    ``model_df`` (possibly a different corpus — the cross-corpus case
    behind DSIR importance weights).

    Unseen bigrams take c=0 and unseen contexts ctx=0 (left joins), so
    an out-of-model bigram scores ln(1/(0+V)) — Laplace smoothing's
    whole point. Output: (id, n_bigrams, avg_logp, ppl); ``ppl`` is
    derived from the *rounded* mean so both engines start from the
    identical double.

    ``model_bigrams`` / ``score_bigrams`` are optional precomputed
    ``_doc_bigrams`` streams for the respective corpus — pass a
    checkpointed stream when the same corpus is scored and/or modeled
    more than once (see ``dsir_weights``) so the tokenize+explode isn't
    replayed per consumer.
    """
    bg = (score_bigrams if score_bigrams is not None
          else _doc_bigrams(score_df, text_col, id_col))
    counts = bigram_counts(model_df, text_col, id_col,
                           doc_bigrams=model_bigrams)
    ctx = counts.groupBy("w1").agg(F.sum("c").alias("ctx"))
    vocab = (model_df.select(F.explode(tokens(text_col)).alias("token"))
             .agg(F.count_distinct("token").alias("v")))
    logp = F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                 / (F.coalesce(F.col("ctx"), F.lit(0)) + F.col("v")))
    avg_logp = F.round(F.avg("_logp"), 6)
    return (bg.join(counts.drop("w1"), "bigram", "left")
              .join(ctx, "w1", "left")
              .crossJoin(F.broadcast(vocab))
              .withColumn("_logp", logp)
              .groupBy(id_col)
              .agg(F.count("*").alias("n_bigrams"),
                   avg_logp.alias("avg_logp"),
                   F.round(F.exp(-avg_logp), 6).alias("ppl")))


def lm_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document add-one bigram LM score under the corpus's own LM
    (the perplexity-filter surface). See ``lm_score_under``."""
    return lm_score_under(df, df, text_col, id_col)


def lm_score_backoff(model_df: DataFrame, score_df: DataFrame,
                     text_col: str, id_col: str,
                     alpha: float = 0.4) -> DataFrame:
    """Stupid-backoff bigram scoring (Brants et al. 2007, the
    web-scale LM recipe that replaced smoothed counts at Google): a
    seen bigram scores its raw relative frequency ``c12/ctx1``; an
    unseen one backs off to ``alpha · u(w2)/N`` (unigram relative
    frequency); an unseen UNIGRAM takes the ``alpha · 1/N`` floor (the
    scheme leaves OOV undefined — the floor is the count-1 convention,
    documented so the oracle can replay it). Scores are not a
    normalized distribution — the paper's point is that at corpus
    scale the unnormalized score ranks as well as Kneser-Ney at a
    fraction of the cost.

    Meaningful only CROSS-corpus (self-scoring never backs off: every
    bigram in a doc is in its own corpus's model). Same dataflow as
    ``lm_score_under`` plus one unigram-keyed join: count tables
    partial-aggregate map-side, N and the vocab floor ride the one
    sanctioned 1-row broadcast. Output: (id, n_bigrams, n_backoff,
    avg_logs, ppl) — ``n_backoff`` = bigrams that took the backoff
    path, the model-coverage diagnostic.
    """
    bg = (_doc_bigrams(score_df, text_col, id_col)
          .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "),
                                         F.lit(2))))
    counts = bigram_counts(model_df, text_col, id_col)
    ctx = counts.groupBy("w1").agg(F.sum("c").alias("ctx"))
    uni = (model_df.select(F.explode(tokens(text_col)).alias("w2"))
           .groupBy("w2").agg(F.count("*").alias("u")))
    n_tok = (model_df.select(F.explode(tokens(text_col)).alias("t"))
             .agg(F.count("*").alias("n_tok")))
    seen = F.col("c").isNotNull()
    s = F.when(seen, F.col("c") / F.col("ctx")).otherwise(
        F.lit(alpha) * F.coalesce(F.col("u"), F.lit(1))
        / F.col("n_tok"))
    avg_logs = F.round(F.avg("_logs"), 6)
    return (bg.join(counts.drop("w1"), "bigram", "left")
              .join(ctx, "w1", "left")
              .join(uni, "w2", "left")
              .crossJoin(F.broadcast(n_tok))
              .withColumn("_logs", F.log(s))
              .withColumn("_bo", (~seen).cast("int"))
              .groupBy(id_col)
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum("_bo").alias("n_backoff"),
                   avg_logs.alias("avg_logs"),
                   F.round(F.exp(-avg_logs), 6).alias("ppl")))


def dsir_weights(df: DataFrame, target: DataFrame, text_col: str,
                 id_col: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023,
    arXiv:2302.03169): rank raw-corpus documents by how much more
    likely a *target*-domain LM finds them than the raw-corpus LM.

        log_ratio(doc) = avg_logp_target(doc) - avg_logp_raw(doc)
        weight(doc)    = exp(log_ratio)

    (DSIR proper uses hashed-n-gram feature LMs; the bigram LMs here
    are the same estimator family with the hashing stubbed out, and
    every count stays in-engine.) Documents with weight > 1 look more
    target-like than raw-like — importance resampling keeps documents
    with probability ∝ weight. Output: (id, n_bigrams, log_ratio,
    weight), averages length-normalized so long documents aren't
    penalized twice.

    Scale shape: two LM scoring passes over the raw corpus (each the
    ``lm_score_under`` join pipeline); the target corpus only builds
    count tables. At 100 TB the count tables dwarf memory — they join
    shuffle-side, never broadcast (only the 1-row V scalars broadcast).

    The raw corpus's exploded bigram stream feeds THREE consumers (the
    score side of both passes + the raw LM's count tables), so it is
    derived once and ``localCheckpoint``-ed instead of letting Spark
    replay the tokenize+explode lineage per consumer. At sf0.1 the
    explode is cheap enough that wall-clock is unchanged (A/B'd warm:
    ~2.5 s both ways); the point is the 100 TB shape, where three scans
    + tokenizations of the raw corpus is the dominant cost. At that
    scale swap the local checkpoint for a staging parquet write: same
    dataflow, durable storage instead of executor block memory.
    """
    raw_bg = _doc_bigrams(df, text_col, id_col).localCheckpoint(eager=False)
    t = lm_score_under(target, df, text_col, id_col,
                       score_bigrams=raw_bg).select(
        id_col, "n_bigrams", F.col("avg_logp").alias("_lp_target"))
    r = lm_score_under(df, df, text_col, id_col, model_bigrams=raw_bg,
                       score_bigrams=raw_bg).select(
        id_col, F.col("avg_logp").alias("_lp_raw"))
    log_ratio = F.round(F.col("_lp_target") - F.col("_lp_raw"), 6)
    return (t.join(r, id_col)
             .select(id_col, "n_bigrams",
                     log_ratio.alias("log_ratio"),
                     F.round(F.exp(log_ratio), 6).alias("weight")))


def perplexity_filter(df: DataFrame, text_col: str, id_col: str,
                      max_ppl: float) -> DataFrame:
    """Keep documents whose bigram perplexity is ≤ ``max_ppl`` (the
    CCNet keep-the-head move; documents with no bigrams are dropped —
    too short to be trainable prose anyway)."""
    kept = (lm_score(df, text_col, id_col)
            .filter(F.col("ppl") <= max_ppl)
            .select(id_col))
    return df.join(kept, id_col, "left_semi")


def pmi_collocations(df: DataFrame, text_col: str, id_col: str,
                     min_count: int = 5) -> DataFrame:
    """Corpus collocations ranked by pointwise mutual information:
    PMI(w1,w2) = ln( p(w1 w2) / (p(w1) p(w2)) ) with p(w1 w2) from the
    adjacent-bigram occurrence counts (N = total bigram occurrences) and
    p(w) from unigram occurrence counts (N_tok = total tokens) — the
    classic collocation-extraction statistic (Church & Hanks 1990), the
    vocabulary-building companion to ``term_frequencies``.

    One bigram-count aggregate + one unigram-count aggregate + two
    shuffle joins keyed on the words (Zipf-hot words are spread by
    map-side partial aggregation first); the two scalar totals travel as
    broadcast 1-row frames. ``min_count`` drops the unstable low-count
    tail (PMI's known pathology: hapax pairs score highest).

    Output: (w1, w2, n_pair, pmi) for bigrams with count >= min_count.
    """
    bg = (_doc_bigrams(df, text_col, id_col)
          .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "),
                                         F.lit(2))))
    pairs = (bg.groupBy("w1", "w2")
               .agg(F.count("*").alias("n_pair"))
               .filter(F.col("n_pair") >= min_count))
    uni = (fan_out(df, id_col)
           .select(F.explode(tokens(text_col)).alias("w"))
           .groupBy("w").agg(F.count("*").alias("c_w")))
    n_bg = F.broadcast(bg.agg(F.count("*").alias("n_bg")))
    n_tok = F.broadcast(uni.agg(F.sum("c_w").alias("n_tok")))
    pmi = F.log((F.col("n_pair") / F.col("n_bg"))
                / ((F.col("c1") / F.col("n_tok"))
                   * (F.col("c2") / F.col("n_tok"))))
    return (pairs
            .join(uni.select(F.col("w").alias("w1"),
                             F.col("c_w").alias("c1")), "w1")
            .join(uni.select(F.col("w").alias("w2"),
                             F.col("c_w").alias("c2")), "w2")
            .crossJoin(n_bg).crossJoin(n_tok)
            .select("w1", "w2", "n_pair",
                    (F.round(pmi, 6) + F.lit(0.0)).alias("pmi")))


def skipgram_counts(df: DataFrame, text_col: str, id_col: str,
                    window: int = 3, min_count: int = 5) -> DataFrame:
    """Windowed (skip-gram) co-occurrence counts: for every token, its
    pairings with the next ``window`` tokens of the same document —
    the directional co-occurrence matrix behind word2vec/GloVe-style
    embedding training and PPMI vector spaces (``pmi_collocations`` is
    the special case window=1).

    Scale shape: pair generation is entirely MAP-SIDE — a per-row
    array lambda (transform × slice × flatten) emits ≤ window·tokens
    struct pairs, so there is NO position self-join and NO shuffle
    until the single (w1, w2) count aggregate, whose map-side partial
    combine absorbs the Zipf-hot stopword pairs before they travel.
    The DuckDB twin deliberately uses the OTHER formulation (ordinality
    self-join on position range) so the two engines cross-check the
    semantics, not a shared plan shape.

    Output: (w1, w2, n_pair) for pairs occurring ≥ ``min_count``.
    """
    tk = tokens(text_col)
    pair_structs = F.flatten(F.transform(
        tk,
        lambda t, i: F.transform(
            F.slice(tk, i + F.lit(2), F.lit(window)),
            lambda u: F.struct(t.alias("w1"), u.alias("w2")))))
    pairs = (fan_out(df, id_col)
             .select(F.explode(pair_structs).alias("p"))
             .select("p.w1", "p.w2"))
    return (pairs.groupBy("w1", "w2")
                 .agg(F.count("*").alias("n_pair"))
                 .filter(F.col("n_pair") >= min_count))


def perplexity_buckets(df: DataFrame, text_col: str, id_col: str,
                       labels: tuple[str, str, str] = ("head", "middle",
                                                      "tail")) -> DataFrame:
    """CCNet-style quality partitioning: score every document under the
    corpus bigram LM (``lm_score``) and split the corpus into
    head/middle/tail perplexity TERTILES — the bucketing CCNet uses to
    keep/LM-filter/drop web data (lowest perplexity = cleanest).

    The bucket rule is threshold assignment from a 1-row broadcast of
    the two exact tertile boundaries (the ``winsorize`` shape: both
    off ONE ``quantiles`` buffer), NOT a global ntile window — an ntile
    over the corpus is a single-task sort at scale, while this is one
    percentile aggregate plus a shuffle-free projection. Boundaries
    round 6 dp so the rule is engine-reproducible; docs exactly on a
    boundary fall to the lower bucket on both engines.

    Output: (id, n_bigrams, ppl, bucket_idx, bucket).
    """
    scored = lm_score(df, text_col, id_col)
    bounds = (quantiles(scored, "ppl", (1.0 / 3, 2.0 / 3))
              .select(F.round(F.col(QUANTILES)[0], 6).alias("_q1"),
                      F.round(F.col(QUANTILES)[1], 6).alias("_q2")))
    idx = (F.when(F.col("ppl") <= F.col("_q1"), 0)
            .when(F.col("ppl") <= F.col("_q2"), 1)
            .otherwise(2))
    label = (F.when(F.col("ppl") <= F.col("_q1"), labels[0])
              .when(F.col("ppl") <= F.col("_q2"), labels[1])
              .otherwise(labels[2]))
    return (scored.crossJoin(F.broadcast(bounds))
                  .select(id_col, "n_bigrams", "ppl",
                          idx.cast("int").alias("bucket_idx"),
                          label.alias("bucket")))


def ppmi_vectors(df: DataFrame, text_col: str, id_col: str,
                 window: int = 3, min_count: int = 5,
                 dim: int = 16) -> DataFrame:
    """Count-based word embeddings end-to-end: ``skipgram_counts`` →
    PPMI reweighting (Levy & Goldberg's SGNS-equivalent matrix) →
    feature-hashed ``dim``-dimensional context vectors → per-vector
    int8 max-abs quantization — the full composed pipeline from raw
    text to a compact trainable embedding table, exercising the
    co-occurrence, scalar-broadcast, and quantization operators as ONE
    dataflow instead of islands.

    PPMI: max(0, ln(n_pair·N / (n1·n2))) with N = Σ n_pair,
    n1/n2 = directional marginals — rounded 6 dp for cross-engine
    parity. Context hashing uses the repo's portable bucket
    ``conv(substr(md5(w2), 1, 8), 16, 10) % dim`` (== DuckDB
    ``('0x'||substr(md5(w2),1,8))::BIGINT % dim``), so the oracle can
    replay it bit-exactly; collisions ADD (standard hashing-trick
    semantics). Quantization is per-vector max-abs int8
    (``round(v/scale·127)``), ``scale = max|v|`` at 6 dp; all-zero
    vectors (every context PPMI-zeroed) code to zeros with scale 0.

    Scale shape: everything downstream of the skip-gram aggregate is
    keyed on words — the marginals are word-keyed aggregates that
    broadcast-join back (vocabulary ≪ corpus), N is the one sanctioned
    1-row scalar broadcast, and vector assembly is a word-keyed
    map_from_entries aggregate: no window over the corpus, no driver
    collect anywhere.

    Output: (word, scale, n_dims, code_digest) — the digest value-hash
    gate-checks every byte of every code like ``quantize_embeddings``.
    """
    # The pair table feeds FOUR branches (n1, n2, the N scalar, and the
    # feature join); without a pipeline breaker each branch re-runs the
    # corpus tokenize + pair-explode + count from source (exchange
    # reuse does not dedup them — measured 4x amplification of any
    # tokenizer cost, the r8 ppmi regression). Materialize it once:
    # the co-occurrence matrix is vocabulary-bounded (≥min_count), tiny
    # next to the corpus — at 100 TB this turns 4 corpus scans into 1.
    pairs = skipgram_counts(df, text_col, id_col, window=window,
                            min_count=min_count).localCheckpoint(eager=False)
    n1 = pairs.groupBy("w1").agg(F.sum("n_pair").alias("n1"))
    n2 = pairs.groupBy("w2").agg(F.sum("n_pair").alias("n2"))
    tot = pairs.agg(F.sum("n_pair").alias("_n"))
    ppmi = F.round(
        F.greatest(F.lit(0.0),
                   F.log(F.col("n_pair").cast("double")
                         * F.col("_n").cast("double")
                         / (F.col("n1").cast("double")
                            * F.col("n2").cast("double")))), 6)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("w2")), 1, 8), 16, 10)
         .cast("bigint"), F.lit(dim)).cast("int")
    feat = (pairs.join(n1, "w1").join(n2, "w2")
                 .crossJoin(F.broadcast(tot))
                 .select(F.col("w1").alias("word"),
                         bucket.alias("_j"), ppmi.alias("_ppmi"))
                 .groupBy("word", "_j")
                 .agg(F.round(F.sum("_ppmi"), 6).alias("_val")))
    vec = (feat.groupBy("word")
               .agg(F.map_from_entries(
                   F.collect_list(F.struct("_j", "_val"))).alias("_m"))
               .select(
                   "word",
                   F.transform(
                       F.sequence(F.lit(0), F.lit(dim - 1)),
                       lambda j: F.coalesce(F.col("_m")[j.cast("int")],
                                            F.lit(0.0))).alias("_v")))
    scale = F.round(F.array_max(F.transform("_v", F.abs)), 6)
    codes = F.transform(
        "_v",
        lambda x: F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
            F.round(x / F.col("scale") * 127, 0).cast("int")))
    return (vec.withColumn("scale", scale)
               .select("word", "scale",
                       F.lit(dim).alias("n_dims"),
                       F.md5(F.concat_ws(",", F.transform(
                           codes, lambda c: c.cast("string"))))
                        .alias("code_digest")))
