"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine: ``nyctaxidatapipeline_spark`` (see SURVEY.md §2 for the operator
inventory each query instantiates; FIXTURES.md §C for the column mapping
from the reference's taxi schema onto the driver fixture tables).

Float parity: computed double columns are rounded to 6 dp on BOTH sides
(Spark ``F.round`` / oracle ``ROUND``) because float aggregation is
order-sensitive — see ``plans.util.round_doubles``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.functions import bucketize, guarded_ratio
from nyctaxidatapipeline_spark.functions.json import json_field
from nyctaxidatapipeline_spark.operators.joins import (
    anti_join,
    semi_join,
    star_join,
)
from nyctaxidatapipeline_spark.operators.setops import (
    except_distinct,
    intersect_distinct,
)
from nyctaxidatapipeline_spark.functions.text import shingles, tokens
from nyctaxidatapipeline_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    incremental_fingerprint_dedup,
    jaccard_pairs,
    keep_latest,
    minhash_lsh_pairs,
    near_dup_production,
    simhash_near_pairs,
)
from nyctaxidatapipeline_spark.operators.contamination import (
    ngram_contamination,
)
from nyctaxidatapipeline_spark.operators.similarity import (
    brute_force_topk,
    embedding_dim,
    embedding_near_dup_blocked,
    ivf_seed_centroids_portable,
    ivf_topk,
    knn_graph,
    knn_graph_ivf,
    rp_lsh_near_dup,
    rp_lsh_near_dup_auto,
)
from nyctaxidatapipeline_spark.operators.pq import (
    pq_seed_codebooks_portable,
    pq_topk,
)
from nyctaxidatapipeline_spark.operators.text_analysis import (
    fingerprint_dedup,
    language_confusion,
    pii_redact,
    pii_stats,
    quality_score,
    corpus_report,
    repetition_stats,
    term_frequencies,
    token_stats,
)
from nyctaxidatapipeline_spark.operators.clustering import (
    assign_clusters,
    seed_centroids,
    semantic_dedup_pairs,
    semdedup_n_clusters,
)
from nyctaxidatapipeline_spark.operators.graph import pagerank
from nyctaxidatapipeline_spark.operators.lines import dedup_lines
from nyctaxidatapipeline_spark.operators.lm import dsir_weights, lm_score
from nyctaxidatapipeline_spark.operators.relevance import (
    bm25_multi,
    bm25_scores,
    rrf_fuse,
    top_query_terms,
)
from nyctaxidatapipeline_spark.operators.packing import (
    pack_sequences,
    packed_doc_spans,
    with_token_count,
)
from nyctaxidatapipeline_spark.operators.reshape import (
    cube_agg,
    distinct_counts,
    grouped_percentiles,
    heavy_hitters,
    melt,
    pivot_agg,
)
from nyctaxidatapipeline_spark.operators.cdc import scd2_versions
from nyctaxidatapipeline_spark.operators.curation import (
    curate_corpus,
    curation_flags,
)
from nyctaxidatapipeline_spark.operators.profile import (
    mad_outliers,
    profile_numeric,
)
from nyctaxidatapipeline_spark.operators.rangejoin import range_join_recent
from nyctaxidatapipeline_spark.operators.sampling import (
    deterministic_sample,
    stratified_sample,
    with_split,
)
from nyctaxidatapipeline_spark.operators.temporal import (
    asof_join,
    forward_fill,
    funnel_counts,
    resample,
    session_stats,
)
from nyctaxidatapipeline_spark.operators.windows import with_lag
from nyctaxidatapipeline_spark.operators.windows import top_k_per_group
from nyctaxidatapipeline_spark.operators import (
    demand_heatmap,
    distance_distribution,
    drop_null_rows,
    payment_analysis,
    popular_routes,
    threshold_anomalies,
    tip_trends,
    trip_performance,
)
from nyctaxidatapipeline_spark.plans import local_frame, round_doubles
from nyctaxidatapipeline_spark.sources import load_table


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: demand heatmap (A1) on sf0.001 events."""
    return _q_demand_heatmap(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# Reference surface (SURVEY.md §2 A1-A7, F1-F4, X1-X4, P1-P3, O1)
# --------------------------------------------------------------------------

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem")


def _q_demand_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (`yellow_taxi_etl.py:101-105`): counts per (zone, hour)."""
    ev = _events(spark, sf_dir).withColumn("event_hour", F.hour("ts"))
    return demand_heatmap(ev, "user_id", "event_hour")


def _q_tip_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (`yellow_taxi_etl.py:110-116`): avg guarded ratio per group —
    NULL ratios (zero denominator) skipped by avg."""
    li = _lineitem(spark, sf_dir).withColumn(
        "tip_pct", guarded_ratio("l_discount", "l_tax"))
    return round_doubles(tip_trends(li, "l_suppkey", "l_returnflag", "tip_pct"))


def _q_trip_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (`yellow_taxi_etl.py:134-148`): wide grouped agg + is_weekend."""
    li = _lineitem(spark, sf_dir).withColumn(
        "ship_dow", F.dayofweek("l_shipdate"))
    out = trip_performance(
        li, ["l_returnflag", "l_linestatus", "ship_dow"],
        avg_cols=["l_quantity", "l_extendedprice", "l_discount"],
        sum_cols=["l_extendedprice"], dow_col="ship_dow")
    return round_doubles(out)


def _q_popular_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+F3+O1 (`yellow_taxi_etl.py:153-164`): agg + HAVING + sort desc."""
    out = popular_routes(
        _lineitem(spark, sf_dir), ["l_partkey", "l_returnflag"],
        avg_cols=["l_quantity", "l_extendedprice", "l_discount"],
        min_trips=10)
    return round_doubles(out)


def _q_payment_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (`yellow_taxi_etl.py:169-186`): payment agg + CASE decode."""
    li = _lineitem(spark, sf_dir).withColumn(
        "tip_pct", guarded_ratio("l_discount", "l_tax"))
    out = payment_analysis(
        li, ["l_returnflag", "l_linestatus"],
        pay_col="l_returnflag", fare_col="l_extendedprice",
        tip_col="l_discount", ratio_col="tip_pct",
        decode={"R": "Returned", "A": "Accepted", "N": "Neutral"})
    return round_doubles(out)


def _q_distance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (`yellow_taxi_etl.py:191-200`): agg over strict-`<` buckets."""
    li = _lineitem(spark, sf_dir).withColumn(
        "qty_category",
        bucketize("l_quantity", [10.0, 20.0, 30.0, 40.0],
                  ["Very Short", "Short", "Medium", "Long"], "Very Long"))
    out = distance_distribution(
        li, ["l_returnflag", "qty_category"],
        fare_col="l_extendedprice", minutes_col="l_quantity",
        tip_col="l_discount")
    return round_doubles(out)


def _q_fare_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+F2+P3 (`yellow_taxi_etl.py:121-129`): rows >= exact p99.

    Exact-percentile mode for oracle parity (SURVEY.md §5 caveat 4); the
    reference's approx sketch mode is `quantile_threshold(..., 'approx')`.
    """
    return threshold_anomalies(
        _lineitem(spark, sf_dir), "l_extendedprice",
        ["l_orderkey", "l_linenumber", "l_partkey",
         "l_extendedprice", "l_quantity"],
        q=0.99, mode="exact")


def _q_fare_anomalies_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION mode of ``fare_anomalies`` registered first-class
    (VERDICT r7 task 6): the reference's actual sketch path
    (`yellow_taxi_etl.py:121` — Greenwald-Khanna ``percentile_approx``,
    one mergeable pass, the 100 TB answer where the exact-percentile
    buffer is a per-partition memory hazard). accuracy=1,000,000 keeps
    the sketch uncompressed at fixture scale, so the threshold is the
    exact rank statistic and the twin pins it with DuckDB
    ``quantile_disc`` — full hash parity (the
    ``winsorized_prices_approx`` recipe) — while sf1+ inputs genuinely
    compress (bounded memory, rank error <= 1e-6). The exact-percentile
    ``fare_anomalies`` stays registered as the parity gate."""
    return threshold_anomalies(
        _lineitem(spark, sf_dir), "l_extendedprice",
        ["l_orderkey", "l_linenumber", "l_partkey",
         "l_extendedprice", "l_quantity"],
        q=0.99, mode="approx", accuracy=1_000_000)


def _q_fare_anomalies_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINEAR-AT-ANY-SCALE quantile mode (VERDICT r9 stretch 7):
    the p99 threshold from a deterministic bottom-16384 md5-rank row
    sample (``sketches.hash_sample_bottom_k`` — the KMV construction
    pointed at row sampling; mergeable, O(k) state, one
    TakeOrderedAndProject merge). GK at oracle-parity accuracy=1e6 is
    the suite's one super-linear registered point (109.4 s at sf10,
    11x at 10x) BECAUSE hash parity forced the sketch to stay
    uncompressed; this sketch is hash-checkable at its HONEST
    accuracy — rank error ~sqrt(q(1-q)/k) ≈ ±0.08% at p99, tighter
    than the reference's approxQuantile(rel_err=0.01) contract
    (yellow_taxi_etl.py:121) — so the twin reproduces the sample, the
    threshold, and the filtered rows verbatim (md5 ranks are
    engine-portable; randomized KLL / order-dependent t-digest could
    only ever be rows-only checked). ``fare_anomalies_approx`` (GK,
    reference parity) and ``fare_anomalies`` (exact) stay
    registered.

    The rank key is (l_orderkey, l_linenumber, l_partkey) — the
    fixture duplicates ~24% of (orderkey, linenumber) pairs but only
    ~0.001% of the triple, so the sample is (near-)simple rather than
    the cluster sample a duplicated key yields (ADVICE r10: duplicate
    keys weaken the ±sqrt(q(1-q)/k) bound; residual ties still break
    deterministically on the value)."""
    return threshold_anomalies(
        _lineitem(spark, sf_dir), "l_extendedprice",
        ["l_orderkey", "l_linenumber", "l_partkey",
         "l_extendedprice", "l_quantity"],
        q=0.99, mode="sketch",
        rank_cols=["l_orderkey", "l_linenumber", "l_partkey"],
        sample_k=16384)


def _q_grouped_percentiles_sketch(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Per-group p50/p95 over per-group bottom-4096 md5-rank samples
    (``grouped_percentiles(mode='sketch')``) — the grouped
    sibling of ``fare_anomalies_sketch``: one row_number window
    bounds every group's state at k rows where the exact percentile
    (and GK at parity accuracy) buffers the whole group. Same
    engine-portable determinism: the twin replays the window, the
    sample, and the discrete index arithmetic verbatim.

    r15: the PHYSICAL shape is auto-selected by estimated fan-in
    (VERDICT r14 task 1 — the grouped sibling of the r14 ungrouped
    crossover): at every local fixture the naive single window per
    group wins (one exchange, map-side WindowGroupLimit trim; warm
    A/B: 12.8 s naive vs 15.5 s tree at sf10, ~1.3 s cheaper at
    sf0.1), while 100 TB task counts (tasks × k past the 2^21 bound)
    get the r11 two-phase salted tree whose per-group reducer fan-in
    stays config-bounded. Output is bit-identical either way
    (unit-pinned), so the logical sample — and therefore the twin
    SQL, which spells the single-window form — is unchanged. Rank key
    widened to the near-unique triple (see
    ``fare_anomalies_sketch``)."""
    return grouped_percentiles(
        _lineitem(spark, sf_dir), ["l_returnflag"], "l_extendedprice",
        (0.5, 0.95), mode="sketch",
        rank_cols=["l_orderkey", "l_linenumber", "l_partkey"], k=4096)


def _q_price_quantile_summary(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """NEW r13: the whole price distribution — p50/p90/p99/p999 — as
    (q, value) rows off ONE bottom-16384 md5-rank sample
    (``sketches.hash_sample_quantile_summary``). Each extra quantile
    costs an ``element_at`` on the already-collected k-row array, so
    the full summary is ONE linear scan + one bounded merge (the
    threshold form re-pays the scan per quantile). This is also the
    salted tree merge's registered showcase (VERDICT r12 task 1): the
    sample's final single-partition merge reads ≤ salt_buckets × k
    rows at ANY corpus size — the plan + executed fan-in are pinned in
    tests/test_sketches.py. Same rank key as ``fare_anomalies_sketch``
    (the near-unique triple)."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        hash_sample_quantile_summary,
    )

    return hash_sample_quantile_summary(
        _lineitem(spark, sf_dir), "l_extendedprice",
        ["l_orderkey", "l_linenumber", "l_partkey"],
        qs=(0.5, 0.9, 0.99, 0.999), k=16384)


def _q_cleaning_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (`cleaning.py:10-18`): drop rows with NULL in any column."""
    return drop_null_rows(_events(spark, sf_dir))


def _q_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the streaming tumbling-window count (SURVEY §2.9
    extension): per-hour event counts + value sums."""
    ev = _events(spark, sf_dir)
    out = (ev.groupBy(F.date_trunc("hour", F.col("ts"))
                       .cast("timestamp_ntz").alias("window_start"))
             .agg(F.count("*").alias("n_events"),
                  F.sum("value").alias("sum_value")))
    return round_doubles(out)


# --------------------------------------------------------------------------
# Gap operators (SURVEY.md §2.5-2.8: joins, windows, set ops) + JSON
# --------------------------------------------------------------------------

def _q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join lineitem⋈orders⋈customer⋈nation⋈region → revenue per
    (region, nation). Dims broadcast (region/nation structurally tiny);
    lineitem⋈orders is the one shuffle join (SURVEY.md §2.5)."""
    li = _lineitem(spark, sf_dir)
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    joined = star_join(
        li.join(od, li.l_orderkey == od.o_orderkey),
        [(cu, F.col("o_custkey") == F.col("c_custkey")),
         (na, F.col("c_nationkey") == F.col("n_nationkey")),
         (re, F.col("n_regionkey") == F.col("r_regionkey"))])
    out = (joined.groupBy("r_name", "n_name")
           .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .alias("revenue"),
                F.count("*").alias("n_items")))
    return round_doubles(out)


def _q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group: 3 highest-value orders per customer
    (row_number with orderkey tiebreak for determinism)."""
    od = load_table(spark, sf_dir, "orders")
    out = top_k_per_group(
        od.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3, desc=False, rank_col="rn")
    return out


def _q_urgent_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with ≥1 urgent order."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    urgent = od.filter(F.col("o_orderpriority") == "1-URGENT")
    return semi_join(cu.select("c_custkey", "c_name"), urgent,
                     F.col("c_custkey") == F.col("o_custkey"))


def _q_customers_no_orders_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no high-value order
    (>350k — the fixture references every key, so an unfiltered anti-join
    would be vacuously empty)."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    big = od.filter(F.col("o_totalprice") > 350000.0)
    return anti_join(cu.select("c_custkey", "c_name", "c_mktsegment"), big,
                     F.col("c_custkey") == F.col("o_custkey"))


def _q_purchasers_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): users with purchase events minus users with
    severe (value>250) error events."""
    ev = _events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    err = (ev.filter((F.col("event_type") == "error") &
                     (F.col("value") > 250.0))
             .select("user_id"))
    return except_distinct(purch, err)


def _q_signup_and_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): users with both signup and purchase events."""
    ev = _events(spark, sf_dir)
    sign = ev.filter(F.col("event_type") == "signup").select("user_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return intersect_distinct(sign, purch)


def _q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (flag, status): subtotals + grand total in one pass
    (multi-granularity upgrade of A1, SURVEY.md §7 step 6)."""
    li = _lineitem(spark, sf_dir)
    out = (li.rollup("l_returnflag", "l_linestatus")
             .agg(F.sum("l_quantity").alias("sum_qty"),
                  F.count("*").alias("n_items")))
    return round_doubles(out)


def _q_json_extract_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from events.props + aggregate over the
    extracted value (get_json_object — JVM-side)."""
    ev = _events(spark, sf_dir)
    out = (ev.withColumn("k_value", json_field("props", "k", cast="int"))
             .groupBy("event_type")
             .agg(F.avg("k_value").alias("avg_k"),
                  F.count("*").alias("n_events")))
    return round_doubles(out)


# --------------------------------------------------------------------------
# North star: dedup suite + similarity search (BASELINE.json)
# --------------------------------------------------------------------------

def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: deterministic representative (min doc_id) per distinct
    text + duplicate count (hash groupBy — one shuffle at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.5 (brute-force candidate
    join with stop-shingle cap — the oracle-checked exact path)."""
    docs = load_table(spark, sf_dir, "documents")
    return round_doubles(jaccard_pairs(docs, "text", "doc_id",
                                       n=3, threshold=0.5, max_df=20))


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (32 hashes, 8 bands) with exact-Jaccard
    verification — the 100 TB scale path. Runs the PORTABLE hash family
    (md5 base hash + universal-hash derivations, see
    ``dedup.minhash_constants``) so the DuckDB oracle reproduces the
    whole sketch→band→candidate→verify pipeline bit-for-bit: this query
    is fully value-hash-checked, not rows-only. The xxhash64 variant
    (``portable=False``) stays the pure-JVM production default.
    ``max_bucket=None`` is EXPLICIT here (r9 flipped the API default
    to the capped-32 production semantics): this registration is the
    deliberate uncapped exhaustive twin — the priced scale lesson
    (302 s at sf10, PLANS.md #20) kept as the oracle-checked
    reference for ``near_dup_production``'s capped composition."""
    docs = load_table(spark, sf_dir, "documents")
    return round_doubles(minhash_lsh_pairs(docs, "text", "doc_id",
                                           n=3, num_hashes=32, bands=8,
                                           threshold=0.5, portable=True,
                                           max_bucket=None))


def _q_near_dup_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup path, registered first-class (VERDICT r7
    task 1): exact dedup (linear hash-groupBy on md5(text)) collapses
    every copy class to one representative BEFORE banded MinHash-LSH +
    connected components run over the collapsed reps — the composition
    that measures 31.4 s at sf10 where the uncapped pair query blows up
    to 328.9 s (46x at 10x data; PLANS.md #19). Output: (doc_id,
    group_id) for EVERY document — group = min doc_id reachable through
    exact-copy + LSH≥0.5 links. ``max_bucket=32`` is PART of the
    registered semantics (mirrored in the twin): band buckets holding
    more than 32 docs emit no candidate pairs — the skew backstop
    against NEAR-duplicate hot classes that survive the exact collapse
    (web boilerplate differing by a timestamp or counter token). On the
    driver fixtures no bucket exceeds 32, so results equal the uncapped
    pipeline there; at sf10 the cap is what keeps the path linear.
    Portable hash family, so the whole collapse→sketch→band→verify→
    closure pipeline is value-hash-gated against the DuckDB twin."""
    docs = load_table(spark, sf_dir, "documents")
    return near_dup_production(docs, "text", "doc_id", n=3,
                               num_hashes=32, bands=8, threshold=0.5,
                               portable=True, max_bucket=32)


def _q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment NEAR-dup admission
    (``dedup.incremental_minhash_admission``): documents with
    ``doc_id % 50 == 1`` are the incoming batch (a realistic ~2%
    increment — the operator's contract is batch ≪ corpus), the rest
    the standing corpus; a batch doc is admitted unless banded-LSH +
    exact-Jaccard verification matches it to the corpus or to a
    smaller-id batch doc (greedy first-wins — the near-dup sibling of
    ``incremental_dedup``'s exact admission). The corpus is never
    re-paired against itself: its band-bucket table (persistable
    between increments) joins the batch's, and verification touches
    only candidate corpus docs. Since r9 the registered semantics
    include the DEFAULT ``max_bucket=32`` symmetric storm backstop
    (no fixture bucket exceeds 19, so the twin's uncapped pair set
    derives identical verdicts — the cap is load-bearing only at
    scale). Portable hash family — the twin derives the identical
    verdicts from the unified pair set restricted by the
    batch-membership arms."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_minhash_admission,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 50 != 1)
    batch = docs.filter(F.col("doc_id") % 50 == 1)
    adm = incremental_minhash_admission(batch, corpus, "text", "doc_id",
                                        n=3, num_hashes=32, bands=8,
                                        threshold=0.5, portable=True)
    return adm.select("doc_id",
                      F.md5(F.encode(F.col("text"), "utf-8"))
                       .alias("text_md5"))


def _index_dir(sf_dir: str, table: str, tag: str) -> str:
    """Deterministic temp location of a PERSISTED index for a fixture
    table — keyed by the resolved path plus the source parquet's
    (size, mtime) so a regenerated fixture invalidates the index
    instead of silently reusing a stale one, and by ``tag`` (the index
    parameters). Deliberately NOT a per-call scratch dir: surviving
    across calls IS the deployment semantics the ``*_indexed`` queries
    register.

    The cache root is PER-USER (0o700, ownership-checked) so another
    user on a shared host can neither pre-create/poison the index
    location nor collide on permissions; writes go through
    ``_materialize_index``'s write-to-unique-then-rename, so two
    concurrent runs race to an atomic rename instead of interleaving
    overwrite-writes against each other's reads."""
    import getpass
    import hashlib
    import tempfile

    src = os.path.join(os.path.realpath(sf_dir), f"{table}.parquet")
    try:
        st = os.stat(src)
        stamp = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:  # directory-of-parts fixtures: key on the dir itself
        stamp = "dir"
    key = hashlib.md5(f"{src}|{stamp}|{tag}".encode()).hexdigest()
    base = os.path.join(tempfile.gettempdir(),
                        f"ndpspark-index-{getpass.getuser()}")
    os.makedirs(base, mode=0o700, exist_ok=True)
    # lstat, not stat (ADVICE r10): another user pre-creating `base` as
    # a SYMLINK to a victim-owned directory would pass a followed-stat
    # uid check while redirecting every index read/write to an
    # attacker-chosen location. Reject anything that isn't a real
    # directory owned by this uid.
    import stat as statmod
    bst = os.lstat(base)
    if not statmod.S_ISDIR(bst.st_mode):
        raise RuntimeError(
            f"index cache path {base} is not a directory "
            f"(mode {oct(bst.st_mode)}) — a symlink here redirects "
            "index I/O to a location someone else controls; refusing")
    if hasattr(os, "getuid") and bst.st_uid != os.getuid():
        raise RuntimeError(
            f"index cache dir {base} is owned by uid {bst.st_uid}, not "
            f"this process's uid {os.getuid()} — refusing to read or "
            "write indexes through a directory another user controls")
    return os.path.join(base, f"{tag}_{key[:12]}")


def _materialize_index(df: DataFrame, idx_dir: str,
                       partition_by: str | None = None) -> None:
    """Idempotent, race-safe index persist: no-op when ``idx_dir``
    already carries a complete (``_SUCCESS``-marked) index; otherwise
    write to a unique sibling temp dir and atomically rename into
    place. A concurrent run that loses the rename race discards its
    own build and reads the winner's — readers never observe a
    half-written index directory."""
    if os.path.exists(os.path.join(idx_dir, "_SUCCESS")):
        return
    import shutil
    import uuid

    tmp = f"{idx_dir}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    if partition_by is not None:
        # one file per partition value, not one per (task, value) pair:
        # without this, a 32-task build of an 886-list routed index
        # writes ~28k tiny files and read-back costs more than the
        # routing pass the index exists to skip (measured: 14.5 s warm
        # vs 4.1 s with the repartition, sf10 semantic admission)
        df = df.repartition(partition_by)
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    try:
        os.rename(tmp, idx_dir)
    except OSError:  # lost the race — the winner's index is complete
        shutil.rmtree(tmp, ignore_errors=True)


def _minhash_index_dir(sf_dir: str) -> str:
    return _index_dir(sf_dir, "documents", "mh_n3h32b8p")


def _q_incremental_minhash_indexed(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The DEPLOYMENT shape of daily near-dup admission (VERDICT r8
    task 1): the corpus's LSH band-bucket index is built ONCE
    (``dedup.build_minhash_index``), PERSISTED to parquet, and every
    increment reads it back and probes it via ``corpus_index=`` — the
    corpus is never re-signed, which at sf10 is 80%+ of the registered
    ``incremental_minhash``'s wall clock (83.1 s; PLANS.md #20). Same
    ~2% batch split, same portable hash family, and the admitted set
    is INDEX-REPRESENTATION-INDEPENDENT (unit-pinned identical through
    a parquet round trip), so the DuckDB twin is the same SQL as the
    in-query-rebuild registration. The index parquet lives under /tmp
    keyed by fixture identity and is REUSED across calls — that
    persistence is the semantics being registered, not an optimization
    detail; the first call on a fresh fixture pays the one-time build
    (the prior day's job, in deployment terms)."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_admission,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 50 != 1)
    batch = docs.filter(F.col("doc_id") % 50 == 1)
    idx_dir = _minhash_index_dir(sf_dir)
    _materialize_index(
        build_minhash_index(corpus, "text", "doc_id", n=3,
                            num_hashes=32, bands=8, portable=True),
        idx_dir)
    adm = incremental_minhash_admission(
        batch, corpus, "text", "doc_id", n=3, num_hashes=32, bands=8,
        threshold=0.5, portable=True,
        corpus_index=spark.read.parquet(idx_dir))
    return adm.select("doc_id",
                      F.md5(F.encode(F.col("text"), "utf-8"))
                       .alias("text_md5"))


def _q_near_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication histogram of the production near-dup grouping
    (``dedup.dedup_group_stats`` over ``near_dup_production``): one
    row per group SIZE with the group and document counts — the
    corpus-health report a curation run reads first, and the direct
    post-dedup size estimate (sum of n_groups). Rides the same capped,
    portable pipeline as ``near_dup_production``, so the whole
    composition stays value-hash-gated."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        dedup_group_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    mapping = near_dup_production(docs, "text", "doc_id", n=3,
                                  num_hashes=32, bands=8, threshold=0.5,
                                  portable=True, max_bucket=32)
    return dedup_group_stats(mapping)


def _q_lsh_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r15 (VERDICT r14 task 4): the recall bill of the MinHash
    ``max_bucket`` storm backstop, as one stats row
    (``dedup.minhash_cap_audit`` → ``bucket_cap_audit``): band buckets
    over the cap, the hottest bucket's size, the candidate expansions
    the cap skipped, and the distinct-doc share exposed to dropped
    near-dup edges. The production caps drop hot buckets SILENTLY at
    run time — this is the registered way to SEE what that pays
    before trusting (or raising) the default. Cap set at 3 here,
    deliberately below the fixture's hottest bucket (4 docs at
    sf0.01), so every output arm is nonzero and value-hash-checked
    cross-engine; deployments run it at their production cap (32 —
    at which this corpus drops nothing). Same portable signature +
    banding pipeline as ``minhash_dedup``'s twin, then three scalar
    aggregates — one bucket-keyed shuffle, never a pair expansion."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        minhash_cap_audit,
    )

    docs = load_table(spark, sf_dir, "documents")
    return minhash_cap_audit(docs, "text", "doc_id", n=3,
                             num_hashes=32, bands=8, portable=True,
                             max_bucket=3)


def _q_simhash_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r15 (VERDICT r14 task 4): the SimHash sibling of
    ``lsh_cap_audit`` — ``dedup.simhash_cap_audit`` over the exact
    pigeonhole banding ``simhash_pairs`` reads (word-bigram features,
    4 word-aligned 16-bit bands, portable hash family). Cap 2 — below
    the fixture's hottest simhash bucket (3 docs at sf0.01) so the
    dropped arms are exercised; the r14 storm backstop defaults to 32
    in production, where this fixture would report zero drops."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        simhash_cap_audit,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", tokens("text").alias("_tk")))
    return simhash_cap_audit(docs, shingles(F.col("_tk"), 2), "doc_id",
                             bands=4, portable=True, max_bucket=2)


def _q_rp_lsh_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r15: bucket audit over the RP-LSH banding
    (``similarity.rp_lsh_cap_audit``) at ``ann_lsh_auto``'s exact
    operating point (threshold 0.4, target recall 0.9, max_bands 8 —
    n=500 at the sf0.01 gate derives 72 planes × 8 bands). RP-LSH has
    NO run-time cap: occupancy is controlled by parameterization
    (``rp_lsh_params`` grows band width with log2 n), and this row is
    how an operator verifies the derived point delivered before
    paying the posting-list rerank — ``max_bucket`` here is a
    REPORTING threshold (6, between the fixture's bucket sizes:
    hottest 8, 4/1037 multi-buckets over, 27/500 vecs exposed), not a
    drop. Signature pass + one bucket-keyed shuffle; no pair
    expanded."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        embedding_dim,
        rp_lsh_cap_audit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return rp_lsh_cap_audit(emb, threshold=0.4, target_recall=0.9,
                            max_bands=8, dim=embedding_dim(emb),
                            max_bucket=6)


def _q_ivf_occupancy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r15: the ANN sibling of the cap audits
    (``similarity.ivf_occupancy_audit``) — routing-skew stats for the
    IVF coarse quantizer at ``ann_ivf``'s registered operating point
    (portable seeds, 16 lists). Probe cost is Σ probed-list sizes, so
    a hot list is the ANN analogue of a hot LSH bucket; the
    auto-sizers claim bounded occupancy and this row makes the claim
    measurable (imbalance = hottest list / balanced mean). Same
    O(n·k·d) codegen assignment pass as the index build, one
    ≤ n_lists-group shuffle, one scalar aggregate."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        embedding_dim,
        ivf_occupancy_audit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_seed_centroids_portable(emb, n_centroids=16)
    return ivf_occupancy_audit(emb, cents, dim=embedding_dim(emb))


def _q_fuzzy_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r15 (VERDICT r14 task 4, third capped family): the recall
    bill of the ``max_block`` skew guard in blocked fuzzy matching
    (``entity.fuzzy_block_audit`` → ``bucket_cap_audit``), over the
    exact (prefix, length-band) blocking ``fuzzy_pairs`` reads. Run
    over part names (word-combination values — real block-size
    spread, unlike the uniform ``Supplier#…`` strings) at cap 240,
    deliberately between the sf0.01 fixture's block sizes (widest
    255; 2 of 30 blocks over, 501/2000 ids exposed) so every arm is
    nonzero, partially-dropped, and value-hash-checked cross-engine;
    deployments audit at their production cap. One block-keyed
    shuffle; the O(block²) join the cap guards against is never run."""
    from nyctaxidatapipeline_spark.operators.entity import (
        fuzzy_block_audit,
    )

    part = load_table(spark, sf_dir, "part")
    return fuzzy_block_audit(part, "p_name", "p_partkey",
                             max_dist=1, prefix_len=3, max_block=240)


def _q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup actually buys, priced in tokens: per source, the
    document and whitespace-token totals before and after the
    production near-dup grouping keeps only min-id representatives,
    plus the saved-token fraction — the number that justifies (or
    kills) a dedup stage in a training-data budget. Pure composition:
    ``near_dup_production`` (capped, portable) joined back to the
    corpus, two aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    mapping = near_dup_production(docs, "text", "doc_id", n=3,
                                  num_hashes=32, bands=8, threshold=0.5,
                                  portable=True, max_bucket=32)
    from nyctaxidatapipeline_spark.functions.text import token_count

    joined = (docs.select("doc_id", "source",
                          token_count("text").alias("_n"))
                  .join(mapping, "doc_id"))
    kept = F.when(F.col("group_id") == F.col("doc_id"), 1).otherwise(0)
    tokens_total = F.sum("_n")
    tokens_kept = F.sum(F.col("_n") * kept)
    return (joined.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(kept).cast("long").alias("n_docs_kept"),
                 tokens_total.cast("long").alias("ws_tokens"),
                 tokens_kept.cast("long").alias("ws_tokens_kept"),
                 F.when(tokens_total > 0,
                        F.round(F.lit(1.0)
                                - tokens_kept / tokens_total, 6)
                        + F.lit(0.0)).alias("tokens_saved_frac")))


def _q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-run sizing report (``text_analysis.token_budget``):
    per-source document/whitespace-token/BPE-token/char totals — the
    numbers a compute budget and a data-mix spec are priced in. The
    BPE-ish regex is the proven RE2-parity pattern, so both token
    counts sit on the value-hash path."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        token_budget,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_budget(docs, "text", "source")


def _q_cross_signal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup (``dedup.cross_signal_dedup``): connected
    components over the UNION of the lexical near-dup graph (the
    ``near_dup_production`` composition — exact collapse + capped
    banded MinHash, entering as its (id, group) star edges) and the
    semantic near-dup graph (``rp_lsh_near_dup_auto`` at the fixture's
    0.4 cosine point — corpus-size-aware (planes, bands), so the
    embedding arm scales linearly like the ``ann_lsh_auto``
    registration). Paraphrases that pass lexical dedup fall to the
    embedding edge; boilerplate below the cosine bar falls to the
    text edge. Both generators are the capped/auto scale paths, both
    portable — the whole two-graph closure is value-hash-gated.
    vec_id == doc_id is the fixtures' convention."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        cross_signal_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return cross_signal_dedup(docs, emb, jaccard_threshold=0.5,
                              cosine_threshold=0.4,
                              num_hashes=32, bands=8,
                              target_recall=0.9, max_bands=8,
                              dim=embedding_dim(emb), portable=True,
                              max_bucket=32)


def _q_cross_signal_dedup_indexed(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The DEPLOYMENT shape of multi-signal dedup (VERDICT r9 task 3):
    both arms' persisted index structures — the lexical arm's MinHash
    band-bucket table over the exact-dedup REPRESENTATIVES
    (``build_minhash_index(exact_representatives(docs))``) and the
    embedding arm's random-hyperplane bucket table at the auto
    operating point (``build_rp_lsh_index``) — are built once,
    persisted to parquet, and the composition reads them back via
    ``lex_index=`` / ``emb_index=``, skipping BOTH signature passes
    (the dominant cost of the in-query-rebuild registration; at sf10
    the rebuild pays both arms' index builds every run). Identical
    edges → identical components (unit-pinned through the parquet
    round trips), so the DuckDB twin is the same SQL as
    ``cross_signal_dedup`` — the grouping is
    index-representation-independent, the
    ``incremental_minhash_indexed`` argument applied to the composed
    closure. Same thresholds/params as the rebuild registration."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        build_minhash_index,
        cross_signal_dedup,
        exact_representatives,
    )
    from nyctaxidatapipeline_spark.operators.similarity import (
        build_rp_lsh_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex_dir = _index_dir(sf_dir, "documents", "mhreps_n3h32b8p")
    _materialize_index(
        build_minhash_index(exact_representatives(docs, "text", "doc_id"),
                            "text", "doc_id", n=3, num_hashes=32,
                            bands=8, portable=True),
        lex_dir)
    emb_dir = _index_dir(sf_dir, "embeddings", "rplsh_t04r09b8")
    _materialize_index(
        build_rp_lsh_index(emb, threshold=0.4, target_recall=0.9,
                           max_bands=8, dim=embedding_dim(emb)),
        emb_dir)
    return cross_signal_dedup(docs, emb, jaccard_threshold=0.5,
                              cosine_threshold=0.4,
                              num_hashes=32, bands=8,
                              target_recall=0.9, max_bands=8,
                              dim=embedding_dim(emb), portable=True,
                              max_bucket=32,
                              lex_index=spark.read.parquet(lex_dir),
                              emb_index=spark.read.parquet(emb_dir))


def _q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality measurement as a first-class query
    (``dedup.lsh_recall_report``): exact 3-gram-Jaccard pairs vs
    banded MinHash-LSH pairs at the same 0.5 threshold, full-outer
    joined into ONE row of (n_exact, n_lsh, n_common, recall,
    precision) — the trust-the-sketch check. The registered query
    measures the CAPPED operating point (``max_bucket=32``, the same
    backstop ``near_dup_production`` runs — the config a user will
    actually deploy), which ALSO makes the report itself scale-safe:
    both sides are skew-backstopped (exact by ``max_df``, LSH by the
    bucket cap), so it holds at corpus scale where the uncapped
    variant is deliberately quadratic in hot-class size and belongs on
    a sample (the uncapped full-corpus run measured 285.9 s at sf10 —
    recorded in PLANS.md #20 as the priced lesson). Portable hash
    family, so the whole double pipeline (both candidate generators,
    both verifications, the join, the ratios) is value-hash-gated."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        lsh_recall_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    return lsh_recall_report(docs, "text", "doc_id", n=3,
                             num_hashes=32, bands=8, threshold=0.5,
                             max_df=20, portable=True, max_bucket=32)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit) near-dup pairs within Hamming ≤ 3 over word-bigram
    features (banded pigeonhole candidates). Runs the PORTABLE hash family
    (md5-derived signature words, see ``dedup.simhash_words``) so the
    DuckDB oracle reproduces the whole sign-sum→band→candidate→Hamming
    pipeline bit-for-bit — fully value-hash-checked, not rows-only. The
    xxhash64 variant (``portable=False``) stays the pure-JVM production
    default. ``max_bucket=32`` is the default storm backstop made
    explicit (r14 — same contract as the MinHash family; the sf10
    census measured uncapped pair records ×65 at ×10 data), and the
    twin spells the identical bucket-size gate."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", tokens("text").alias("_tk")))
    return simhash_near_pairs(docs, shingles(F.col("_tk"), 2), "doc_id",
                              max_hamming=3, bands=4, portable=True,
                              max_bucket=32)


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.4 — fixture embeddings are
    near-orthogonal, max pair ≈ 0.51). Exact all-pairs via the distributed
    block-pair BLAS kernel: no driver-side collect — vectors replicate to
    their block pairs and each pair group matmuls in applyInPandas."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_blocked(emb, threshold=0.4, n_blocks=4)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 5 (broadcast
    queries, fold dot product, windowed rank — exact baseline ANN)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10,
                            dim=embedding_dim(emb))


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining
    (``similarity.hard_negatives``): top-5 most-similar
    DIFFERENT-label vectors for each query vec_id < 10 — the
    boundary-adjacent negatives an embedding-training loop samples.
    Exact brute baseline (broadcast queries, one fold per vector,
    WindowGroupLimit top-k); the 100 TB path is the same composition
    over ``ivf_topk``'s list-pruned candidates."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        hard_negatives,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=5,
                          dim=embedding_dim(emb))


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dup (24 planes, 4 bands) with exact
    rerank — the approximate scale path. Runs the PORTABLE md5-derived
    plane matrix (``similarity.rp_plane_components_portable``): the same
    literal components embed in the DuckDB oracle, so the entire
    signature→band→candidate→rerank pipeline is value-hash-checked, not
    rows-only. The xxhash64-derived planes stay the non-oracle default."""
    emb = load_table(spark, sf_dir, "embeddings")
    return rp_lsh_near_dup(emb, threshold=0.4, planes=24, bands=4,
                           dim=embedding_dim(emb), portable=True)


def _q_ann_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-parameterized LSH near-dup — the registered 100 TB operating
    point: (planes, bands) derived from the live corpus count by
    ``rp_lsh_params`` (band width ceil(log2 n) pins candidate volume
    linear in n; ``max_bands=8`` bounds signature cost at this low
    threshold, trading recall exactly as the helper documents). The
    corpus count is a bounded driver scalar — the same two-phase shape
    as the reference's approxQuantile threshold
    (yellow_taxi_etl.py:121). Per-band bucket integers
    (``rp_band_buckets_static``) lift the packed-long 63-bit plane cap.
    The oracle twin derives the identical parameters for the sf0.01
    fixture count (n=500 → 72 planes x 8 bands, width 9)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return rp_lsh_near_dup_auto(emb, threshold=0.4, target_recall=0.9,
                                max_bands=8, dim=embedding_dim(emb))


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 (16 centroid lists, nprobe=4) for query
    vectors vec_id < 5 — the partition-pruned ANN path: each query
    reranks ~nprobe/n_centroids of the corpus. Registered with
    md5-PORTABLE seed centroids (``ivf_seed_centroids_portable``) so the
    DuckDB twin rebuilds the exact centroid doubles from the same
    parquet and the whole probe→rerank pipeline is value-hash-checked;
    Lloyd-refined xxhash64 seeding stays the non-oracle default, and
    exhaustive-probe parity with brute force is unit-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_seed_centroids_portable(emb, n_centroids=16)
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=10,
                    nprobe=4, dim=embedding_dim(emb), centroids=cents)


def _q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYMENT shape of IVF search (the r9 persisted-index theme,
    vector side): the corpus's inverted index — ``similarity.ivf_assign``
    output (vec_id, vec, norm, list_id), the O(n·k·d) assignment pass a
    search service pays once at INGEST — is built once, persisted
    ``partitionBy('list_id')``, and every query batch probes the
    read-back index via ``corpus_index=``. Because the probe is a
    broadcast join on the PARTITION column, dynamic partition pruning
    reads only the probed lists' files — the plan a 100 TB index needs
    (plan-gated in tests). Same portable seed centroids, k, nprobe as
    ``ann_ivf``, and the result is INDEX-REPRESENTATION-INDEPENDENT
    (unit-pinned through the parquet round trip), so the DuckDB twin is
    the same SQL as the in-query-assignment registration."""
    from nyctaxidatapipeline_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_seed_centroids_portable(emb, n_centroids=16)
    idx_dir = _index_dir(sf_dir, "embeddings", "ivf16p")
    _materialize_index(ivf_assign(emb, cents, dim=embedding_dim(emb)),
                       idx_dir, partition_by="list_id")
    return ivf_topk(None, emb.filter(F.col("vec_id") < 5), k=10,
                    nprobe=4, dim=embedding_dim(emb), centroids=cents,
                    corpus_index=spark.read.parquet(idx_dir))


def _q_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment SEMANTIC admission
    (``similarity.incremental_semantic_admission``) — the
    embedding-side sibling of ``incremental_minhash``: vectors with
    ``vec_id % 50 == 1`` are the incoming batch, the rest the standing
    corpus; a batch vector is admitted unless some IVF-probed corpus
    vector (or a smaller-id batch vector whose top-1 list it probes)
    sits at cosine ≥ 0.4 (the fixture's near-dup operating point).
    Portable seed centroids make routing + verification bit-reproducible
    in DuckDB, so the admission verdicts are value-hash-gated; the
    probed-lists recall contract is ``ann_ivf``'s. Output: admitted
    (vec_id, vec_norm)."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        incremental_semantic_admission,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 50 != 1)
    batch = emb.filter(F.col("vec_id") % 50 == 1)
    cents = ivf_seed_centroids_portable(emb, n_centroids=16)
    adm = incremental_semantic_admission(
        batch, corpus, threshold=0.4, nprobe=4,
        dim=embedding_dim(emb), centroids=cents)
    from nyctaxidatapipeline_spark.operators.similarity import as_double

    return round_doubles(adm.select(
        "vec_id",
        l2_norm(as_double(F.col("embedding")),
                embedding_dim(emb)).alias("vec_norm")))


def _q_incremental_semantic_indexed(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The FIXED-16-LIST persisted-index semantic admission — kept as
    the oracle-parity point and a measured shape lesson, NOT the
    deployment shape: the r11 sf10 pricing (PLANS.md #23) showed this
    query is verification-bound at scale (warm 82.7 s vs ~5-10 s for
    the auto-sized paths — a fixed list count leaves per-probe
    candidate volume growing with the corpus, and persisting the index
    only removes the assignment pass). The deployment registration is
    ``incremental_semantic_auto_indexed``. Original design (r10) — the
    third leg of the persisted-index family
    (``incremental_minhash_indexed`` is the lexical admission,
    ``ann_ivf_indexed`` the search path):
    the standing CORPUS's inverted index (``similarity.ivf_assign``
    output, the O(corpus·k·d) assignment a deployment pays once at
    ingest) is built once, persisted ``partitionBy('list_id')``, and
    every daily increment probes the read-back index via
    ``corpus_index=`` — the corpus is never re-routed, and because the
    probe join keys on the PARTITION column, dynamic partition pruning
    reads only the probed lists' files (plan-gated in
    ``tests/test_dedup_similarity.py``). Same ~2% batch split, 0.4
    threshold, nprobe and portable seed centroids as
    ``incremental_semantic``, and the admitted set is
    INDEX-REPRESENTATION-INDEPENDENT (unit-pinned through the parquet
    round trip), so the DuckDB twin is the same SQL as the
    in-query-assignment registration. Output: admitted
    (vec_id, vec_norm)."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        as_double,
        incremental_semantic_admission,
        ivf_assign,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 50 != 1)
    batch = emb.filter(F.col("vec_id") % 50 == 1)
    cents = ivf_seed_centroids_portable(emb, n_centroids=16)
    idx_dir = _index_dir(sf_dir, "embeddings", "ivf16p_c50")
    _materialize_index(ivf_assign(corpus, cents, dim=embedding_dim(emb)),
                       idx_dir, partition_by="list_id")
    adm = incremental_semantic_admission(
        batch, None, threshold=0.4, nprobe=4,
        dim=embedding_dim(emb), centroids=cents,
        corpus_index=spark.read.parquet(idx_dir))
    return round_doubles(adm.select(
        "vec_id",
        l2_norm(as_double(F.col("embedding")),
                embedding_dim(emb)).alias("vec_norm")))


def _q_incremental_semantic_auto(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The 100 TB operating point of the semantic admission gate
    (``similarity.incremental_semantic_admission_auto``): same ~2%
    split and 0.4 threshold as ``incremental_semantic``, but with the
    corpus-size-aware list count (ceil(sqrt(4·|corpus|)) — a FIXED
    list count bends the cost curve quadratic: 12.0 s at sf1 for the
    16-list point) and the ``knn_graph_ivf`` Arrow/BLAS routing +
    verification kernels, routing dots rounded 6 dp pre-argmax so the
    DuckDB twin reproduces every list assignment. Output: admitted
    (vec_id, vec_norm)."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        as_double,
        incremental_semantic_admission_auto,
        knn_graph_ivf_n_centroids,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 50 != 1)
    batch = emb.filter(F.col("vec_id") % 50 == 1)
    kk = knn_graph_ivf_n_centroids(corpus.count(), 4)
    cents = ivf_seed_centroids_portable(emb, n_centroids=kk)
    adm = incremental_semantic_admission_auto(
        batch, corpus, threshold=0.4, nprobe=4, centroids=cents)
    return round_doubles(adm.select(
        "vec_id",
        l2_norm(as_double(F.col("embedding")),
                embedding_dim(emb)).alias("vec_norm")))


def _q_incremental_semantic_auto_indexed(spark: SparkSession,
                                         sf_dir: str) -> DataFrame:
    """The DEPLOYMENT shape of the semantic admission gate AT ITS SCALE
    OPERATING POINT (r11 — closing the r10 gap): the sf10 pricing run
    showed the 16-list ``incremental_semantic_indexed`` twin is
    verification-bound (warm ~78 s vs the auto path's 7.6 s at sf10 —
    a FIXED list count leaves per-probe candidate volume growing with
    the corpus, and no index can fix that), so the shape a deployment
    actually wants persists the AUTO-sized ROUTED corpus
    (``similarity.build_semantic_routing_index`` — every corpus
    vector's top-1 list assignment, THE corpus-sized BLAS pass a cold
    admission pays every day) partitioned by list, and each daily
    increment probes the read-back table via ``corpus_routed=``: batch
    routing + probed lists' kernels only, the corpus is never
    re-routed. Same split/threshold/nprobe/centroids as
    ``incremental_semantic_auto``; admitted set is INDEX-
    REPRESENTATION-INDEPENDENT (unit-pinned through a parquet round
    trip, centroid identity stamp-validated), so the DuckDB twin is
    the same SQL."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        as_double,
        build_semantic_routing_index,
        incremental_semantic_admission_auto,
        knn_graph_ivf_n_centroids,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 50 != 1)
    batch = emb.filter(F.col("vec_id") % 50 == 1)
    kk = knn_graph_ivf_n_centroids(corpus.count(), 4)
    cents = ivf_seed_centroids_portable(emb, n_centroids=kk)
    idx_dir = _index_dir(sf_dir, "embeddings", f"semrouted_k{kk}")
    _materialize_index(build_semantic_routing_index(corpus, cents),
                       idx_dir, partition_by="list_id")
    adm = incremental_semantic_admission_auto(
        batch, None, threshold=0.4, nprobe=4, centroids=cents,
        corpus_routed=spark.read.parquet(idx_dir))
    return round_doubles(adm.select(
        "vec_id",
        l2_norm(as_double(F.col("embedding")),
                embedding_dim(emb)).alias("vec_norm")))


def _q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 kNN graph over the WHOLE embeddings table (self
    excluded) — ``similarity.knn_graph``: the block-pair BLAS kernel
    emits per-group partial top-5s (candidate sets partition per
    anchor, so the union provably contains the global top-5), one
    anchor-keyed window merges them. No driver collect, no corpus
    broadcast; window input is O(n·n_blocks·k), never O(n²) rows.
    The sublinear scale paths for this contract are ``ivf_topk`` /
    ``ivfpq_topk`` with queries=corpus (both oracle-gated)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph(emb, k=5, n_blocks=4)


def _q_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE top-5 kNN graph — ``similarity.knn_graph_ivf``: the
    sublinear scale path ``knn_graph``'s contract names, now a
    registered oracle-gated query (VERDICT r5 item 3). IVF with
    queries = corpus, nprobe=4, self excluded, scored by the list-keyed
    BLAS kernel (no query broadcast — both sides ARE the corpus). The
    list count is AUTO-sized from the live corpus count
    (``knn_graph_ivf_n_centroids``: ceil(sqrt(nprobe·n)) — n=500 → 45
    lists at correctness scale), balancing assignment vs probed scan
    for Θ(n^1.5·d) total. Recall vs the exact graph is gated in
    tests/test_recall at this auto-sized shape; md5-portable seed
    centroids keep the twin value-hash-checkable (the twin derives the
    identical list count via CEIL(SQRT(4*COUNT(*))))."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        knn_graph_ivf_n_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k_lists = knn_graph_ivf_n_centroids(emb.count(), nprobe=4)
    cents = ivf_seed_centroids_portable(emb, n_centroids=k_lists)
    return knn_graph_ivf(emb, k=5, nprobe=4, dim=embedding_dim(emb),
                         centroids=cents)


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 (m=4 subspaces x 16 codes, ADC
    candidate scan, rerank=50) for query vectors vec_id < 5 — the
    memory-compressed ANN path: the candidate scan reads 4 ints per
    vector instead of 64 floats. Registered with md5-PORTABLE seed
    codebooks (``pq_seed_codebooks_portable``) so the DuckDB twin
    rebuilds the exact codebook doubles from the same parquet and the
    whole encode->ADC->rerank pipeline is value-hash-checked; k-means
    codebooks (``pq_kmeans_codebooks``) stay the non-oracle default,
    and exhaustive-rerank parity with brute force is unit-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_seed_codebooks_portable(emb, n_codes=16, m=4,
                                       dim=embedding_dim(emb))
    return pq_topk(emb, emb.filter(F.col("vec_id") < 5), k=10,
                   rerank=50, dim=embedding_dim(emb), codebooks=books)


def _q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-10 — the composed FAISS IVFPQ shape:
    coarse quantizer (16 lists, nprobe=4) prunes the scan, PQ/ADC
    (m=4 x 16 codes) scores the probed candidates without touching a
    float vector, exact rerank of 50. Registered with md5-PORTABLE
    seeds for BOTH quantizers so the DuckDB twin rebuilds the exact
    centroid and codebook doubles and the whole
    assign->probe->ADC->rerank pipeline is value-hash-checked;
    kmeans-refined quantizers stay the non-oracle default, and
    exhaustive parity with brute force is unit-tested."""
    from nyctaxidatapipeline_spark.operators.pq import (
        ivfpq_topk,
        pq_seed_codebooks_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_seed_centroids_portable(emb, n_centroids=16)
    books = pq_seed_codebooks_portable(emb, n_codes=16, m=4,
                                       dim=embedding_dim(emb))
    return ivfpq_topk(emb, emb.filter(F.col("vec_id") < 5), k=10,
                      nprobe=4, rerank=50, dim=embedding_dim(emb),
                      centroids=cents, codebooks=books)


def _q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full d x d population covariance of the embedding corpus — the
    one-pass sufficient-statistics aggregate behind distributed PCA
    (``operators.pca``): row-local array-lambda moment generator, ONE
    map-side-combined shuffle of O(d^2) groups, covariance assembled by
    broadcast joins. The twin computes the identical
    ``(Sxy - Sx*Sy/n)/n`` expression from lateral-unnested pairs."""
    from nyctaxidatapipeline_spark.operators.pca import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, "embedding", decimals=6)


def _q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principal-component scores for every vector — the
    tall-skinny PCA pipeline end to end: distributed moments → bounded
    d x d driver collect → power iteration (24 fixed steps, 9 dp
    re-rounded each step so cross-engine matvec drift cannot
    accumulate) → shuffle-free literal-array projection. The oracle
    unrolls the IDENTICAL iteration as generated CTEs
    (``_pca_oracle_sql``), PageRank-twin style."""
    from nyctaxidatapipeline_spark.operators.pca import pca_project_top

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project_top(emb, "embedding", id_col="vec_id", iters=24)


def _q_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (1%/99% exact-quantile-clipped) price stats per
    return flag — robust scaling before features enter a model. ONE
    percentile aggregate → 1-row broadcast bounds → narrow clip
    (``cleaning.winsorize``); the twin clips against DuckDB's
    ``quantile_cont`` (same continuous-quantile definition as
    ``F.percentile``)."""
    from nyctaxidatapipeline_spark.operators.cleaning import winsorize

    li = load_table(spark, sf_dir, "lineitem")
    w = winsorize(li, "l_extendedprice", 0.01, 0.99, out_col="_p")
    return (w.groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.avg("_p"), 6).alias("avg_price"),
                  F.round(F.min("_p"), 6).alias("min_price"),
                  F.round(F.max("_p"), 6).alias("max_price")))


def _q_winsorized_prices_approx(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """``winsorized_prices`` through the 100 TB quantile mode the exact
    variant's docstring recommends: bounds from the mergeable
    Greenwald-Khanna sketch (``percentile_approx``) instead of the
    whole-column exact percentile buffer. accuracy=1,000,000 keeps the
    sketch uncompressed at fixture group sizes, so the bounds are the
    exact rank statistics and the twin clips against DuckDB
    ``quantile_disc`` — full hash parity — while sf1-scale inputs
    genuinely compress (bounded memory, rank error <= 1/accuracy)."""
    from nyctaxidatapipeline_spark.operators.cleaning import winsorize

    li = load_table(spark, sf_dir, "lineitem")
    w = winsorize(li, "l_extendedprice", 0.01, 0.99, out_col="_p",
                  mode="approx", accuracy=1_000_000)
    return (w.groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.avg("_p"), 6).alias("avg_price"),
                  F.round(F.min("_p"), 6).alias("min_price"),
                  F.round(F.max("_p"), 6).alias("max_price")))


def _q_grouped_percentiles_approx(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Per-group percentiles through the mergeable sketch
    (``grouped_percentiles(mode='approx')``) — same contract as the
    exact query, bounded-memory per group. accuracy=1,000,000 ⇒ exact
    rank statistics at fixture scale (twin: ``quantile_disc``),
    genuine compression at sf1 group sizes."""
    return grouped_percentiles(_lineitem(spark, sf_dir), ["l_returnflag"],
                               "l_extendedprice", (0.5, 0.95),
                               mode="approx", accuracy=1_000_000)


def _q_feature_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision census over events(event_type, user_id)
    → 64 buckets: occupancy n_rows + distinct raw values per bucket
    (``featurize.bucket_collision_profile``). Vocabulary-free,
    append-stable md5 indices — the twin recomputes the identical
    ``md5('col:' || value)`` bucketing."""
    from nyctaxidatapipeline_spark.operators.featurize import (
        bucket_collision_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    return bucket_collision_profile(ev, ["event_type", "user_id"],
                                    n_buckets=64)


def _q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed training batches (batch_size=16, longest-first)
    over documents with per-batch padding-waste accounting
    (``packing.length_bucketed_batches``). Global order comes from the
    distributed two-pass prefix sum — no single-task window; the twin
    uses a plain ROW_NUMBER over the same (n_tokens DESC, doc_id)
    order."""
    from nyctaxidatapipeline_spark.operators.packing import (
        length_bucketed_batches,
    )

    docs = load_table(spark, sf_dir, "documents")
    return length_bucketed_batches(docs, "text", "doc_id", batch_size=16)


def _q_time_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE-frame window per user over events — count
    + mean of value in [t-1h, t] (``windows.time_range_agg``): the
    time-predicate complement of the rows-frame ``moving_avg``. Peer
    rows (same epoch second) see each other symmetrically in BOTH
    engines — RANGE semantics are deterministic without a unique
    ordering key."""
    from nyctaxidatapipeline_spark.operators.windows import (
        time_range_agg,
    )

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts",
                                       "value")
    out = time_range_agg(ev, ["user_id"], "ts", "value",
                         window_seconds=3600, prefix="v1h")
    return out.select("event_id", "user_id", "v1h_n", "v1h_avg")


def _q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 deterministic contrastive negatives per document
    (``sampling.negative_samples``): dense rank via the distributed
    prefix sum, md5-drawn partner rank with the skip-self shift,
    resolved by a rank equi-join — a pure function of the ids, so the
    twin redraws the identical pairs."""
    from nyctaxidatapipeline_spark.operators.sampling import (
        negative_samples,
    )

    docs = load_table(spark, sf_dir, "documents")
    return negative_samples(docs, "doc_id", k=4)


def _q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → dedup GROUPS: connected components over the exact
    3-gram-Jaccard ≥ 0.5 pair graph; group_id = min doc_id reachable.
    Iterative min-label propagation on the Spark side; the oracle computes
    the same closure with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5,
                          max_df=20)
    return (connected_components(pairs)
            .select(F.col("id").alias("doc_id"),
                    F.col("comp").alias("group_id")))


# --------------------------------------------------------------------------
# North star: text analysis (language ID, quality, token stats, fingerprint)
# --------------------------------------------------------------------------

def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (CJK check + marker-stopword argmax) as a
    label x prediction confusion table."""
    docs = load_table(spark, sf_dir, "documents")
    return language_confusion(docs, "text", "lang")


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counting (whitespace tokenizer contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return token_stats(docs, "text", "doc_id")


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality heuristics + combined score per doc."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs, "text", "doc_id")


def _q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 content fingerprint dedup (case/whitespace
    insensitive exact identity)."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_dedup(docs, "text", "doc_id")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: keep 25% of English (the
    over-represented stratum), all German/French, half of Spanish,
    default 10% for anything else. Pure hash filter — deterministic on
    any engine, no shuffle (the oracle reproduces it bit-for-bit)."""
    docs = load_table(spark, sf_dir, "documents")
    return (stratified_sample(docs, "doc_id", "lang",
                              {"en": 0.25, "de": 1.0, "fr": 1.0,
                               "es": 0.5},
                              default_fraction=0.1)
            .select("doc_id", "lang"))


def _q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII surface scan + redaction. The fixture corpus contains no
    digits, so the query first injects synthetic PII as a deterministic
    function of doc_id (email for % 7, phone for % 11, ipv4 for % 13 —
    reproduced verbatim in the oracle); the operators then count and
    redact it. Exercises regexp parity (java.util.regex vs RE2) on
    nonzero hits."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" call 555-867-5309")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.concat(F.lit(" host 10.0."),
                            (F.col("doc_id") % 250).cast("string"),
                            F.lit(".1"))).otherwise(F.lit("")),
        ).alias("text"))
    stats = pii_stats(aug, "text", "doc_id")
    red = pii_redact(aug, "text").select("doc_id", "redacted")
    return stats.join(red, "doc_id")


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals: duplicate-bigram mass and
    top-bigram concentration per document (boilerplate/degenerate-text
    detector)."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id", n=2)


def _q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document 3-gram overlap between the
    training corpus (doc_id % 20 != 0) and a held-out benchmark slice
    (doc_id % 20 == 0). The benchmark's distinct shingle set broadcasts —
    the corpus is never shuffled by shingle."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_contamination(corpus, bench, "text", "doc_id", n=3)


def _q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% corpus sample, then 80/10/10 train/val/test
    labels — assignment is a pure function of md5(doc_id) so it is stable
    across reruns, repartitions, appends, and engines (the oracle
    reproduces it bit-for-bit in DuckDB)."""
    docs = load_table(spark, sf_dir, "documents")
    return (with_split(deterministic_sample(docs, "doc_id", 0.25),
                       "doc_id")
            .select("doc_id", "split"))


# --------------------------------------------------------------------------
# Reshape (pivot/unpivot/cube), distinct/percentile aggs, temporal ops
# --------------------------------------------------------------------------

def _q_pivot_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-returnflag quantity totals spread over linestatus columns
    (explicit value list -> single-pass CASE aggregation)."""
    out = pivot_agg(_lineitem(spark, sf_dir), "l_returnflag",
                    "l_linestatus", ["O", "F"], "l_quantity", prefix="qty_")
    return round_doubles(out)


def _q_melt_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): per-flag sums melted to (measure, val)."""
    agg = (_lineitem(spark, sf_dir).groupBy("l_returnflag")
           .agg(F.round(F.sum("l_quantity"), 6).alias("qty"),
                F.round(F.sum("l_extendedprice"), 6).alias("price")))
    return melt(agg, ["l_returnflag"], ["qty", "price"])


def _q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (flag x status): all four granularities in one pass."""
    out = cube_agg(_lineitem(spark, sf_dir),
                   ["l_returnflag", "l_linestatus"],
                   [F.sum("l_quantity").alias("sum_qty"),
                    F.count("*").alias("n_items")])
    return round_doubles(out)


def _q_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact interpolated percentiles (p50/p95 of price); the
    approx sketch mode is the 100 TB path (same operator, mode='approx')."""
    return grouped_percentiles(_lineitem(spark, sf_dir), ["l_returnflag"],
                               "l_extendedprice", (0.5, 0.95), mode="exact")


def _q_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact distinct cardinality (HLL approx mode exists for
    scale; exact mode is the oracle-checked twin)."""
    return distinct_counts(_lineitem(spark, sf_dir), ["l_returnflag"],
                           "l_partkey", mode="exact")


def _q_sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user via lag + running sum
    (one window shuffle), with per-session stats."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    return session_stats(ev, ["user_id"], "ts", gap_seconds=1800)


def _q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): each error event picks up the most
    recent purchase of the same user. Union + carry-forward window — the
    composition Spark lacks natively; DuckDB oracle uses its native
    ASOF LEFT JOIN."""
    ev = _events(spark, sf_dir)
    errors = (ev.filter(F.col("event_type") == "error")
                .select("event_id", "user_id", "ts", "value"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", "ts", "value"))
    return asof_join(errors, purchases, ["user_id"], "ts", "ts", ["value"])


# --------------------------------------------------------------------------
# SQL API surface + X2 inter-arrival analytics
# --------------------------------------------------------------------------

def _q_tpch_q1_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 via the SQL API (temp view + spark.sql) — Catalyst plans
    SQL and DataFrame identically; this query pins the SQL surface."""
    _lineitem(spark, sf_dir).createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 6) AS sum_qty,
               ROUND(SUM(l_extendedprice), 6) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 6)
                   AS sum_disc_price,
               ROUND(AVG(l_quantity), 6) AS avg_qty,
               ROUND(AVG(l_extendedprice), 6) AS avg_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)


#: TPC-H-adapted SQL shared VERBATIM between Spark and the DuckDB oracle
#: (dialect-identical subset: TIMESTAMP literals, ROUND, BETWEEN). Table
#: names are format placeholders: Spark binds temp views, DuckDB binds the
#: pre-registered parquet views — one source of truth per query, so the
#: differential gate checks Catalyst's plan, not a transcription.
#: LIMIT/ORDER BY are omitted (the driver compares order-insensitively).
_TPCH_SQL = {
    # Q3 shipping priority (o_shippriority column absent in fixture)
    "tpch_q3_sql": """
        SELECT l.l_orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
                   AS revenue,
               o.o_orderdate
        FROM {customer} c
        JOIN {orders} o ON c.c_custkey = o.o_custkey
        JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate
    """,
    # Q5 local supplier volume
    "tpch_q5_sql": """
        SELECT n.n_name,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
                   AS revenue
        FROM {customer} c
        JOIN {orders} o ON c.c_custkey = o.o_custkey
        JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
                         AND c.c_nationkey = s.s_nationkey
        JOIN {nation} n ON s.s_nationkey = n.n_nationkey
        JOIN {region} r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n.n_name
    """,
    # Q6 forecast revenue change
    "tpch_q6_sql": """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 6) AS revenue,
               COUNT(*) AS n_lines
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    # Q10 returned-item reporting (address/phone/comment absent)
    "tpch_q10_sql": """
        SELECT c.c_custkey, c.c_name,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
                   AS revenue,
               ROUND(c.c_acctbal, 6) AS c_acctbal, n.n_name
        FROM {customer} c
        JOIN {orders} o ON c.c_custkey = o.o_custkey
        JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
        JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    """,
    # Q4 order-priority checking: correlated EXISTS. Adapted "late line"
    # predicate (fixture has no l_commitdate/l_receiptdate): a line
    # shipping >60 days after the order date.
    "tpch_q4_sql": """
        SELECT o.o_orderpriority, COUNT(*) AS order_count
        FROM {orders} o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM {lineitem} l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o.o_orderpriority
    """,
    # Q7 volume shipping between two nations, by year
    "tpch_q7_sql": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER)
                   AS l_year,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
                   AS revenue
        FROM {supplier} s
        JOIN {lineitem} l ON s.s_suppkey = l.l_suppkey
        JOIN {orders} o ON o.o_orderkey = l.l_orderkey
        JOIN {customer} c ON c.c_custkey = o.o_custkey
        JOIN {nation} n1 ON s.s_nationkey = n1.n_nationkey
        JOIN {nation} n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l.l_shipdate)
    """,
    # Q8 national market share inside one region's PROMO market
    "tpch_q8_sql": """
        SELECT o_year,
               ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE 0 END) / SUM(volume), 6) AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER)
                     AS o_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume,
                 n2.n_name AS nation
          FROM {part} p
          JOIN {lineitem} l ON p.p_partkey = l.l_partkey
          JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
          JOIN {orders} o ON o.o_orderkey = l.l_orderkey
          JOIN {customer} c ON c.c_custkey = o.o_custkey
          JOIN {nation} n1 ON c.c_nationkey = n1.n_nationkey
          JOIN {region} r ON n1.n_regionkey = r.r_regionkey
          JOIN {nation} n2 ON s.s_nationkey = n2.n_nationkey
          WHERE r.r_name = 'ASIA'
            AND p.p_type = 'PROMO'
            AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        ) all_nations
        GROUP BY o_year
    """,
    # Q9 product-type profit by supplier nation and year. Adapted
    # (fixture has no partsupp.ps_supplycost): profit = revenue.
    "tpch_q9_sql": """
        SELECT nation, o_year, ROUND(SUM(volume), 6) AS sum_profit
        FROM (
          SELECT n.n_name AS nation,
                 CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER)
                     AS o_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume
          FROM {part} p
          JOIN {lineitem} l ON p.p_partkey = l.l_partkey
          JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
          JOIN {orders} o ON o.o_orderkey = l.l_orderkey
          JOIN {nation} n ON s.s_nationkey = n.n_nationkey
          WHERE p.p_name LIKE '%red%'
        ) profit
        GROUP BY nation, o_year
    """,
    # Q13 customer order-count distribution (left join + re-aggregate)
    "tpch_q13_sql": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
          SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM {customer} c
          LEFT JOIN {orders} o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        ) c_orders
        GROUP BY c_count
    """,
    # Q14 promotion-effect revenue share
    "tpch_q14_sql": """
        SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                       THEN l.l_extendedprice * (1 - l.l_discount)
                       ELSE 0 END)
                     / SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
                   AS promo_revenue
        FROM {lineitem} l
        JOIN {part} p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
    # Q18 large-volume customers (IN over a grouped-HAVING subquery)
    "tpch_q18_sql": """
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               ROUND(o.o_totalprice, 6) AS o_totalprice,
               ROUND(SUM(l.l_quantity), 6) AS sum_qty
        FROM {customer} c
        JOIN {orders} o ON c.c_custkey = o.o_custkey
        JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM {lineitem}
          GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                 o.o_totalprice
    """,
    # Q19 discounted revenue under OR'd brand/size/quantity predicates
    "tpch_q19_sql": """
        SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
                   AS revenue,
               COUNT(*) AS n_lines
        FROM {lineitem} l
        JOIN {part} p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity BETWEEN 10 AND 30)
           OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 20 AND 50
               AND l.l_quantity BETWEEN 20 AND 40)
    """,
    # Q22 global-sales-opportunity shape: scalar subquery + anti
    # correlated NOT EXISTS. Adapted (no c_phone in fixture): customers
    # above the mean balance with no URGENT order.
    "tpch_q22_sql": """
        SELECT c.c_nationkey, COUNT(*) AS numcust,
               ROUND(SUM(c.c_acctbal), 6) AS totacctbal
        FROM {customer} c
        WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM {customer})
          AND NOT EXISTS (
            SELECT 1 FROM {orders} o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT')
        GROUP BY c.c_nationkey
    """,
    # Q2 minimum-cost supplier: correlated scalar MIN subquery over the
    # same region. Adapted (no partsupp.ps_supplycost in fixture): the
    # "cost" of supplying a part is the observed lineitem unit price
    # l_extendedprice / l_quantity; Catalyst must decorrelate the MIN
    # into an aggregate-then-join on p_partkey.
    "tpch_q2_sql": """
        SELECT DISTINCT ROUND(s.s_acctbal, 6) AS s_acctbal, s.s_name,
               n.n_name, p.p_partkey, p.p_name,
               ROUND(l.l_extendedprice / l.l_quantity, 6) AS unit_price
        FROM {part} p
        JOIN {lineitem} l ON p.p_partkey = l.l_partkey
        JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
        JOIN {nation} n ON s.s_nationkey = n.n_nationkey
        JOIN {region} r ON n.n_regionkey = r.r_regionkey
        WHERE p.p_size <= 15 AND p.p_type = 'PROMO' AND r.r_name = 'ASIA'
          AND l.l_extendedprice / l.l_quantity = (
            SELECT MIN(l2.l_extendedprice / l2.l_quantity)
            FROM {lineitem} l2
            JOIN {supplier} s2 ON s2.s_suppkey = l2.l_suppkey
            JOIN {nation} n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN {region} r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'ASIA')
    """,
    # Q11 important-stock identification: scalar subquery in HAVING
    # (group value above a fraction of the national total). Adapted
    # (no partsupp): part value = SUM(l_extendedprice * l_quantity)
    # over lines shipped by the nation's suppliers.
    "tpch_q11_sql": """
        SELECT l.l_partkey,
               ROUND(SUM(l.l_extendedprice * l.l_quantity), 6) AS value
        FROM {lineitem} l
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
        JOIN {nation} n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_1'
        GROUP BY l.l_partkey
        HAVING SUM(l.l_extendedprice * l.l_quantity) > (
          SELECT SUM(l2.l_extendedprice * l2.l_quantity) * 0.001
          FROM {lineitem} l2
          JOIN {supplier} s2 ON l2.l_suppkey = s2.s_suppkey
          JOIN {nation} n2 ON s2.s_nationkey = n2.n_nationkey
          WHERE n2.n_name = 'NATION_1')
    """,
    # Q12 shipping modes & order priority. Adapted (no l_shipmode /
    # l_commitdate / l_receiptdate): "mode" = l_returnflag, "late" =
    # shipped >60 days after the order date (same rule as the Q4
    # adaptation). CASTs pin SUM(int) to BIGINT on both engines.
    "tpch_q12_sql": """
        SELECT l.l_returnflag,
               CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                          OR o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0
                         END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority <> '1-URGENT'
                         AND o.o_orderpriority <> '2-HIGH' THEN 1 ELSE 0
                         END) AS BIGINT) AS low_line_count
        FROM {orders} o
        JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag IN ('R', 'A')
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_returnflag
    """,
    # Q15 top supplier: CTE reused twice — once as a join input, once
    # under a scalar MAX subquery. total_revenue is rounded INSIDE the
    # CTE so the equality-to-max compare is stable across engines'
    # summation orders.
    "tpch_q15_sql": """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 6)
                     AS total_revenue
          FROM {lineitem}
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM {supplier} s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    # Q16 parts/supplier relationship: NOT IN over a subquery (Spark's
    # null-aware anti join) + COUNT(DISTINCT). Adapted (no partsupp, no
    # s_comment): the part-supplier link is lineitem; the excluded
    # suppliers ("complaints") are those with negative balance.
    "tpch_q16_sql": """
        SELECT p.p_brand, p.p_type, p.p_size,
               COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM {part} p
        JOIN {lineitem} l ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    # Q17 small-quantity-order revenue: correlated scalar AVG subquery
    # per part (the classic decorrelation benchmark). Quantities are
    # small exact integers-as-doubles, so the 0.2*AVG threshold is
    # bit-identical across engines.
    "tpch_q17_sql": """
        SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 6) AS avg_yearly,
               COUNT(*) AS n_lines
        FROM {lineitem} l
        JOIN {part} p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity) FROM {lineitem} l2
            WHERE l2.l_partkey = p.p_partkey)
    """,
    # Q20 potential part promotion: IN-subquery nesting with a
    # correlated scalar subquery inside HAVING. Adapted (no
    # partsupp.ps_availqty): a supplier qualifies when its shipped
    # quantity of a 'red' part exceeds half that part's total shipped
    # quantity over the year.
    "tpch_q20_sql": """
        SELECT s.s_name, s.s_suppkey
        FROM {supplier} s
        JOIN {nation} n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_1'
          AND s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM {lineitem} l
            WHERE l.l_partkey IN (
              SELECT p_partkey FROM {part} WHERE p_name LIKE '%red%')
              AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING SUM(l.l_quantity) > 0.5 * (
              SELECT SUM(l2.l_quantity) FROM {lineitem} l2
              WHERE l2.l_partkey = l.l_partkey
                AND l2.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l2.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
    """,
    # Q21 suppliers who kept orders waiting: correlated EXISTS + NOT
    # EXISTS self-joins on lineitem with a non-equi predicate through
    # the outer orders table. Adapted: "late" = shipped >60 days after
    # the order date (no l_commitdate/l_receiptdate in fixture).
    "tpch_q21_sql": """
        SELECT s.s_name, COUNT(*) AS numwait
        FROM {supplier} s
        JOIN {lineitem} l1 ON s.s_suppkey = l1.l_suppkey
        JOIN {orders} o ON o.o_orderkey = l1.l_orderkey
        JOIN {nation} n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
          AND n.n_name = 'NATION_1'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM {lineitem} l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM {lineitem} l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s.s_name
    """,
}

_TPCH_TABLES = ("lineitem", "orders", "customer", "supplier", "nation",
                "region", "part")


def _tpch_sql_query(name: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in _TPCH_TABLES:
            load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_v")
        return spark.sql(_TPCH_SQL[name].format(
            **{t: f"{t}_v" for t in _TPCH_TABLES}))
    run.__doc__ = f"TPC-H-adapted {name} via the SQL API (shared-text twin)."
    return run


def _q_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-flag, per-status,
    and grand-total counts in one pass."""
    _lineitem(spark, sf_dir).createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
               ROUND(SUM(l_quantity), 6) AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


def _q_user_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mean inter-event gap in minutes — X2 semantics end-to-end
    (unix_timestamp second truncation before subtraction) over a lag
    window."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    lagged = with_lag(ev, ["user_id"], "ts", "ts", alias="prev_ts")
    delta_min = ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts"))
                 / 60.0)
    out = (lagged.withColumn("gap_min", delta_min)
           .groupBy("user_id")
           .agg(F.round(F.avg("gap_min"), 6).alias("avg_gap_min"),
                F.count("gap_min").alias("n_gaps")))
    return out


# --------------------------------------------------------------------------
# CDC/SCD2, range join, profiling
# --------------------------------------------------------------------------

def _q_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 replay: orders as a change stream for a per-customer attribute
    -> versioned rows with [valid_from, valid_to) + is_current (lead
    window; orderkey tiebreak for same-day changes)."""
    od = load_table(spark, sf_dir, "orders")
    return scd2_versions(od, ["o_custkey"], "o_orderdate",
                         ["o_orderkey", "o_totalprice"],
                         tiebreak_cols=["o_orderkey"])


def _q_range_join_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via time-bucketed equi-join (no nested-loop): error
    events paired with same-user purchases within the prior 10 minutes."""
    ev = _events(spark, sf_dir)
    errors = (ev.filter(F.col("event_type") == "error")
                .select("user_id", F.col("event_id").alias("error_id"),
                        F.col("ts").alias("error_ts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", F.col("event_id").alias("purchase_id"),
                           F.col("ts").alias("purchase_ts")))
    return range_join_recent(errors, purchases, "user_id",
                             "error_ts", "purchase_ts", 600)


def _q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric profiling (count/nulls/distinct/min/max/mean per column) —
    the pre-flight scan of a large-pipeline ingest."""
    return profile_numeric(_lineitem(spark, sf_dir),
                           ["l_quantity", "l_extendedprice",
                            "l_discount", "l_tax"])


def _q_profile_lineitem_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``profile_lineitem`` through the 100 TB distinct-count mode: the
    PLAN_METRICS census showed the exact profile's entire 18 MB shuffle
    is its per-column ``countDistinct`` (a distinct-shuffle of every
    column's values — data-sized at scale). This twin swaps in the
    portable HyperLogLog (``sketches.hll_registers``/``hll_finish``,
    b=12 → 4,096 registers, ~1.6 % rse): shuffle volume collapses to
    O(registers) per column regardless of corpus size, and — unlike
    Spark's native ``approx_count_distinct`` — the estimator is
    bit-reproducible in the DuckDB twin (md5-prefix hash over the
    DECIMAL(38,10) canonical rendering, integer rho, scaled-integer
    indicator sum, the ``distinct_users_hll`` recipe). The exact
    ``profile_lineitem`` stays registered as the parity gate.

    Measured at sf0.1 (PLAN_METRICS census): shuffle 18,159,550 B /
    583 k records (exact) → 41,937 B / 4.2 k records (this mode) —
    400× less traffic. The shape is TWO scan passes total regardless
    of column count (one wide stats aggregate unpivoted from its
    single row; one exploded (column, canonical value) register
    aggregate — ``profile._profile_hll``; the census drove this: the
    first cut ran 2 passes PER column, 86.5 MB read and 27.6 s at
    sf10, vs 21.6 MB and 14.8 s now). Estimates within the b=12 rse
    (50→49.3, 583,090→588,000 ≈ +0.8 %, 11→11.01, 9→9.01). On one
    host, where the distinct-shuffle is memory-speed, the sketch costs
    ~2-3× the exact mode's wall at every scale (committed rows: 1.6 vs
    3.2 s sf0.1 BENCH_FULL, 1.66 vs 4.97 sf1 BENCH_SF1, 9.8 vs 17.8
    sf10 BENCH_SF10 — two passes + one md5 per value, both modes
    sub-linear per decade); its win is the network/memory bound on a
    real cluster, which the fixture cannot price. The registered pair
    prices both sides."""
    return profile_numeric(_lineitem(spark, sf_dir),
                           ["l_quantity", "l_extendedprice",
                            "l_discount", "l_tax"],
                           approx="hll", hll_b=12)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing over the corpus in doc_id
    order (budget 256 tokens): global token offset via the two-pass
    distributed prefix sum — NOT a single-task global window. The oracle
    computes the same offsets with DuckDB's (single-threaded-fine)
    ``SUM() OVER (ORDER BY)``."""
    docs = load_table(spark, sf_dir, "documents")
    return (pack_sequences(with_token_count(docs, "text"),
                           "n_tokens", "doc_id", budget=256)
            .select("doc_id", "n_tokens", "start_global", "seq_id",
                    "seq_offset"))


def _q_pretokenize_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end PRETOKENIZATION pipeline
    (``packing.pretokenized_sequences``): corpus → deterministic
    frequency-ranked vocabulary ids (two-pass distributed rank, no
    global window) → id stream in doc_id order (the proven
    ``pack_sequences`` offsets) → one row per 256-id training
    sequence with the md5 of its exact id payload. This is the
    artifact a training loader consumes; the digest puts every id of
    every sequence on the value-hash path (the raw arrays export via
    the TFRecord/sharded sinks)."""
    from nyctaxidatapipeline_spark.operators.packing import (
        pretokenized_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pretokenized_sequences(docs, "text", "doc_id", budget=256)


def _q_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing spans: one row per (document, training sequence) slice —
    documents longer than the 256-token budget spill across sequence
    boundaries; span_start/span_len give the token slice of the doc
    inside each sequence."""
    docs = load_table(spark, sf_dir, "documents")
    return (packed_doc_spans(with_token_count(docs, "text"),
                             "n_tokens", "doc_id", budget=256)
            .select("doc_id", "seq_id", "span_start", "span_len"))


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: overlapping 32-token windows with
    8-token overlap (stride 24), zero-token documents dropped. Pure
    map-side Catalyst (tokenize → sequence of starts → posexplode →
    array slice); the twin slices the same token lists with DuckDB's
    1-based inclusive list ranges."""
    from nyctaxidatapipeline_spark.operators.packing import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id",
                           chunk_tokens=32, overlap=8)


def _q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL feature extraction over synthesized crawl URLs (scheme
    alternates by doc_id parity, host from the source column, path
    depth doc_id mod 3, params doc_id mod 2): RE2-parity regexps on
    both engines — Spark's parse_url is deliberately avoided (its
    java.net.URI normalization has no DuckDB twin)."""
    from nyctaxidatapipeline_spark.functions.url import url_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id",
                                                         "source")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https")
               ).otherwise(F.lit("http")),
        F.lit("://www."), F.col("source"), F.lit(".example.com"),
        F.expr("repeat('/seg', doc_id % 3)"),
        F.when(F.col("doc_id") % 2 == 1, F.lit("?a=1&b=2")
               ).otherwise(F.lit("")))
    return (url_features(docs.withColumn("url", url))
            .select("doc_id", "scheme", "host", "domain",
                    "path_depth", "n_params", "is_https"))


def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram novelty vs the corpus
    (``text_analysis.ngram_novelty``, min_df=2): the boilerplate /
    memorization-risk score — 1 minus the fraction of the doc's
    distinct n-grams that appear in >= 2 documents corpus-wide. The
    planted duplicate classes score 0.0 novelty; unique docs score
    near 1.0."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        ngram_novelty,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, "text", "doc_id", n=3, min_df=2)


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-level URL dedup (``functions.url.canonical_url`` +
    ``url_dedup``): each document synthesizes one of four syntactic
    variants of its group's logical URL (www + default :443 + tracking
    params + fragment / http with :80 / trailing slash + gclid /
    doubled path segments + utm). Canonicalization must fold scheme
    case, www, default ports, path-slash runs, trailing slash,
    tracking params, param ORDER, and fragments for the groups to
    collapse — every rule sits on the value-hash path (the http
    variant keeps its own group: scheme is identity). One linear
    hash-groupBy; at 100 TB this gates fetch/processing by page
    identity before any content work."""
    from nyctaxidatapipeline_spark.functions.url import url_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hosts = F.concat(F.lit("site"),
                     F.expr("CAST(doc_id DIV 4 AS STRING)"),
                     F.lit(".example.com"))
    v = F.col("doc_id") % 4
    url = (F.when(v == 0, F.concat(
                F.lit("https://www."), hosts,
                F.lit(":443/a/b?utm_source=x&b=2&a=1#frag")))
            .when(v == 1, F.concat(
                F.lit("http://"), hosts, F.lit(":80/a/b?a=1&b=2")))
            .when(v == 2, F.concat(
                F.lit("https://"), hosts,
                F.lit("/a/b/?gclid=zz&a=1&b=2")))
            .otherwise(F.concat(
                F.lit("https://"), hosts,
                F.lit("//a//b?b=2&a=1&utm_campaign=c"))))
    return url_dedup(docs.withColumn("url", url), "url", "doc_id")


def _q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal, oracle-gated cross-engine: each
    document is wrapped in deterministic markup (title heading, style
    and script payloads keyed off doc_id, a comment, entity-encoded
    ampersands) and ``strip_html`` recovers the clean text through the
    RE2-compatible regexp chain; the twin runs the byte-identical
    chain (with DuckDB's explicit 'g' flag) on the same wrapped
    input."""
    from nyctaxidatapipeline_spark.functions.text import strip_html

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.concat(
        F.lit("<html><head><style>body{margin:"),
        F.col("doc_id").cast("string"),
        F.lit("px}</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\n<p>"), F.col("text"),
        F.lit(" &amp; more</p><script>var id="),
        F.col("doc_id").cast("string"),
        F.lit(";</script><!-- crawl --></body></html>"))
    return (docs.withColumn("_h", html)
                .select("doc_id", strip_html("_h").alias("clean_text")))


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Dolma-style corpus-level line dedup: a line >= 10 chars
    survives only in the document where it first occurs (order by
    doc_id, position); documents are reassembled from their kept lines.
    Text equality is value-hash-checked, so the rebuilt strings must
    match DuckDB's ordered string_agg byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_lines(docs, "text", "doc_id", min_dedup_len=10)


def _q_blocklist_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style wordlist filter verdicts
    (``text_analysis.blocklist_stats``): per-doc blocked-token count /
    ratio against a literal wordlist (shuffle-free row-local
    projection) and the keep flag at max_ratio=0.02. The fixture has
    no profanity, so the demo list blocks failure-vocabulary tokens —
    the mechanics (case-folded exact token match, NULL-safe empty-doc
    keep, unrounded-ratio threshold) are what the twin checks."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        blocklist_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return blocklist_stats(docs, ["error", "null", "slow"],
                           "text", "doc_id", max_ratio=0.02)


def _q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon character entropy
    (``text_analysis.char_entropy``): the information-density quality
    signal (low = boilerplate/char-spam). Shuffle-free sorted-run
    projection — the oracle recomputes H = log2(n) - sum(r*log2 r)/n
    from per-(doc, char) counts; integer log arguments keep the two
    engines' log calls identical, 6-dp round + signed-zero
    normalization absorb fold-order ulps (a one-char doc is exactly
    -0.0 pre-normalization on both engines)."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        char_entropy,
    )

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs, "text", "doc_id")


def _q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization (``text_analysis.normalize_text`` —
    the C4/Gopher-style cleanup before fingerprinting: curly quotes /
    dashes / ellipsis folded to ASCII, NBSP to space, control chars
    stripped, whitespace canonicalized; one codegen regexp_replace
    chain, zero shuffles). The fixture's documents are already clean,
    so the query first SOILS each one deterministically — curly-quote
    wrapping, an NBSP+em-dash tail, a tab, doc_id%3+1 trailing
    newlines, a BEL control char, an ellipsis on even ids — with plain
    Catalyst string expressions; the twin replays the identical
    soiling and the identical rule chain (generated from the same
    ``NORMALIZE_RULES`` table — single source of truth), so every fold
    rule, the rule ORDER, and the whitespace collapses all sit on the
    value-hash path."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        normalize_text,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = F.concat(
        F.lit("“"), F.col("text"), F.lit("” —\tx"),
        F.repeat(F.lit("\n"), (F.col("doc_id") % 3 + 1).cast("int")),
        F.lit("\x07"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("…"))
         .otherwise(F.lit("")))
    soiled = docs.select("doc_id", noisy.alias("soiled"))
    return normalize_text(soiled, "soiled", "doc_id")


def _q_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HyperLogLog distinct-user estimate
    (``sketches.hll_distinct``, b=6): the bounded-memory COUNT
    DISTINCT — shuffle volume O(groups x 64 registers) regardless of
    corpus size, registers merge by max (map-side combine does the
    heavy lifting). Bit-for-bit oracle-checkable: portable md5-prefix
    hash, integer-only rho via bin(), scaled-integer indicator sum
    (order-independent), canonical alpha + linear-counting correction
    mirrored literally in the twin."""
    from nyctaxidatapipeline_spark.operators.sketches import hll_distinct

    events = load_table(spark, sf_dir, "events")
    return hll_distinct(events, "user_id", ["event_type"], b=6)


def _q_distinct_users_hll_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WIDE-hash HLL (b=10, m=1024 registers, 60-bit portable hash
    = 15 md5 hex chars): the mode to trust at web scale, where the
    32-bit hash's birthday regime (~1e8 distincts) starts biasing
    estimates low. Register sums peak at m * 2^(width+1) = 2^61 —
    exact int64 on Spark, exact HUGEINT in the twin, and the one
    cast-to-double starts from the same exact integer on both engines.
    Same events/event_type surface as ``distinct_users_hll`` so the
    two modes are directly comparable."""
    from nyctaxidatapipeline_spark.operators.sketches import hll_distinct

    events = load_table(spark, sf_dir, "events")
    return hll_distinct(events, "user_id", ["event_type"], b=10,
                        hash_bits=60)


def _q_token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies point-queried from a Count-Min sketch
    (``sketches.cms_counters/cms_lookup``, w=1024 d=4): the
    bounded-memory frequency table — counters are INTEGER sums (exact,
    order-independent; the whole query is float-free), merge by sum,
    and the map-side combine caps shuffle at O(tasks x w x d) however
    large the corpus. Estimates >= truth by construction; the probe
    list mixes heavy fixture tokens with an absent one (whose estimate
    is whatever collisions put in its counters — the twin reproduces
    it bit-for-bit, and the unit gate pins est >= exact)."""
    from nyctaxidatapipeline_spark.functions.text import tokens
    from nyctaxidatapipeline_spark.operators.sketches import (
        cms_counters,
        cms_lookup,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tk"))
    counters = cms_counters(toks, F.col("tk"), w=1024, d=4)
    return cms_lookup(spark, counters,
                      ["join", "hash", "customer", "slow", "zzz-absent"],
                      w=1024, d=4)


def _q_image_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, oracle-gated end-to-end: the 8x4 synthetic
    PNGs of ``image_features`` are box-average downscaled by 2
    (``multimodal.image_resize`` — decode, exact uint32 `sum // 4` per
    output pixel, re-encode) and the RESIZED media decoded again by
    ``image_features(codec='png')``. The twin recomputes every output
    pixel arithmetically from the (doc_id*31 + i) % 256 source pattern
    — floor-of-mean over each 2x2 block — so one wrong pixel anywhere
    in decode -> resize -> encode -> decode flips the value hash."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.png import encode_png
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_features,
        image_resize,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            media = [
                encode_png(8, 4,
                           bytes((int(d) * 31 + i) % 256
                                 for i in range(96)),
                           filter_type=int(d) % 5)
                for d in pdf["doc_id"]]
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    small = image_resize(assets, factor=2, codec="png")
    return (image_features(small, codec="png")
            .select("asset_id", "width", "height", "mean_intensity"))


def _q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type EWMA of rounded daily value totals
    (``temporal.ewma``, window=8, alpha=1/2): the smoothing primitive
    next to ``moving_avg``'s flat window. Alpha fixed at 1/2 so every
    decay weight is a power of two (exact IEEE scaling — no pow/exp
    drift); the twin mirrors the identical 8 lag terms in the
    identical fold order, so the quotient is bit-equal before the
    final rounding even."""
    from nyctaxidatapipeline_spark.operators.temporal import ewma

    events = load_table(spark, sf_dir, "events")
    daily = (events
             .groupBy("event_type",
                      F.date_trunc("day", F.col("ts"))
                       .cast("timestamp_ntz").alias("day"))
             .agg((F.round(F.sum("value"), 6) + F.lit(0.0))
                  .alias("daily_total")))
    return ewma(daily, "daily_total", "day", ["event_type"], window=8)


def _ewma_oracle_terms(window: int = 8) -> tuple[str, str]:
    """The twin's num/den expressions — the same left-assoc fold of
    the same lag terms the Spark loop builds."""
    num = "0.0"
    den = "0.0"
    for j in range(window):
        x = ("daily_total" if j == 0
             else f"lag(daily_total, {j}) OVER w")
        wt = repr(2.0 ** -j)
        num += f" + COALESCE(({x}) * CAST({wt} AS DOUBLE), 0.0)"
        den += (f" + CASE WHEN ({x}) IS NOT NULL "
                f"THEN CAST({wt} AS DOUBLE) ELSE 0.0 END")
    return num, den


def _q_weighted_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted fixed-size corpus sample without replacement
    (``sampling.weighted_topk_sample``, k=50): Efraimidis-Spirakis
    made membership-exact across engines — integer min-of-w-tickets
    ranking instead of u^(1/w) (pow ulp drift could flip a knife-edge
    SELECTION, changing whole rows). Weight = clamp(n_chars DIV 64,
    1, 64), so longer documents are proportionally likelier."""
    from nyctaxidatapipeline_spark.operators.sampling import (
        weighted_topk_sample,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .withColumn("_wt", F.expr("n_chars DIV 64")))
    return weighted_topk_sample(docs, "doc_id", "_wt", k=50,
                                max_weight=64)


def _q_audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated distinct-user overlap between every event-type pair
    from K-Minimum-Values sketches (``sketches.kmv_sketch/kmv_overlap``,
    k=64): union size, Jaccard, intersection — the set-operation
    capability HLL lacks. The pair join runs over the one-row-per-group
    sketch table, never the corpus; an exact answer would shuffle the
    full distinct (type, user) set per pair. Deterministic bottom-k of
    portable hashes -> the twin recomputes the identical sketch; at
    sf0.01 every group exceeds k so the ESTIMATOR arm is what's
    hash-checked (the exact small-set arm is unit-gated)."""
    from nyctaxidatapipeline_spark.operators.sketches import (
        kmv_overlap,
        kmv_sketch,
    )

    events = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(events, "user_id", "event_type", k=64)
    return (kmv_overlap(sk, "event_type", k=64)
            .withColumnRenamed("ga", "event_type_a")
            .withColumnRenamed("gb", "event_type_b"))


def _q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring span removal (Lee et al. 2022): every 8-token
    run occurring more than once corpus-wide is excised from all but
    its globally-first occurrence, overlapping spans merged, documents
    rebuilt from surviving tokens (``lines.substring_dedup``). The
    span-level sibling of ``line_dedup`` — catches templated sentences
    flowed into paragraphs that never align on line boundaries. Rebuilt
    text is value-hash-checked byte-for-byte against the twin."""
    from nyctaxidatapipeline_spark.operators.lines import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup(docs, "text", "doc_id", min_gram=8)


def _q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with corpus- and document-frequencies (tokens
    seen >= 5 times) — the counting pass behind vocab building / IDF /
    stopword mining. Two-level aggregate: doc_freq without a
    count-distinct expansion of Zipf-hot token keys."""
    docs = load_table(spark, sf_dir, "documents")
    return term_frequencies(docs, "text", "doc_id", min_count=5)


def _q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means assignment to k=8 deterministic md5-ordered
    seed centroids — a pure projection (argmax over literal-centroid
    cosines, zero shuffle). Lloyd refinement is unit-tested (mean
    arithmetic is order-sensitive); the iteration-0 assignment is the
    cross-engine-hashable surface."""
    emb = load_table(spark, sf_dir, "embeddings")
    return assign_clusters(emb, seed_centroids(emb, 8))


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): near-dup pairs restricted to the
    same k-means cluster — the all-pairs join becomes an equi-join on
    cluster_id. k=4 here so the fixture's clusters keep recall high;
    at scale k grows with the corpus to bound per-cluster pair counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(emb, seed_centroids(emb, 4),
                                threshold=0.4)


def _q_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-parameterized SemDeDup — the registered 100 TB operating
    point: ``k = ceil(n / target_cluster_size)`` from the live corpus
    count (``clustering.semdedup_n_clusters``), pinning expected
    cluster size so within-cluster pair volume stays LINEAR in the
    corpus (the fix for the fixed-k 18.7x-at-10x curve in PLANS.md
    #12). target_cluster_size=100 → k=5 at the sf0.01 fixture; the
    oracle derives the same k from COUNT(*) as a scalar subquery, so
    parity holds at any scale. Runs the BLAS execution path
    (``semantic_dedup_pairs_blas``): with k growing ~n/target, the
    literal-centroid fold assignment is O(n·k) interpreted dots and
    measured 17.8x at 10x data — the matmul assignment + per-cluster
    pair kernels brought it back to ~linear."""
    from nyctaxidatapipeline_spark.operators.clustering import (
        semantic_dedup_pairs_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = semdedup_n_clusters(emb.count(), target_cluster_size=100)
    return semantic_dedup_pairs_blas(emb, seed_centroids(emb, k),
                                     threshold=0.4)


def _q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query bag —
    query-term filter pushed inside the token array before explode, so
    exploded rows ∝ term hits, not corpus tokens; df table and (N,
    avgdl) scalars broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["join", "vector", "spark"],
                       "text", "doc_id")


def _q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of a lexical and a
    dense ranking for 5 queries (doc/vec id < 5). Lexical list =
    ``bm25_multi`` over per-query term bags derived by
    ``top_query_terms`` (3 longest distinct tokens of each query doc);
    dense list = ``brute_force_topk`` over the embeddings; both top-20,
    fused by ``rrf_fuse`` (score = Σ 1/(60+rank)) into a top-10. One
    union-wide aggregate + query-keyed windows — no outer-join chain,
    generalizes to N lists."""
    from nyctaxidatapipeline_spark.plans.util import build_concurrently

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def _lex_arm():
        qterms = top_query_terms(docs.filter(F.col("doc_id") < 5),
                                 "text", "doc_id", n_terms=3)
        lex = bm25_multi(docs, qterms, "text", "doc_id")
        return top_k_per_group(
            lex, ["query_id"],
            [F.col("bm25").desc(), F.col("doc_id").asc()],
            k=20, desc=False, rank_col="rank")

    def _dense_arm():
        return (brute_force_topk(emb, emb.filter(F.col("vec_id") < 5),
                                 k=20, dim=embedding_dim(emb))
                .withColumnRenamed("vec_id", "doc_id"))

    # The arms run driver actions at build (the lexical arm collects
    # the distinct query-term set and pins the tokenized-hits frame;
    # the dense arm probes the embedding dim) — overlap them on two
    # driver threads (guide §2.6; identical plans, shorter build).
    lexr, dense = build_concurrently(spark, _lex_arm, _dense_arm)
    return rrf_fuse([lexr, dense], k=10)


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a corpus-trained add-one bigram LM
    (the CCNet perplexity-filter dataflow with the KenLM call replaced
    by in-engine count tables)."""
    docs = load_table(spark, sf_dir, "documents")
    return lm_score(docs, "text", "doc_id")


def _q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partitioning: corpus-LM perplexity
    tertiles assigned by threshold from a 1-row broadcast of the two
    exact boundaries — one percentile aggregate + a shuffle-free
    projection, never a global ntile sort (single-task at scale)."""
    from nyctaxidatapipeline_spark.operators.lm import perplexity_buckets

    docs = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(docs, "text", "doc_id")


def _q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum layout: global 1-based position sorting docs by
    perplexity tertile (easy first) with a deterministic md5 shuffle
    inside each tertile — position from the distributed two-pass
    prefix sum over the packed (level, md5-48) key with the id as
    window tiebreak; no single-task global window."""
    from nyctaxidatapipeline_spark.operators.lm import perplexity_buckets
    from nyctaxidatapipeline_spark.operators.sampling import (
        curriculum_order,
    )

    docs = load_table(spark, sf_dir, "documents")
    b = perplexity_buckets(docs, "text", "doc_id")
    out = curriculum_order(b, "bucket_idx", "doc_id")
    return out.select("doc_id", "ppl", "bucket", "pos")


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: users completing each prefix
    with strictly increasing first-occurrence timestamps — one filtered
    aggregate + user-key join per stage."""
    ev = _events(spark, sf_dir)
    return funnel_counts(ev, "user_id", "event_type", "ts",
                         ["view", "click", "purchase"])


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming stream-stream interval join
    (``streaming.jobs.purchase_error_correlation`` — THE SAME function,
    run in batch mode where the watermark is a planning no-op): every
    (purchase, error) pair per user within 1 hour of each other. The
    differential gate on this query pins the join predicate the
    streaming e2e parity test (``test_streaming_ext``) relies on."""
    from nyctaxidatapipeline_spark.streaming.jobs import (
        purchase_error_correlation,
    )

    ev = _events(spark, sf_dir)
    out = purchase_error_correlation(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "error"))
    return out.select(F.col("a_key").alias("user_id"),
                      F.col("a_ts").alias("purchase_ts"),
                      F.col("b_ts").alias("error_ts"))


def _doc_ids_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents.doc_id`` fanned out to the session's parallelism
    (``plans.util.fan_out``) before the media-synth + codec
    mapInPandas zones.

    The sf fixtures are single-row-group parquet files, so the scan
    plans as ONE task and the whole encode+decode Python zone ran on
    one core while the rest idled (r15 measurement: the media family
    totalled 16.4 s of the 216 s sf0.1 sweep, dominated by the two
    pure-Python JPEG rows at 3.9/4.5 s). The exchange this inserts
    carries ONLY the 8-byte doc_id per row — the media bytes are
    synthesized *after* the shuffle, so no payload ever moves (guide
    §8 discipline) — and on any real-scale input whose scan is already
    >= defaultParallelism partitions fan_out is an exact no-op.

    Used ONLY by the rows whose per-row codec work measurably exceeds
    the exchange's local fixed cost (~0.4-0.5 s, same-host min-of-7
    A/B): the two pure-Python JPEG decodes (4.15→1.48 s, 4.47→1.84 s),
    the LZW GIF decode (1.54→1.10 s) and the dHash decode+hash pass.
    The cheap container walks (fake/wav/mp3/h264 header arithmetic,
    the tiny 8x4 PNG decodes) measured FASTER single-task than behind
    the exchange — they keep the plain narrow scan."""
    from nyctaxidatapipeline_spark.plans.util import fan_out

    return fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        "doc_id")


def _q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-gated end-to-end: each document row
    synthesizes a deterministic 8x4 RGB PNG (pixel i = (doc_id*31+i)
    mod 256, scanline filter type = doc_id mod 5 — so every one of the
    five PNG filters is exercised), and ``image_features(codec='png')``
    decodes it back through the pure-stdlib codec inside mapInPandas.
    The DuckDB twin computes the expected width/height/mean arithmetic-
    ally — any mis-decoded filter byte anywhere flips the value hash.
    Both stages are Arrow-batched pandas (the sanctioned multimodal
    zone); binary media never leaves the executors."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.png import encode_png
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            media = [
                encode_png(8, 4,
                           bytes((int(d) * 31 + i) % 256
                                 for i in range(96)),
                           filter_type=int(d) % 5)
                for d in pdf["doc_id"]]
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return (image_features(assets, codec="png")
            .select("asset_id", "width", "height", "mean_intensity"))


def _q_image_features_png_i7(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """REAL Adam7-interlaced PNG decode, oracle-gated end-to-end: the
    same deterministic 8x4 RGB fixture as ``image_features`` but
    encoded with ``interlace=True`` — seven independently-filtered
    progressive passes scattered on the Adam7 lattice (filter type
    still cycles doc_id mod 5 within every pass). PNG interlacing is
    LOSSLESS, so the decoded pixels — and the twin's arithmetic — are
    identical to the sequential stream; what the gate verifies is the
    pass bookkeeping: a wrong lattice origin/step, pass stride, or
    empty-pass skip anywhere scrambles pixels and flips the hash."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.png import encode_png
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            media = [
                encode_png(8, 4,
                           bytes((int(d) * 31 + i) % 256
                                 for i in range(96)),
                           filter_type=int(d) % 5, interlace=True)
                for d in pdf["doc_id"]]
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return (image_features(assets, codec="png")
            .select("asset_id", "width", "height", "mean_intensity"))


def _q_image_features_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, oracle-gated end-to-end: each document row
    synthesizes a deterministic 8x4 indexed GIF (index i =
    (doc_id*31 + i*7) mod 256 over the 256-entry grayscale palette;
    odd doc_ids encode with the four-pass interlace) through
    ``functions.gif``, and ``image_features(codec='gif')`` decodes it
    back — variable-width LZW, sub-block reassembly, interlace
    de-scatter, palette lookup. GIF is LOSSLESS, so the twin computes
    mean RGB intensity arithmetically (grayscale palette => mean of
    the 96 RGB bytes = 3·sum(index)/96); a defect anywhere in the LZW
    or container walk flips the value hash."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.gif import encode_gif
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_features,
    )

    docs = _doc_ids_wide(spark, sf_dir)

    def gen(batches):
        for pdf in batches:
            media = [
                encode_gif(8, 4,
                           bytes((int(d) * 31 + i * 7) % 256
                                 for i in range(32)),
                           interlace=bool(int(d) % 2))
                for d in pdf["doc_id"]]
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return (image_features(assets, codec="gif")
            .select("asset_id", "width", "height", "mean_intensity"))


def _q_image_dedup_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup, oracle-gated end-to-end: PNGs are
    synthesized with exactly 50 distinct pixel contents (pixel i =
    ((doc_id mod 50)*31 + i*7) mod 256 — distinct residues provably
    differ at pixel 1 since 31·Δ is never 0 mod 256 for 0<Δ<50, and
    the scanline filter still cycles doc_id mod 5 so identical images
    arrive through DIFFERENT encodings), then one decode pass emits
    the 64-bit dHash blocking key + exact pixel digest
    (``image_dhash``) and ``image_dedup_groups`` groups on the
    composite key — the hash-block-then-verify shape (MinHash-LSH
    transplanted to pixels; a dHash collision between different
    images cannot merge groups because the md5 confirms). The twin
    knows the ground-truth groups are the doc_id mod 50 residue
    classes. At 100 TB: one decode pass, one hash-bucket shuffle,
    never all-pairs."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.png import encode_png
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_dedup_groups,
        image_dhash,
    )

    docs = _doc_ids_wide(spark, sf_dir)

    def gen(batches):
        for pdf in batches:
            media = [
                encode_png(8, 4,
                           bytes(((int(d) % 50) * 31 + i * 7) % 256
                                 for i in range(96)),
                           filter_type=int(d) % 5)
                for d in pdf["doc_id"]]
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    keys = image_dhash(assets, codec="png")
    return (image_dedup_groups(keys)
            .select(F.col("asset_id").alias("doc_id"), "rep_id",
                    "n_dups"))


def _q_image_features_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, oracle-gated end-to-end (VERDICT r5
    item 5 — a real corpus is JPEG-first): each document row
    synthesizes a 32x16 grayscale JPEG of eight constant 8x8 blocks
    (block b = (doc_id*31 + b*17) mod 256) through the full encoder
    (DCT, Annex K quantization, Huffman, byte stuffing), and
    ``image_features(codec='jpeg')`` decodes it back through the
    complete marker/Huffman/dequant/IDCT pipeline inside mapInPandas.
    Constant blocks make the lossy roundtrip EXACTLY computable: with
    the pinned half-up conventions the decoded block value is
    clamp(2*floor((c-128)/2 + 0.5) + 128), so the twin derives
    mean_intensity arithmetically — any defect anywhere in the codec
    flips the value hash. General (non-constant) images are covered by
    tolerance-bounded roundtrip tests in tests/test_multimodal.py."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.jpeg import encode_jpeg
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_features,
    )

    docs = _doc_ids_wide(spark, sf_dir)

    def gen(batches):
        import numpy as np

        for pdf in batches:
            media = []
            for d in pdf["doc_id"]:
                px = np.zeros((16, 32), dtype=np.uint8)
                for b in range(8):
                    by, bx = divmod(b, 4)
                    px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                        (int(d) * 31 + b * 17) % 256
                media.append(encode_jpeg(32, 16, px.tobytes(), 1))
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return (image_features(assets, codec="jpeg")
            .select("asset_id", "width", "height",
                    F.round("mean_intensity", 6).alias("mean_intensity")))


def _q_image_features_jpeg_prog(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG (SOF2) decode, oracle-gated end-to-end —
    the r6 VERDICT's top multimodal gap (a real web crawl is
    majority-progressive). Same constant-block fixture as
    ``image_features_jpeg``, but encoded through
    ``encode_jpeg_progressive``'s default scan script: DC first at
    Al=1 + DC refinement + per-band AC first/refinement scans — so the
    driver gate runs the successive-approximation bit order, EOB-run
    accounting, and multi-scan coefficient accumulation, not just the
    baseline Huffman path. Constant blocks keep the roundtrip exactly
    computable (all ACs are zero; the refined DC reaches full
    precision, so decoded value = clamp(2*floor((c-128)/2+0.5)+128) —
    identical twin arithmetic). General images are covered by the
    byte-identical-to-baseline roundtrip gate in
    tests/test_jpeg_progressive.py."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.jpeg import (
        encode_jpeg_progressive,
    )
    from nyctaxidatapipeline_spark.operators.multimodal import (
        image_features,
    )

    docs = _doc_ids_wide(spark, sf_dir)

    def gen(batches):
        import numpy as np

        for pdf in batches:
            media = []
            for d in pdf["doc_id"]:
                px = np.zeros((16, 32), dtype=np.uint8)
                for b in range(8):
                    by, bx = divmod(b, 4)
                    px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = \
                        (int(d) * 31 + b * 17) % 256
                media.append(encode_jpeg_progressive(32, 16,
                                                     px.tobytes(), 1))
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return (image_features(assets, codec="jpeg")
            .select("asset_id", "width", "height",
                    F.round("mean_intensity", 6).alias("mean_intensity")))


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-offset sampling, oracle-gated: each document row
    synthesizes a deterministic fake-codec video (8-byte header +
    (doc_id mod 7 + 3) fixed-size frames) in-flight; ``frame_sample``
    emits every 2nd frame's byte offset through the Arrow-batched
    explode-shaped pipeline, and the twin computes the expected
    (index, offset) rows arithmetically."""
    import struct

    import pandas as pd

    from nyctaxidatapipeline_spark.operators.multimodal import (
        frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            media = []
            for d in pdf["doc_id"]:
                n_frames = int(d) % 7 + 3
                media.append(struct.pack("<II", 16, 16)
                             + bytes(256 * n_frames))
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return frame_sample(assets, every_n=2, frame_size=256)


def _q_frame_sample_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a REAL container format: each document row
    synthesizes a spec-shaped uncompressed AVI (RIFF/hdrl/movi/idx1,
    16x16x24bpp, ``doc_id mod 7 + 3`` frames) via ``functions.avi``;
    ``frame_sample(codec='avi')`` then walks the chunk tree and idx1
    index for real to locate every 2nd frame's absolute payload offset.
    The twin computes the expected offsets arithmetically from the
    deterministic layout (224-byte header, 776-byte frame stride) —
    so a parser or writer regression breaks the value hash."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.avi import encode_avi
    from nyctaxidatapipeline_spark.operators.multimodal import (
        frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            media = []
            for d in pdf["doc_id"]:
                n_frames = int(d) % 7 + 3
                media.append(encode_avi(
                    16, 16, [bytes(768)] * n_frames, fps=25))
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return frame_sample(assets, every_n=2, codec="avi")


def _q_frame_sample_h264(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a REAL compressed-video bitstream format:
    each document row synthesizes a structurally-valid H.264 Annex-B
    stream (baseline SPS for 64x48 + PPS + ``doc_id mod 7 + 3`` slice
    NALs, IDR every 4th) via ``functions.h264``;
    ``frame_sample(codec='h264')`` walks start codes, classifies NAL
    types, and parses the SPS for real to locate every 2nd slice NAL's
    absolute payload offset. The twin computes the offsets
    arithmetically from the deterministic layout (23-byte SPS+PPS
    header for this geometry, 3 + 64 = 67-byte slice stride) — a NAL
    walker or SPS regression breaks the value hash. Pixel decode of
    the sampled frames remains the documented PyAV/ffmpeg slot."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.h264 import (
        synth_h264_stream,
    )
    from nyctaxidatapipeline_spark.operators.multimodal import (
        frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            media = [synth_h264_stream(64, 48, int(d) % 7 + 3,
                                       idr_interval=4, slice_bytes=64)
                     for d in pdf["doc_id"]]
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return frame_sample(assets, every_n=2, codec="h264")


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-gated end-to-end: each document row
    synthesizes a deterministic mono 16-bit 8 kHz PCM WAV through the
    stdlib ``wave`` writer (sample i = ((doc_id*37 + i*11) mod 65536)
    - 32768, doc_id mod 5 + 4 samples), and ``audio_features``
    decodes it back through the same stdlib codec inside mapInPandas.
    The DuckDB twin computes the expected frame count / duration /
    mean-abs / peak arithmetically — a codec or feature-math
    regression anywhere flips the value hash. Mean/duration are exact
    integer-sum double divisions (no rounding needed on either side)."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.wav import encode_wav
    from nyctaxidatapipeline_spark.operators.multimodal import (
        audio_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import struct

        for pdf in batches:
            media = []
            for d in pdf["doc_id"]:
                n = int(d) % 5 + 4
                pcm = b"".join(
                    struct.pack("<h",
                                (int(d) * 37 + i * 11) % 65536 - 32768)
                    for i in range(n))
                media.append(encode_wav(8000, 1, pcm))
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return audio_features(assets, codec="wav")


def _q_audio_features_mp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP3 container parse, oracle-gated end-to-end (the r6
    VERDICT stretch slot, AVI-precedent container-level parsing): each
    document row synthesizes a structurally-valid MPEG1 Layer III
    stream (doc_id%7+3 frames at 128 kbps/44100 Hz, mono when doc_id
    is odd; every 3rd doc gets an ID3v2 prefix and every 5th an ID3v1
    trailer, exercising both tag paths in the driver gate), and
    ``audio_features(codec='mp3')`` walks the frame headers inside
    mapInPandas. The twin computes sample_rate/channels/n_frames/
    duration arithmetically (duration = n*1152/44100, the identical
    IEEE divide); amplitude features are NULL by design — the PCM
    decode is the documented library slot and this layer never
    fabricates them."""
    import pandas as pd

    from nyctaxidatapipeline_spark.functions.mp3 import synth_mp3_stream
    from nyctaxidatapipeline_spark.operators.multimodal import (
        audio_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            media = []
            for d in pdf["doc_id"]:
                d = int(d)
                media.append(synth_mp3_stream(
                    d % 7 + 3, bitrate_kbps=128, sample_rate=44100,
                    channels=1 if d % 2 else 2,
                    id3v2_bytes=64 if d % 3 == 0 else 0,
                    id3v1=d % 5 == 0))
            yield pd.DataFrame({"asset_id": pdf["doc_id"],
                                "media": media})

    assets = docs.mapInPandas(gen, "asset_id long, media binary")
    return (audio_features(assets, codec="mp3")
            .select("asset_id", "sample_rate", "channels", "n_frames",
                    F.round("duration_sec", 6).alias("duration_sec"),
                    "mean_abs", "peak"))


def _pack_docs_by_shard(spark: SparkSession, docs: DataFrame,
                        key_alias: str) -> DataFrame:
    """(shard_key, recs) — documents packed 4-per-shard for the three
    synth-ingestion queries (WARC / WebDataset / compressed JSONL).

    The explicit-width hash repartition on the SHARD key matters: the
    groupBy then reuses the partitioning (one exchange, not two), and —
    because a user-specified width is exempt from AQE coalescing — the
    chained Python encode/decode stages downstream run at cluster
    parallelism instead of being serialized onto the ONE post-AQE
    partition a ~MB shuffle coalesces to (jsonl_ingest measured 1.8 s
    -> 0.8 s at sf0.1; the per-shard codec work is embarrassingly
    parallel and was running on a single core). At real scale AQE
    would size this exchange correctly on its own, but pinning the
    width keeps the parallelism invariant at every sf."""
    key = F.expr("doc_id DIV 4")
    target = spark.sparkContext.defaultParallelism
    return (docs.repartition(target, key)
                .groupBy(key.alias(key_alias))
                .agg(F.sort_array(F.collect_list(
                    F.struct("doc_id", "text"))).alias("recs")))


def _q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL crawl-archive ingestion, oracle-gated end-to-end: documents
    are packed 4-per-file into Common-Crawl-framed ``.warc.gz`` blobs
    (one gzip member PER RECORD — ``sources/warc.py``; WARC/1.0 header
    block + captured HTTP/1.1 response, payload = the document text),
    then ``read_warc`` walks the gzip member boundaries, parses the
    WARC and HTTP header blocks, and re-emits one row per record. The
    twin computes every output column directly from ``documents`` —
    a defect anywhere (member framing, Content-Length walk, header
    parse, HTTP status/body split, date or URI synthesis) flips the
    value hash. Synthesis and parse are both Arrow-batched mapInPandas
    (the sanctioned decode zone); payload bytes never hit the driver.
    At 100 TB the file is the unit of parallelism (~100k x 1 GB
    segments -> ~100k independent tasks, zero shuffle before the first
    record-level filter); here files are synthesized 4-records-small so
    the gate covers many member boundaries."""
    import hashlib

    import pandas as pd

    from nyctaxidatapipeline_spark.sources.warc import (
        read_warc,
        synth_warc_gz,
        synth_warc_record,
        warc_date_for,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    packed = _pack_docs_by_shard(spark, docs, "file_id")

    def gen(batches):
        for pdf in batches:
            blobs = []
            for recs in pdf["recs"]:
                rs = [synth_warc_record(
                    f"http://corpus.example/{int(r['doc_id'])}",
                    (r["text"] or "").encode("utf-8"),
                    record_id=hashlib.md5(
                        str(int(r["doc_id"])).encode()).hexdigest(),
                    date=warc_date_for(int(r["doc_id"])))
                    for r in recs]
                blobs.append(synth_warc_gz(rs))
            yield pd.DataFrame({"file_id": pdf["file_id"],
                                "content": blobs})

    files = packed.mapInPandas(gen, "file_id long, content binary")
    recs = read_warc(files)
    return recs.select(
        F.regexp_extract("target_uri", r"(\d+)$", 1).cast("long")
         .alias("doc_id"),
        "file_id",
        "record_index",
        "http_status",
        F.col("http_content_type").alias("content_type"),
        "warc_date",
        F.length("payload").cast("long").alias("payload_len"),
        F.md5("payload").alias("payload_md5"))


def _q_webdataset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebDataset (tar-shard) ingestion, oracle-gated end-to-end:
    documents are packed 4-per-shard into deterministic USTAR tars
    (per doc two members — ``{key}.txt`` = the text bytes and
    ``{key}.cls`` = ``doc_id mod 10`` — under zero-padded keys, the
    LAION-style multimodal layout; ``sources/webdataset.py``), then
    ``read_webdataset`` streams the members back out and the sample is
    regrouped JVM-SIDE (one groupBy on the parsed key; the Python
    stage is a pure untar). The twin computes every column directly
    from ``documents`` — tar header walk, first-dot key/ext split,
    payload framing, and the member pairing all sit on the hash path.
    At 100 TB the shard is the unit of parallelism (~100k x 1 GB tars,
    zero shuffle before the sample regroup)."""
    import pandas as pd

    from nyctaxidatapipeline_spark.sources.webdataset import (
        read_webdataset,
        synth_shard,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    packed = _pack_docs_by_shard(spark, docs, "shard_id")

    def gen(batches):
        for pdf in batches:
            blobs = []
            for recs in pdf["recs"]:
                samples = [
                    (f"{int(r['doc_id']):08d}",
                     {"txt": (r["text"] or "").encode("utf-8"),
                      "cls": str(int(r["doc_id"]) % 10).encode("ascii")})
                    for r in recs]
                blobs.append(synth_shard(samples))
            yield pd.DataFrame({"shard_id": pdf["shard_id"],
                                "content": blobs})

    shards = packed.mapInPandas(gen, "shard_id long, content binary")
    members = read_webdataset(shards)
    feats = members.select(
        "shard_id", "sample_key", "ext",
        F.md5("payload").alias("pmd5"),
        F.length("payload").cast("long").alias("plen"),
        F.col("payload").cast("string").alias("pstr"))
    return (feats
            .groupBy("sample_key")
            .agg(F.max("shard_id").alias("shard_id"),
                 F.max(F.when(F.col("ext") == "txt",
                              F.col("pmd5"))).alias("txt_md5"),
                 F.max(F.when(F.col("ext") == "txt",
                              F.col("plen"))).alias("txt_len"),
                 F.max(F.when(F.col("ext") == "cls", F.col("pstr")))
                  .cast("int").alias("label"),
                 F.count("*").cast("int").alias("n_members"))
            .select(F.col("sample_key").cast("long").alias("doc_id"),
                    "shard_id", "txt_md5", "txt_len", "label",
                    "n_members"))


def _q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-JSONL ingestion, oracle-gated end-to-end — the
    interchange format LLM corpora ship in (Dolma/RedPajama): documents
    are packed 4-per-shard into ``.jsonl`` payloads (one compact JSON
    object per line) and compressed with a codec ROTATING by shard
    (gz / bz2 / xz / framed-snappy / zstd — the three stdlib
    decompressors and pyarrow's bundled libsnappy and libzstd, with
    the framing layer's CRC32C and the zstd frames' xxh64 content
    checksums verified, all sit on the hash path), then
    ``read_text_shards`` sniffs each shard's magic bytes,
    decompresses, and splits lines; the JSON parse itself happens
    JVM-SIDE (``from_json`` — codegen'd, so the Python stage is only
    decompress+split). The twin recomputes every column directly from
    ``documents``, including the sniffed codec from the packing
    arithmetic. Whole-file compression is not splittable — the shard
    is the unit of parallelism, like the WARC segments and tar shards
    (~100k shards keep 1000 executors busy; one 100 TB file would
    not)."""
    import json as _json

    import pandas as pd

    from nyctaxidatapipeline_spark.sources.compressed import (
        compress,
        read_text_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    packed = _pack_docs_by_shard(spark, docs, "shard_id")

    def gen(batches):
        for pdf in batches:
            blobs = []
            for sid, recs in zip(pdf["shard_id"], pdf["recs"]):
                payload = "".join(
                    _json.dumps({"id": int(r["doc_id"]),
                                 "text": r["text"]},
                                separators=(",", ":")) + "\n"
                    for r in recs).encode("utf-8")
                blobs.append(compress(
                    payload,
                    ("gz", "bz2", "xz", "snappy", "zst")[int(sid) % 5]))
            yield pd.DataFrame({"shard_id": pdf["shard_id"],
                                "content": blobs})

    shards = packed.mapInPandas(gen, "shard_id long, content binary")
    lines = read_text_shards(shards)
    parsed = lines.select(
        "shard_id", "line_no", "codec",
        F.from_json("line", "id long, text string").alias("j"))
    return parsed.select(
        F.col("j.id").alias("doc_id"), "shard_id", "line_no", "codec",
        F.md5(F.encode(F.col("j.text"), "utf-8")).alias("text_md5"),
        F.length(F.encode(F.col("j.text"), "utf-8")).cast("long")
         .alias("text_len"))


def _q_tfrecord_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TFRecord ingestion, oracle-gated end-to-end — the
    TensorFlow/JAX input format, completing the export/ingest triangle
    next to compressed JSONL and WebDataset tars: documents are packed
    4-per-shard into framed ``tf.train.Example`` blobs
    (``sources/tfrecord.py`` over the pure-stdlib proto writer +
    masked-CRC32C record framing in ``functions/tfrecord.py``), then
    ``read_tfrecord_shards`` verifies both checksums of every frame
    and ``decode_examples`` parses the protos back to typed columns;
    the md5/length run JVM-side on the decoded text. The twin
    recomputes every column directly from ``documents`` via the
    packing arithmetic — one wrong byte anywhere in proto encode →
    frame → checksum → unframe → proto decode flips the value hash."""
    from nyctaxidatapipeline_spark.sources.tfrecord import (
        decode_examples,
        read_tfrecord_shards,
        tfrecord_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shards = tfrecord_shards(docs, "doc_id", ["text"], docs_per_shard=4)
    recs = read_tfrecord_shards(shards)
    typed = decode_examples(recs, {"doc_id": "long", "text": "string"})
    return typed.select(
        "doc_id", "shard_id", "rec_no",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("text_md5"),
        F.length(F.encode(F.col("text"), "utf-8")).cast("long")
         .alias("text_len"))


def _q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2), oracle-gated.
    The fixture's documents are single-line and unpunctuated, so the
    query first RESHAPES each into deterministic multi-line text —
    doc_id%4+3 words per line, a terminal '.' on every line where
    (line_index + doc_id) % 3 == 0 — entirely with Catalyst array
    expressions (no Python), then runs the real ``c4_line_filter``
    (terminal-punct + min-words + javascript line rules; brace /
    lorem-ipsum / min-lines page rules). The twin replays the same
    construction and rules with DuckDB list lambdas, so the line
    split, word counting, punctuation test, reassembly, and page
    verdicts are all value-hash-checked. The whole plan is one
    shuffle-free codegen'd projection — the cheap-rules-first stage a
    100 TB curation run puts before any shuffling dedup."""
    from nyctaxidatapipeline_spark.operators.lines import c4_line_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split("text", " "), lambda w: w != "")
    k = (F.col("doc_id") % 4 + 3).cast("int")
    n = F.ceil(F.size(words) / k).cast("int")
    lines_arr = F.when(F.size(words) > 0, F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * k + 1, k), " "),
            F.when((i + F.col("doc_id")) % 3 == 0, F.lit("."))
             .otherwise(F.lit(""))))) \
        .otherwise(F.array().cast("array<string>"))
    synth = docs.select(
        "doc_id", F.array_join(lines_arr, "\n").alias("synth_text"))
    return (c4_line_filter(synth, "synth_text", "doc_id",
                           min_words=4, min_lines=2)
            .select(F.col("id").alias("doc_id"), "clean_text",
                    "n_kept", "n_total", "kept"))


def _q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-domination cap: at most 10 documents per source, survivors
    picked by portable (md5(id), id) order — one WindowGroupLimit
    shuffle on the source key (the C4 per-domain cap)."""
    from nyctaxidatapipeline_spark.operators.sampling import (
        cap_per_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, ["source"], "doc_id", 10) \
        .select("doc_id", "source", "lang")


def _q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding corpus (FAISS SQ8):
    per-dim bounds from one posexplode aggregate, codes as a pure
    projection. Output value-hashes an md5 digest of each vector's full
    code array — every byte of every code is gate-checked."""
    from nyctaxidatapipeline_spark.operators.quantize import (
        dim_bounds,
        quantize,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = dim_bounds(emb)
    q = quantize(emb, lo, hi)
    return q.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        F.md5(F.concat_ws(",", F.transform(
            "codes", lambda c: c.cast("string")))).alias("code_digest"))


def _q_daily_top_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per day by volume — the grouped-count + window
    rank composition (count agg, then WindowGroupLimit on the day
    partition; ties break on type for determinism)."""
    from nyctaxidatapipeline_spark.operators.windows import (
        top_k_per_group,
    )

    ev = _events(spark, sf_dir)
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts"))
                         .cast("timestamp_ntz").alias("day"),
                        "event_type")
               .agg(F.count("*").alias("n_events")))
    return top_k_per_group(
        daily, ["day"],
        [F.col("n_events").desc(), F.col("event_type").asc()],
        k=3, desc=False, rank_col="rank")


def _q_rank_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-transform feature prep: percent_rank of l_extendedprice
    within each returnflag partition — the monotone normalization that
    makes a feature distribution-free. One window shuffle."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = (Window.partitionBy("l_returnflag")
         .orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
    return li.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
        F.round(F.percent_rank().over(w), 6).alias("price_pr"))


def _q_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 50/30/20 source mixing over documents: per-source
    quotas from the largest feasible budget, picks by portable
    (md5(id), id) order — append-stable, engine-reproducible."""
    from nyctaxidatapipeline_spark.operators.sampling import mix_sources

    docs = load_table(spark, sf_dir, "documents")
    return mix_sources(docs, "source", "doc_id",
                       {"src0": 0.5, "src1": 0.3, "src2": 0.2}) \
        .select("doc_id", "source")


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle over events: users bucketed by
    first-activity day, counted per day they return — two aggregates
    + one user-key join."""
    from nyctaxidatapipeline_spark.operators.temporal import (
        cohort_retention,
    )

    return cohort_retention(_events(spark, sf_dir), "user_id", "ts",
                            unit="day")


def _q_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching: supplier-name pairs one edit
    apart (typo'd-ID linkage). Candidates block on (lower 3-prefix,
    length band); exact Levenshtein verifies within blocks only — one
    block-key shuffle, never an n² cross join."""
    from nyctaxidatapipeline_spark.operators.entity import fuzzy_pairs

    sup = load_table(spark, sf_dir, "supplier")
    return fuzzy_pairs(sup, "s_name", "s_suppkey",
                       max_dist=1, prefix_len=3, max_block=300)


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC audit: diff the upsert-compacted (user, event_type) state at
    day 15 against the final state — added / removed / changed keys via
    one full-outer join on per-side row digests. The oracle re-derives
    both snapshots and compares values directly (IS DISTINCT FROM), so
    the gate checks the digest's equality semantics, not its bytes."""
    from nyctaxidatapipeline_spark.operators.cdc import diff_tables
    from nyctaxidatapipeline_spark.operators.dedup import keep_latest

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts",
                                       "value", "event_id")
    cutoff = "2024-01-15 00:00:00"
    before = keep_latest(ev.filter(F.col("ts") < cutoff),
                         ["user_id", "event_type"], "ts", "event_id")
    after = keep_latest(ev, ["user_id", "event_type"], "ts", "event_id")
    return diff_tables(before, after, ["user_id", "event_type"],
                       ["ts", "value"])


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over plain DataFrames, all three clauses firing on
    real data: target = customer balances; source = balances debited by
    each customer's exact-decimal order total, plus synthetic brand-new
    customers (key + 1,000,000). Matched rows: DELETE when the debited
    balance < -3M (~27%), UPDATE when > -2M (~30%), keep target
    otherwise (~43% — every clause fires on real data);
    unmatched source rows INSERT. The oracle composes the identical
    clause logic from anti-joins + a CASE'd inner join."""
    from nyctaxidatapipeline_spark.operators.cdc import merge_upsert

    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_name", "c_acctbal"))
    tot = (load_table(spark, sf_dir, "orders")
           .groupBy("o_custkey")
           .agg(F.round(F.sum(F.col("o_totalprice")
                              .cast("decimal(38,10)")).cast("double"), 2)
                 .alias("_tot")))
    upd = (cust.join(tot, cust.c_custkey == tot.o_custkey)
               .select("c_custkey", "c_name",
                       (F.col("c_acctbal") - F.col("_tot"))
                        .alias("c_acctbal")))
    new_rows = (cust.filter(F.col("c_custkey") <= 100)
                .select((F.col("c_custkey") + 1000000).alias("c_custkey"),
                        F.concat(F.lit("new "), "c_name").alias("c_name"),
                        F.lit(0.0).alias("c_acctbal")))
    return merge_upsert(cust, upd.unionByName(new_rows),
                        ["c_custkey"],
                        update_condition="s.c_acctbal > -2000000",
                        delete_condition="s.c_acctbal < -3000000")


def _q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row trailing moving average of purchase values per user
    (rows-frame window; event_id ordering is unique, so the frame
    population is deterministic). One window shuffle on the user key."""
    from nyctaxidatapipeline_spark.operators.windows import moving_avg

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return moving_avg(ev.select("event_id", "user_id", "value"),
                      ["user_id"], "event_id", "value", window_rows=3)


def _q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: events split into two hash
    batches, each reduced to its mergeable partial state (count / sum /
    min / max per event_type), states merged, metrics finalized at read
    time. The oracle is the DIRECT one-shot aggregate — the gate
    value-checks the merge identity (batch split cannot change the
    result), which is the whole contract of incremental rollups."""
    from nyctaxidatapipeline_spark.operators.incremental import (
        finalize,
        merge_partials,
        partial_agg,
    )

    ev = _events(spark, sf_dir)
    b0 = ev.filter(F.pmod(F.xxhash64(F.col("event_id")), F.lit(2)) == 0)
    b1 = ev.filter(F.pmod(F.xxhash64(F.col("event_id")), F.lit(2)) == 1)
    state = merge_partials(
        [partial_agg(b0, ["event_type"], "value"),
         partial_agg(b1, ["event_type"], "value")], ["event_type"])
    return finalize(state)


def _q_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice (20 bins): 1-row bounds
    aggregate broadcast into the binning projection, one count
    aggregate — two scans, no sort."""
    from nyctaxidatapipeline_spark.operators.reshape import histogram

    li = load_table(spark, sf_dir, "lineitem")
    return histogram(li, "l_extendedprice", bins=20)


def _q_histogram_prices_equidepth(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Equal-count histogram with SAMPLED quantile edges (r14): edges
    from the deterministic bottom-k hash sample, broadcast into a
    codegen'd HOF binning projection, one count/min/max aggregate —
    the 100 TB replacement for the equidepth NTILE mode's whole-corpus
    single-partition window (which stays as the unregistered
    interactive/test-oracle form; VERDICT r13 task 8)."""
    from nyctaxidatapipeline_spark.operators.reshape import (
        equidepth_histogram_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return equidepth_histogram_sketch(
        li, "l_extendedprice",
        ["l_orderkey", "l_linenumber", "l_partkey"], bins=10)


def _q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style rule validation over lineitem: 6 declarative rules
    evaluated in ONE aggregate pass over one scan (never a job per
    rule); NULL predicates count as violations by design."""
    from nyctaxidatapipeline_spark.operators.validate import validate

    li = load_table(spark, sf_dir, "lineitem")
    return validate(li, {
        "positive_quantity": F.col("l_quantity") > 0,
        "discount_range": (F.col("l_discount") >= 0)
                          & (F.col("l_discount") <= 0.5),
        "tax_nonneg": F.col("l_tax") >= 0,
        "shipdate_set": F.col("l_shipdate").isNotNull(),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        "quantity_le_30": F.col("l_quantity") <= 30,
    })


def _q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information over the
    corpus's adjacent bigrams (Church & Hanks) — count aggregates +
    word-keyed joins, scalar totals broadcast."""
    from nyctaxidatapipeline_spark.operators.lm import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", "doc_id", min_count=5)


def _q_skipgram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed skip-gram co-occurrence counts (window=3) — the
    word2vec/GloVe training matrix. Pair generation is map-side array
    lambdas (no position self-join); the only shuffle is the (w1, w2)
    count aggregate with map-side combine absorbing Zipf-hot pairs.
    The DuckDB twin cross-checks with the OTHER formulation (position
    range self-join)."""
    from nyctaxidatapipeline_spark.operators.lm import skipgram_counts

    docs = load_table(spark, sf_dir, "documents")
    return skipgram_counts(docs, "text", "doc_id", window=3,
                           min_count=5)


def _q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM token-budget estimation: per-doc BPE-ish pre-tokenizer count
    (letters/digits/symbol runs with leading-space absorption — the
    GPT-2 pre-split shape) next to the whitespace token count, plus
    their ratio (the 'tokens per word' multiplier planners budget
    with). One codegen'd regex pass, no shuffle."""
    from nyctaxidatapipeline_spark.functions.text import (
        bpe_token_count,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_bpe = bpe_token_count(F.col("text"))
    n_ws = token_count(F.col("text"))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.when(n_ws > 0,
               F.round(n_bpe.cast("double") / n_ws, 6))
         .alias("bpe_per_word"))


def _q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprint near-dup: doc pairs sharing
    >= 8 winnowed k-gram minima (k=7, window=16) — substring-level
    copy detection, the MOSS scheme. Posting-list pair expansion with a
    stop-fingerprint cap, never all-pairs; md5-portable gram hashes so
    the full winnow→pair pipeline is value-hash-checked."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        winnow_dedup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return winnow_dedup_pairs(docs, "text", "doc_id")


def _q_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Pearson correlation over 4 lineitem measures — ONE
    global aggregate computes all C(4,2)=6 ``corr`` measures in a single
    pass (no per-pair jobs), then a struct-array unpivot to long form."""
    from nyctaxidatapipeline_spark.operators.profile import correlations

    li = load_table(spark, sf_dir, "lineitem")
    return correlations(li, ["l_quantity", "l_extendedprice",
                             "l_discount", "l_tax"])


def _q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus composition summary (volume, length percentiles,
    ASCII + stopword composition) — the before/after dashboard of every
    curation stage. One tokenize pass, one global aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus_report(docs, "text", "doc_id")


def _q_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert-style compaction: newest event per (user, type), ties
    broken by event_id desc — one WindowGroupLimit shuffle."""
    ev = _events(spark, sf_dir)
    return keep_latest(ev.select("user_id", "event_type", "ts",
                                 "event_id", "value"),
                       ["user_id", "event_type"], "ts",
                       tiebreak_col="event_id")


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment dedup: admit new-batch documents (doc_id ≥ 250)
    that are not normalized-exact dups of the existing corpus (< 250)
    nor of each other. Corpus text reduces to its fingerprint set —
    never reshuffled; cost scales with the batch."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    return (incremental_fingerprint_dedup(new, corpus, "text", "doc_id")
            .select("doc_id", "text"))


def _q_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-pre-passed twin of ``incremental_dedup`` — same split
    (corpus < 250, batch >= 250), same oracle, same admitted set: the
    broadcast bloom_filter_agg sketch rules most of the batch in with
    no join; only filter-positive rows take the exact anti-join. The
    shared oracle IS the exactness gate (no false negatives)."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        incremental_fingerprint_dedup_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    return (incremental_fingerprint_dedup_bloom(new, corpus, "text",
                                                "doc_id")
            .select("doc_id", "text"))


def _q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling, weights -> corpus: keep each document
    with probability proportional to its (rounded) quality score
    (scale 1.2, certainty-clamped) via the md5-uniform admit rule —
    the resample step of the DSIR/DoReMi recipe, shuffle-free. The
    oracle applies the identical hash threshold to the identical
    rounded weights."""
    from nyctaxidatapipeline_spark.operators.sampling import (
        weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs, "text", "doc_id").select("doc_id",
                                                     "quality_score")
    return weighted_sample(q, "doc_id", "quality_score", scale=1.2)


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (users with ≥ 0.05% of all events): one hash
    aggregate (map-side partials absorb the hot keys) + broadcast
    1-row total. The ``freqItems`` sketch mode is the unit-tested
    candidate pre-filter for extreme scale."""
    ev = _events(spark, sf_dir)
    return heavy_hitters(ev, "user_id", min_share=0.0005)


def _q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outliers by modified z-score
    (``profile.mad_outliers``): two sequential grouped exact-percentile
    aggregates (median, then MAD — the second depends on the first) with
    broadcast join-backs; |0.6745·(x−med)/MAD| > 3.5 flags rows the
    mean/σ z-score would let mask themselves."""
    ev = _events(spark, sf_dir)
    out = mad_outliers(ev.select("event_id", "event_type", "value"),
                       ["event_type"], "value", k=3.5)
    return out.select("event_id", "event_type", "value",
                      "median", "mad", "robust_z")


def _q_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resampling per event_type over the corpus span —
    missing buckets zero-filled, per-bucket value sums forward-filled
    (``last ignorenulls`` running window). The grid is |keys|×|buckets|
    rows from a 1-row bounds aggregate, independent of event volume."""
    ev = _events(spark, sf_dir)
    r = resample(ev, "ts", "event_type", "hour", "value")
    return forward_fill(r, ["event_type"], "bucket", ["sum_value"])


def _q_curation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rule verdicts of the C4/Dolma-style curation recipe
    (length / quality / repetition / PII) + the combined keep decision
    — the decision surface of the composite pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return curation_flags(docs, "text", "doc_id")


def _q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation pipeline, hash-checked end to end: flag filter
    → PII redaction → corpus line dedup → fingerprint dedup → portable
    MinHash LSH near-dup → keep min-id representatives. The oracle
    composes the same proven per-stage SQL fragments, so a regression
    anywhere in the chain breaks the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    return curate_corpus(docs, "text", "doc_id")


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights for every document against a target
    domain (sources src0/src1): exp(avg-bigram-log-likelihood ratio of
    the target-trained vs corpus-trained LM). Both LMs are in-engine
    count tables; only the 1-row vocab scalars broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    return dsir_weights(docs, target, "text", "doc_id")


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, d=0.85) over the undirected
    supplier↔part bipartite graph from lineitem — the link-authority
    primitive corpus curation uses for domain quality priors. Ranks are
    rounded 6 dp at every iteration boundary so the in-neighbor sum's
    float drift cannot compound across engines."""
    li = _lineitem(spark, sf_dir)
    fwd = (li.select(F.concat(F.lit("s"), "l_suppkey").alias("src"),
                     F.concat(F.lit("p"), "l_partkey").alias("dst"))
             .distinct())
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return pagerank(fwd.union(rev), iters=3)


def _q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration multi-source BFS (4 hops) from suppliers s1-s5
    over the symmetrized supplier-part graph — (node, dist) for every
    node reached; the twin unrolls one relax-and-min CTE per round."""
    from nyctaxidatapipeline_spark.operators.graph import shortest_paths

    li = _lineitem(spark, sf_dir)
    fwd = (li.select(F.concat(F.lit("s"), "l_suppkey").alias("src"),
                     F.concat(F.lit("p"), "l_partkey").alias("dst"))
             .distinct())
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    sources = local_frame(spark, [(f"s{i}",) for i in range(1, 6)],
                          "node string")
    return shortest_paths(fwd.union(rev), sources, iters=4)


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (2 rounds) over the
    same symmetrized supplier↔part graph as ``pagerank`` — community
    detection with the most-frequent-neighbor-label update, ties to the
    largest label (total order, so the differential oracle can pin the
    result; the textbook async coin-flip variant cannot be oracled)."""
    from nyctaxidatapipeline_spark.operators.graph import (
        label_propagation,
    )

    li = _lineitem(spark, sf_dir)
    fwd = (li.select(F.concat(F.lit("s"), "l_suppkey").alias("src"),
                     F.concat(F.lit("p"), "l_partkey").alias("dst"))
             .distinct())
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return label_propagation(fwd.union(rev), iters=2)


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-order graph (parts
    appearing in the same order with l_quantity >= 45 are linked).
    The engine runs the degree-ordered compact-forward enumeration
    (out-degree bounded O(sqrt m) — the power-law-safe layout); the
    twin uses the simple id-ordered triple join, valid because the
    count is enumeration-order-independent."""
    from nyctaxidatapipeline_spark.operators.graph import triangle_count

    li = (_lineitem(spark, sf_dir)
          .filter(F.col("l_quantity") >= 45)
          .select("l_orderkey", "l_partkey").distinct())
    b = li.select(F.col("l_orderkey").alias("l_orderkey"),
                  F.col("l_partkey").alias("p2"))
    edges = (li.join(b, "l_orderkey")
               .filter(F.col("l_partkey") < F.col("p2"))
               .select(F.col("l_partkey").alias("src"),
                       F.col("p2").alias("dst"))
               .distinct())
    return triangle_count(edges)


def _scratch_table_path(name: str, sf_dir: str) -> str:
    """Deterministic per-(query, fixture) scratch dir for queries that
    must WRITE a table to exercise the sink/versioning surface. Keyed
    by sf_dir so concurrent harness runs at different scales don't
    collide; recreated from scratch on every call so the query is a
    pure function of the fixture."""
    import hashlib
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"ntdp_{name}_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def _q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel (versioned.py): commit the
    English documents as version 1, APPEND the rest as version 2, then
    read version 1 AFTER the table grew — the returned frame must be
    exactly the v1 snapshot (= the oracle's view of English docs), no
    matter what later commits added. The manifest-as-commit design
    (atomic hard-link CAS, readers never list the filesystem) is what
    makes this O(1)-coordination at 100 TB."""
    from nyctaxidatapipeline_spark.versioned import (
        read_version,
        write_version,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "source", "n_chars"))
    path = _scratch_table_path("timetravel", sf_dir)
    write_version(docs.filter(F.col("lang") == "en"), path,
                  mode="overwrite", stat_cols=("doc_id",))
    write_version(docs.filter(F.col("lang") != "en"), path,
                  mode="append", stat_cols=("doc_id",))
    return read_version(spark, path, version=1)


def _q_version_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats data skipping (versioned.py): write the documents
    range-clustered on doc_id so per-file [min, max] stats are
    disjoint, then answer a doc_id range predicate from a PRUNED read —
    the manifest alone decides which files to open (no listing, no
    footer reads at query time). Soundness is the differential gate:
    pruned-read + filter must equal the oracle's plain WHERE."""
    from nyctaxidatapipeline_spark.versioned import (
        read_version,
        write_version,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars"))
    path = _scratch_table_path("prunedscan", sf_dir)
    write_version(docs.repartitionByRange(8, "doc_id"), path,
                  mode="overwrite", stat_cols=("doc_id",))
    pruned = read_version(spark, path, prune=("doc_id", 100, 200))
    return pruned.filter(F.col("doc_id").between(100, 200))


def _q_ppmi_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed count-based embedding pipeline: skipgram_counts → PPMI
    → feature-hashed 16-dim vectors → per-vector int8 quantization, as
    ONE dataflow (VERDICT r4 item 8 — wiring skipgram_counts into a
    consumer). The oracle replays every stage including the md5 hash
    buckets and the code digest."""
    from nyctaxidatapipeline_spark.operators.lm import ppmi_vectors

    docs = load_table(spark, sf_dir, "documents")
    return ppmi_vectors(docs, "text", "doc_id", window=3, min_count=5,
                        dim=16)


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality scoring (the fastText/CCNet curation model as a
    dataflow): full-batch logistic regression trained on the corpus
    (each GD step = ONE map-side-combined aggregate, driver holds only
    the weight vector), then scored as a pure projection. Per-step
    9 dp re-rounding (the PCA recipe) makes the 8-iteration training
    loop bit-reproducible, so the oracle unrolls the SAME loop as
    generated CTEs and hash-checks every doc's score."""
    from nyctaxidatapipeline_spark.operators.classifier import (
        quality_classifier,
    )

    docs = load_table(spark, sf_dir, "documents")
    return quality_classifier(
        docs, "text", "doc_id",
        label_expr=F.col("lang").eqNullSafe(F.lit("en")), iters=8,
        lr=1.0)


def _q_knn_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed semantic-community pipeline (VERDICT r4 item 8's
    knn_graph consumer): exact kNN graph over the embedding corpus
    (mutual top-3 edges, symmetrized + distinct) → deterministic label
    propagation (2 rounds) — the SemDeDup-adjacent 'cluster the corpus
    by embedding neighborhoods' step, as ONE dataflow. The oracle
    replays the brute-force ranking, the edge symmetrization, and the
    unrolled LPA rounds."""
    from nyctaxidatapipeline_spark.operators.graph import (
        label_propagation,
    )
    from nyctaxidatapipeline_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    knn = knn_graph(emb, k=3, n_blocks=8)
    fwd = knn.select(F.col("query_id").alias("src"),
                     F.col("vec_id").alias("dst"))
    sym = (fwd.union(fwd.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
              .distinct())
    return label_propagation(sym, iters=2)


_KNN_COMMUNITY_GRAPH_CTES = """
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS cv
              FROM embeddings),
        scored AS (
          SELECT query_id, vec_id,
                 ROUND(list_dot_product(qv, cv) /
                       (sqrt(list_dot_product(qv, qv)) *
                        sqrt(list_dot_product(cv, cv))), 6) AS cosine
          FROM c, q WHERE query_id <> vec_id),
        knn AS (
          SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, vec_id) AS rank
            FROM scored)
          WHERE rank <= 3),
        e AS (
          SELECT DISTINCT src, dst FROM (
            SELECT query_id AS src, vec_id AS dst FROM knn
            UNION ALL
            SELECT vec_id AS src, query_id AS dst FROM knn))"""


def _q_lm_backoff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff scoring CROSS-corpus: the model trains on the
    English documents only, everything is scored under it — non-English
    docs hit unseen bigrams and take the alpha·u(w2)/N backoff (the
    Brants et al. web-LM scheme), so the backoff arm is genuinely
    exercised (self-scoring never backs off). n_backoff doubles as the
    model-coverage diagnostic."""
    from nyctaxidatapipeline_spark.operators.lm import lm_score_backoff

    docs = load_table(spark, sf_dir, "documents")
    model = docs.filter(F.col("lang") == "en")
    return lm_score_backoff(model, docs, "text", "doc_id")


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing at alpha=0.5 (the XLM-R/mT5
    upsampling recipe): p_i ∝ sqrt(n_i/N), deterministic
    without-replacement quota draw. The fixture's 20 sources are
    uniform (25 rows each — flattening would be a no-op), so sources
    group into 60/30/10% TIERS first; sqrt-flattening then keeps the
    small tier whole while downsampling the big one — the behavior the
    recipe exists for. alpha=0.5 is the registered point because IEEE
    sqrt is exactly rounded on both engines — the oracle reproduces
    the proportions bit-for-bit."""
    from nyctaxidatapipeline_spark.operators.sampling import (
        temperature_mix,
    )

    docs = load_table(spark, sf_dir, "documents")
    num = F.substring("source", 4, 10).cast("int")
    tier = (F.when(num < 12, "big")
             .when(num < 18, "mid").otherwise("small"))
    tiered = docs.select("doc_id", tier.alias("tier"))
    return (temperature_mix(tiered, "tier", "doc_id", alpha=0.5)
            .select("doc_id", "tier"))


#: The per-round correctness record (CORRECTNESS_r{N}.json) covers only
#: the first 50 ``queries()`` entries; a new query, or one whose plan
#: changed, goes to the front.
_WINDOW_FRONT = [
    "winsorized_prices", "winsorized_prices_approx", "grouped_percentiles",
    "grouped_percentiles_approx", "image_features_jpeg",
    "image_features_jpeg_prog", "image_features_gif", "image_dedup_dhash",
    "profile_lineitem_approx", "embedding_covariance", "pca_project",
    "pagerank", "label_propagation", "shortest_paths", "knn_communities",
    "ann_pq", "ann_ivfpq", "near_dup_production", "near_dup_stats",
    "dedup_savings", "cross_signal_dedup", "cross_signal_dedup_indexed",
    "rrf_fusion", "bm25_scores", "incremental_semantic_indexed",
    "embedding_near_dup", "ann_lsh", "ann_lsh_auto", "lsh_cap_audit",
    "simhash_cap_audit", "fuzzy_cap_audit", "ivf_occupancy_audit",
    "rp_lsh_cap_audit", "grouped_percentiles_sketch", "simhash_pairs",
    *[f"tpch_q{i}_sql" for i in range(2, 17)],
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query: each top-level ``_q_<name>`` builder
    under ``<name>`` in definition order, plus the shared-text TPC-H
    twins of ``_TPCH_SQL``.

    Only the first 50 entries are recorded per round, so the
    ``_WINDOW_FRONT`` names come first and every other name follows
    in registry order."""
    registry = {name[3:]: fn for name, fn in globals().items()
                if name.startswith("_q_")}
    registry.update({name: _tpch_sql_query(name) for name in _TPCH_SQL})
    ordered = {name: registry[name] for name in _WINDOW_FRONT}
    ordered.update(registry)
    return ordered


#: Deliberate SCALE-LESSON registrations (VERDICT r11 item 2): rows
#: kept in the suite as priced counter-examples — each is CORRECT and
#: has a registered deployment-shape twin that is the headline for its
#: operator class. ``lesson_totals`` (used by bench.py and
#: tools/merge_sf10.py) reads this map to report deployment-total vs
#: lesson-total so no reader has to re-derive which rows are lessons
#: from the artifact notes.
LESSON_QUERIES: dict[str, str] = {
    "minhash_dedup":
        "uncapped full-corpus LSH self-join lesson (302 s sf10); "
        "deployment twins: near_dup_production (capped/verified) and "
        "incremental_minhash_indexed (persisted-index admission)",
    "fare_anomalies_approx":
        "GK accuracy=1e6 ORACLE-PARITY point (super-linear compress; "
        "121 s sf10); production point is accuracy=1e4 (fare_acc "
        "experiment, ~13x cheaper) and the linear hash-sample twin is "
        "fare_anomalies_sketch",
    "incremental_semantic_indexed":
        "fixed-16-list verification-bound operating point (82.7 s "
        "warm sf10 — no index fixes a wrong operating point); "
        "deployment twin: incremental_semantic_auto_indexed (auto "
        "list count, 5.9-6.5 s warm sf10)",
    # r15: the non-indexed fixed-16-list sibling priced at sf10
    # (92.4 s, x10.7 at x10 data) — the same verification-bound
    # operating point as the _indexed row above, lesson-shaped all
    # along; tagged the round it was first priced, same move the r14
    # verdict endorsed for the GK-1e6 siblings.
    "incremental_semantic":
        "fixed-16-list verification-bound operating point (92.4 s "
        "sf10, x10.7 at x10 data — 16 lists over a 10x corpus makes "
        "in-list verification corpus-proportional); deployment twin: "
        "incremental_semantic_auto (auto list count, 4.7 s sf10)",
    # r14: the two GK siblings price at sf10 exactly like
    # fare_anomalies_approx (133.5 / 134.0 s, x14.7 at x10 data — the
    # accuracy=1e6 uncompressed-parity regime is super-linear by
    # construction), so they carry the same lesson tag it does.
    "grouped_percentiles_approx":
        "GK accuracy=1e6 ORACLE-PARITY point (super-linear compress; "
        "133.5 s sf10); production point is accuracy~100 (the "
        "quantile_mode experiment prices it 3.7x cheaper at sf0.1) "
        "and the linear hash-sample twin is grouped_percentiles_sketch "
        "(13.7 s sf10)",
    "winsorized_prices_approx":
        "GK accuracy=1e6 ORACLE-PARITY point (super-linear compress; "
        "134.0 s sf10); the exact mode (winsorized_prices, 3.7 s sf1) "
        "is the small-scale tool and the bounded 100 TB construction "
        "is the hash-sample bottom-k threshold pair "
        "(fare_anomalies_sketch's shape applied to both tails)",
}


def lesson_totals(times: dict[str, float]) -> dict:
    """Split the summed per-query seconds of ``times`` into the
    deployment total and the ``LESSON_QUERIES`` total."""
    total = round(sum(times.values()), 3)
    lesson_total = round(sum(t for n, t in times.items()
                             if n in LESSON_QUERIES), 3)
    return {
        "deployment_total_sec": round(total - lesson_total, 3),
        "lesson_total_sec": lesson_total,
        "lesson_queries": sorted(n for n in times if n in LESSON_QUERIES),
    }


def _pca_covariance_ctes(dim: int, decimals: int) -> str:
    """Shared CTE block building the FULL symmetric covariance (i, j,
    cov) of the ``embeddings`` table at ``decimals`` dp — the exact
    ``(Sxy - Sx*Sy/n)/n`` expression ``operators.pca`` computes.

    Like ``pca.embedding_moments``, each term is snapped to a 1e-12
    grid as a scaled INT64 (``ROUND`` is half-away on doubles in both
    engines; scaled unit-scale products ≪ 2^53 so the double math is
    exact) and summed in integers — exact and associative, so both
    engines produce bit-identical sums under any reduction order.
    DuckDB's SUM(BIGINT) widens to HUGEINT internally (overflow-proof),
    mirroring the Spark side's LONG-partials → DECIMAL(38,0) merge;
    the final int→DOUBLE conversion and the /1e12 divide are single
    correctly-rounded IEEE ops, identical on both engines."""
    return f"""
            e AS (SELECT vec_id, embedding FROM embeddings),
            n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
            sums AS (
              SELECT a.i AS i,
                     CAST(SUM(CAST(ROUND(CAST(embedding[a.i + 1] AS DOUBLE)
                                         * 1e12, 0) AS BIGINT))
                          AS DOUBLE) / 1e12 AS s
              FROM e, range(0, {dim}) a(i) GROUP BY 1),
            cross_ut AS (
              SELECT a.i AS i, b.i AS j,
                     CAST(SUM(CAST(ROUND(CAST(embedding[a.i + 1] AS DOUBLE)
                                         * CAST(embedding[b.i + 1] AS DOUBLE)
                                         * 1e12, 0) AS BIGINT))
                          AS DOUBLE) / 1e12 AS sxy
              FROM e, range(0, {dim}) a(i), range(0, {dim}) b(i)
              WHERE b.i >= a.i GROUP BY 1, 2),
            cov_ut AS (
              -- + 0.0 canonicalizes signed zero: DuckDB ROUND keeps -0.0
              -- for tiny negative covariances while Spark rounds to +0.0
              -- (the r5/r6 driver-red root cause; IEEE -0.0 + 0.0 = +0.0).
              SELECT c.i, c.j,
                     ROUND((c.sxy - si.s * sj.s / n.n) / n.n,
                           {decimals}) + 0.0 AS cov
              FROM cross_ut c, n, sums si, sums sj
              WHERE si.i = c.i AND sj.i = c.j),
            cov AS MATERIALIZED (
                    SELECT i, j, cov FROM cov_ut
                    UNION ALL
                    SELECT j AS i, i AS j, cov FROM cov_ut WHERE i < j)"""


def _logreg_oracle_sql(iters: int = 8, lr: float = 1.0,
                       dp: int = 9, out_decimals: int = 6) -> str:
    """DuckDB twin of ``classifier.quality_classifier``: the identical
    feature map (length/1000, whitespace/100, label = lang=='en'),
    then the full-batch GD loop UNROLLED as ``iters`` generated CTE
    pairs (per-row sigmoid at ``dp`` decimals → averaged gradient at
    ``dp`` → weight update at ``dp``) — the PCA-twin recipe: per-step
    re-rounding on both engines makes an 8-step float training loop
    value-hash comparable."""
    ctes = ["""
            feat AS MATERIALIZED (
              SELECT doc_id,
                     CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END
                         AS label,
                     ROUND(length(text) / 1000.0, {dp}) AS x_len,
                     ROUND((length(text)
                            - length(replace(text, ' ', ''))) / 100.0,
                           {dp}) AS x_ws
              FROM documents),
            w0(b, wl, ww) AS (SELECT 0.0, 0.0, 0.0)""".format(dp=dp)]
    for i in range(iters):
        ctes.append(f"""
            p{i} AS (
              SELECT label, x_len, x_ws,
                     ROUND(1 / (1 + EXP(-ROUND(w.b + w.wl * x_len
                                               + w.ww * x_ws, {dp}))),
                           {dp}) AS p
              FROM feat, w{i} w),
            g{i} AS (
              SELECT ROUND(AVG(p - label), {dp}) AS gb,
                     ROUND(AVG((p - label) * x_len), {dp}) AS gl,
                     ROUND(AVG((p - label) * x_ws), {dp}) AS gw
              FROM p{i}),
            w{i + 1} AS (
              SELECT ROUND(w.b - {lr} * g.gb, {dp}) AS b,
                     ROUND(w.wl - {lr} * g.gl, {dp}) AS wl,
                     ROUND(w.ww - {lr} * g.gw, {dp}) AS ww
              FROM w{i} w, g{i} g)""")
    return f"""
            WITH {','.join(ctes)},
            scored AS (
              SELECT doc_id, label,
                     ROUND(1 / (1 + EXP(-ROUND(w.b + w.wl * x_len
                                               + w.ww * x_ws, {dp}))),
                           {dp}) AS p
              FROM feat, w{iters} w)
            SELECT doc_id, CAST(label AS INTEGER) AS label,
                   ROUND(p, {out_decimals}) AS score,
                   CAST(p >= 0.5 AS INTEGER) AS pred
            FROM scored
        """


def _pca_oracle_sql(dim: int = 64, iters: int = 24,
                    fit_decimals: int = 9, out_decimals: int = 6) -> str:
    """DuckDB twin of ``pca.pca_project_top``: the same covariance
    statistics rounded to ``fit_decimals`` BEFORE iterating, then the
    power iteration unrolled as ``iters`` generated CTE pairs (matvec →
    infinity-norm normalize → re-round), the same largest-|coordinate|
    sign rule, one final L2 normalization, and the per-vector
    projection. Per-step re-rounding on BOTH engines is what makes a
    24-step float iteration value-hash comparable — drift from
    different summation orders (~1e-16/step) is snapped away before it
    can compound (same trick as PageRank's per-round 6 dp rounding)."""
    import math as _math

    v0 = round(1.0 / _math.sqrt(dim), fit_decimals)
    steps = [f"""
            v0 AS (SELECT a.i AS i, CAST({v0!r} AS DOUBLE) AS x
                   FROM range(0, {dim}) a(i))"""]
    # Each v{t} is MATERIALIZED and normalizes via a window MAX so every
    # CTE references its predecessor exactly once — DuckDB inlines plain
    # CTEs, and a doubly-referenced 24-step chain would expand 2^24-fold.
    for t in range(1, iters + 1):
        steps.append(f"""
            v{t} AS MATERIALIZED (
              SELECT i, ROUND(x / MAX(ABS(x)) OVER (),
                              {fit_decimals}) AS x
              FROM (SELECT c.i AS i, SUM(c.cov * v.x) AS x
                    FROM cov c JOIN v{t - 1} v ON v.i = c.j
                    GROUP BY 1))""")
    last = f"v{iters}"
    return f"""
            WITH {_pca_covariance_ctes(dim, fit_decimals)},
            {",".join(steps)},
            pick AS (SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS s
                     FROM {last} ORDER BY ABS(x) DESC, i ASC LIMIT 1),
            nrm AS (SELECT SQRT(SUM(x * x)) AS nrm FROM {last}),
            vf AS (SELECT v.i, ROUND(p.s * v.x / q.nrm,
                                     {fit_decimals}) AS x
                   FROM {last} v, pick p, nrm q)
            SELECT e.vec_id,
                   ROUND(SUM(CAST(e.embedding[vf.i + 1] AS DOUBLE) * vf.x),
                         {out_decimals}) + 0.0 AS pc1
            FROM e, vf GROUP BY e.vec_id
        """


def _url_dedup_oracle_sql() -> str:
    """DuckDB twin of ``functions.url.url_dedup`` over the synthesized
    variant URLs: identical regex patterns (imported from
    ``functions.url`` — single source of truth), identical
    canonicalization rule order, identical param filter + sort."""
    from nyctaxidatapipeline_spark.functions.url import (
        _HOST,
        _PATH,
        _PORT,
        _QUERY,
        _SCHEME,
        TRACKING_PARAM_PATTERN,
    )

    return f"""
            WITH u AS (
              SELECT doc_id,
                     CASE CAST(doc_id % 4 AS INT)
                       WHEN 0 THEN 'https://www.site'
                         || CAST(doc_id // 4 AS VARCHAR)
                         || '.example.com:443/a/b?utm_source=x&b=2&a=1#frag'
                       WHEN 1 THEN 'http://site'
                         || CAST(doc_id // 4 AS VARCHAR)
                         || '.example.com:80/a/b?a=1&b=2'
                       WHEN 2 THEN 'https://site'
                         || CAST(doc_id // 4 AS VARCHAR)
                         || '.example.com/a/b/?gclid=zz&a=1&b=2'
                       ELSE 'https://site'
                         || CAST(doc_id // 4 AS VARCHAR)
                         || '.example.com//a//b?b=2&a=1&utm_campaign=c'
                     END AS url
              FROM documents),
            p AS (
              SELECT doc_id,
                     lower(regexp_extract(url, '{_SCHEME}', 1)) AS scheme,
                     regexp_replace(regexp_replace(
                         lower(regexp_extract(url, '{_HOST}', 2)),
                         '^www\\.', ''), '\\.$', '') AS host,
                     regexp_extract(url, '{_PORT}', 1) AS port,
                     regexp_replace(regexp_replace(
                         regexp_extract(url, '{_PATH}', 1),
                         '/{{2,}}', '/', 'g'), '/$', '') AS path,
                     regexp_extract(url, '{_QUERY}', 1) AS query
              FROM u),
            c AS (
              SELECT doc_id,
                     CASE WHEN scheme = '' OR host = '' THEN ''
                          ELSE scheme || '://' || host
                            || (CASE WHEN port = '' THEN ''
                                     WHEN scheme = 'http'
                                          AND port = '80' THEN ''
                                     WHEN scheme = 'https'
                                          AND port = '443' THEN ''
                                     ELSE ':' || port END)
                            || path
                            || (CASE WHEN q = '' THEN ''
                                     ELSE '?' || q END)
                     END AS canonical_url
              FROM (SELECT *,
                           array_to_string(list_sort(list_filter(
                               string_split(query, '&'),
                               x -> x <> '' AND NOT regexp_matches(
                                   x, '{TRACKING_PARAM_PATTERN}'))),
                               '&') AS q
                    FROM p))
            SELECT canonical_url, MIN(doc_id) AS doc_id,
                   COUNT(*) AS n_copies
            FROM c GROUP BY canonical_url
        """


def _text_normalize_oracle_sql() -> str:
    """DuckDB twin of ``text_analysis.normalize_text`` over the
    deterministically-soiled documents: the soiling recipe is replayed
    with chr() codepoints and the rule chain is GENERATED from the same
    ``NORMALIZE_RULES`` table the Spark operator folds — single source
    of truth, so adding/reordering a rule updates both engines."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        NORMALIZE_RULES,
    )

    def rep_sql(r: str) -> str:
        if r == "\n":
            return "chr(10)"
        if r == "\n\n":
            return "chr(10) || chr(10)"
        return "'" + r.replace("'", "''") + "'"

    expr = "soiled"
    for pat, rep in NORMALIZE_RULES:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', {rep_sql(rep)}, 'g')"
    expr = f"regexp_replace({expr}, '^\\s+|\\s+$', '', 'g')"
    return f"""
            WITH s AS (
              SELECT doc_id,
                     chr(8220) || text || chr(8221) || chr(160)
                       || chr(8212) || chr(9) || 'x'
                       || repeat(chr(10), CAST(doc_id % 3 + 1 AS INT))
                       || chr(7)
                       || CASE WHEN doc_id % 2 = 0 THEN chr(8230)
                               ELSE '' END AS soiled
              FROM documents),
            n AS (
              SELECT doc_id, soiled, {expr} AS text_norm FROM s)
            SELECT doc_id, text_norm,
                   CAST(length(soiled) AS INT) AS n_chars,
                   CAST(length(text_norm) AS INT) AS n_chars_norm,
                   text_norm <> soiled AS changed
            FROM n
        """


def _hll_oracle_sql(b: int, hash_bits: int = 32) -> str:
    """DuckDB twin of ``sketches.hll_distinct`` over events/user_id:
    identical portable md5-prefix hash (8 hex chars at 32 bits, 15 at
    60), integer rho via bin(), scaled-integer indicator sum
    (2^(width+1) per absent register — exact BIGINT/HUGEINT on the
    DuckDB side, exact int64 on Spark's), canonical alpha, and the
    linear-counting correction below 2.5m with empty registers. Every
    float literal CAST to DOUBLE so DuckDB doesn't run DECIMAL
    arithmetic; alpha is emitted via repr() so both engines parse the
    same shortest-round-trip double."""
    from nyctaxidatapipeline_spark.operators.sketches import hll_alpha

    m, width = 1 << b, hash_bits - b
    scale = 1 << (width + 1)
    chars = {32: 8, 60: 15}[hash_bits]
    alpha = repr(hll_alpha(m))
    thr = repr(2.5 * m)
    return f"""
            WITH h AS (
              SELECT event_type,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                     1, {chars}))::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL),
            r AS (
              SELECT event_type, h % {m} AS bucket,
                     CASE WHEN h // {m} > 0
                          THEN {width + 1} - length(bin(h // {m}))
                          ELSE {width + 1} END AS rho
              FROM h),
            mx AS (
              SELECT event_type, bucket, MAX(rho) AS m
              FROM r GROUP BY event_type, bucket),
            g AS (
              SELECT event_type, COUNT(*) AS n_buckets,
                     SUM({scale} // CAST(POW(2, m) AS BIGINT))
                         AS s_present
              FROM mx GROUP BY event_type),
            e AS (
              SELECT event_type, n_buckets,
                     CAST({alpha} AS DOUBLE) * CAST({m}.0 AS DOUBLE)
                       * CAST({m}.0 AS DOUBLE)
                       / (CAST(s_present + ({m} - n_buckets) * {scale}
                               AS DOUBLE) / CAST({scale}.0 AS DOUBLE))
                         AS e_raw,
                     CAST({m} - n_buckets AS DOUBLE) AS v
              FROM g)
            SELECT event_type, n_buckets,
                   CASE WHEN e_raw <= CAST({thr} AS DOUBLE) AND v > 0
                        THEN 'linear' ELSE 'raw' END AS est_mode,
                   ROUND(CASE WHEN e_raw <= CAST({thr} AS DOUBLE)
                                   AND v > 0
                              THEN CAST({m}.0 AS DOUBLE)
                                   * ln(CAST({m}.0 AS DOUBLE) / v)
                              ELSE e_raw END, 6) + 0.0
                       AS n_distinct_est
            FROM e
        """


def _profile_hll_oracle_sql(table: str, cols: list[str],
                            b: int = 12) -> str:
    """DuckDB twin of ``profile_numeric(..., approx="hll")``: per
    column, the exact stats block CROSS JOINed with the portable-HLL
    estimator chain (the ``_hll_oracle_sql`` math, ungrouped, keyed on
    the DECIMAL(38,10) canonical rendering both engines print
    identically — raw double→VARCHAR diverges between engines in the
    scientific-notation regime), UNION ALLed across columns."""
    from nyctaxidatapipeline_spark.operators.sketches import hll_alpha

    hash_bits = 32
    m, width = 1 << b, hash_bits - b
    scale = 1 << (width + 1)
    alpha = repr(hll_alpha(m))
    thr = repr(2.5 * m)
    blocks = []
    for c in cols:
        est = f"""(
              SELECT CASE WHEN e_raw <= CAST({thr} AS DOUBLE) AND v > 0
                          THEN 'linear' ELSE 'raw' END AS est_mode,
                     ROUND(CASE WHEN e_raw <= CAST({thr} AS DOUBLE)
                                     AND v > 0
                                THEN CAST({m}.0 AS DOUBLE)
                                     * ln(CAST({m}.0 AS DOUBLE) / v)
                                ELSE e_raw END, 6) + 0.0
                         AS n_distinct_est
              FROM (
                SELECT CAST({alpha} AS DOUBLE) * CAST({m}.0 AS DOUBLE)
                         * CAST({m}.0 AS DOUBLE)
                         / (CAST(s_present + ({m} - n_buckets) * {scale}
                                 AS DOUBLE) / CAST({scale}.0 AS DOUBLE))
                           AS e_raw,
                       CAST({m} - n_buckets AS DOUBLE) AS v
                FROM (
                  SELECT COUNT(*) AS n_buckets,
                         COALESCE(SUM({scale}
                                      // CAST(POW(2, mrho) AS BIGINT)),
                                  0) AS s_present
                  FROM (
                    SELECT bucket, MAX(rho) AS mrho
                    FROM (
                      SELECT h % {m} AS bucket,
                             CASE WHEN h // {m} > 0
                                  THEN {width + 1}
                                       - length(bin(h // {m}))
                                  ELSE {width + 1} END AS rho
                      FROM (
                        SELECT ('0x' || substr(md5(CAST(CAST({c}
                                   AS DECIMAL(38,10)) AS VARCHAR)),
                                   1, 8))::BIGINT AS h
                        FROM {table} WHERE {c} IS NOT NULL))
                    GROUP BY bucket)))
            )"""
        blocks.append(f"""
            SELECT '{c}' AS "column", s.n, s.n_nulls,
                   e.est_mode, e.n_distinct_est,
                   s.min_value, s.max_value, s.mean_value
            FROM (
              SELECT COUNT(*) AS n,
                     CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_nulls,
                     ROUND(CAST(MIN({c}) AS DOUBLE), 6) + 0.0
                         AS min_value,
                     ROUND(CAST(MAX({c}) AS DOUBLE), 6) + 0.0
                         AS max_value,
                     ROUND(CAST(SUM(CAST({c} AS DECIMAL(38,10)))
                                AS DOUBLE) / COUNT({c}), 6) + 0.0
                         AS mean_value
              FROM {table}) s
            CROSS JOIN {est} e""")
    return "\nUNION ALL\n".join(blocks)


def _minhash_band_ctes(num_hashes: int = 32, bands: int = 8,
                       source: str = "documents") -> str:
    """CTE chain for the PORTABLE MinHash signature + banding over a
    ``(doc_id, text)`` relation named ``source``: same md5 base hash,
    same (a_i*h + b_i) mod 2^61-1 family (constants imported from
    ``dedup.minhash_constants`` — single source of truth), same
    concatenated band buckets. Ends with ``bands(doc_id, band,
    bucket)`` (plus ``sh`` for downstream Jaccard verification);
    shared by :func:`_minhash_pair_ctes` and the ``lsh_cap_audit``
    oracle (r15: factored out so the audit twin replays the exact
    banding the pair twins do)."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        MINHASH_P,
        minhash_constants,
    )

    r = num_hashes // bands
    hmins = ",\n                     ".join(
        "min(({a} * h + {b}) % {p}) AS h{i}".format(
            a=minhash_constants(i)[0], b=minhash_constants(i)[1],
            p=MINHASH_P, i=i)
        for i in range(num_hashes))
    band_rows = "\n              UNION ALL\n              ".join(
        "SELECT doc_id, {bi} AS band, concat_ws(':', {hs}) AS bucket "
        "FROM sig".format(
            bi=bi,
            hs=", ".join(f"h{bi * r + j}" for j in range(r)))
        for bi in range(bands))
    return f"""toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM {source}
            ), sh AS (
              SELECT DISTINCT doc_id, sg
              FROM toks,
                   UNNEST(list_transform(range(1, greatest(len(tk)-2, 0) + 1),
                                         i -> array_to_string(tk[i:i+2], ' ')))
                     AS u(sg)
            ), hx AS (
              SELECT doc_id,
                     ('0x' || substr(md5(sg), 1, 8))::BIGINT AS h
              FROM sh
            ), sig AS (
              SELECT doc_id,
                     {hmins}
              FROM hx GROUP BY doc_id
            ), bands AS (
              {band_rows}
            )"""


def _minhash_pair_ctes(num_hashes: int = 32, bands: int = 8,
                       threshold: float = 0.5,
                       source: str = "documents",
                       max_bucket: int | None = None) -> str:
    """CTE chain for the PORTABLE MinHash+LSH pipeline over a
    ``(doc_id, text)`` relation named ``source``
    (:func:`_minhash_band_ctes` + candidate expansion + exact-Jaccard
    verification). ``max_bucket`` mirrors the operator's
    overfull-bucket guard (band buckets holding more docs emit no
    candidates). Ends with ``mh_pairs(id_a, id_b, jaccard)``
    (unrounded, thresholded); shared by the ``minhash_dedup`` and
    ``near_dup_production`` oracles."""
    return _minhash_band_ctes(num_hashes, bands, source) + f""", bkeep AS (
              SELECT band, bucket FROM bands GROUP BY band, bucket
              HAVING count(*) <= {max_bucket if max_bucket is not None
                                  else 'count(*)'}
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b USING (band, bucket)
              JOIN bkeep USING (band, bucket)
              WHERE a.doc_id < b.doc_id
            ), sizes AS (
              SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
            ), shared AS (
              SELECT c.id_a, c.id_b, count(*) AS n_shared
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND a.sg = b.sg
              GROUP BY 1, 2
            ), mh_pairs AS (
              SELECT id_a, id_b,
                     n_shared::DOUBLE /
                         (sa.set_size + sb.set_size - n_shared) AS jaccard
              FROM shared
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE n_shared::DOUBLE / (sa.set_size + sb.set_size - n_shared)
                    >= {threshold}
            )"""


def _minhash_oracle_sql(num_hashes: int = 32, bands: int = 8,
                        threshold: float = 0.5) -> str:
    """DuckDB twin of the PORTABLE MinHash+LSH near-dup pairs (see
    ``_minhash_pair_ctes`` for the shared pipeline)."""
    ctes = _minhash_pair_ctes(num_hashes, bands, threshold)
    return f"""
            WITH {ctes}
            SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM mh_pairs
        """


def _lsh_recall_oracle_sql(num_hashes: int = 32, bands: int = 8,
                           threshold: float = 0.5,
                           max_df: int = 20,
                           max_bucket: int | None = None) -> str:
    """DuckDB twin of ``dedup.lsh_recall_report``: the shared portable
    MinHash CTE chain (with the ``max_bucket`` operating-point cap)
    plus the exact-pair pipeline (same toks/sh/sizes CTEs), full-outer
    joined and reduced to the one NULL-guarded report row."""
    ctes = _minhash_pair_ctes(num_hashes, bands, threshold,
                              max_bucket=max_bucket)
    return f"""
            WITH {ctes}, filt AS (
              SELECT * FROM sh WHERE sg NOT IN
                  (SELECT sg FROM sh GROUP BY sg
                   HAVING count(*) > {max_df})
            ), shared_e AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS n_shared
              FROM filt a JOIN filt b USING (sg)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), ex2 AS (
              SELECT id_a AS ea, id_b AS eb FROM shared_e
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE n_shared::DOUBLE /
                    (sa.set_size + sb.set_size - n_shared)
                    >= {threshold}
            ), l2 AS (
              SELECT id_a AS la, id_b AS lb FROM mh_pairs
            ), j AS (
              SELECT COUNT(ea) AS n_exact, COUNT(la) AS n_lsh,
                     SUM(CASE WHEN ea IS NOT NULL AND la IS NOT NULL
                              THEN 1 ELSE 0 END) AS n_common
              FROM ex2 FULL OUTER JOIN l2 ON ea = la AND eb = lb)
            SELECT CAST(n_exact AS BIGINT) AS n_exact,
                   CAST(n_lsh AS BIGINT) AS n_lsh,
                   CAST(n_common AS BIGINT) AS n_common,
                   CASE WHEN n_exact > 0 THEN
                     ROUND(n_common::DOUBLE / n_exact, 6) + 0.0
                   END AS recall,
                   CASE WHEN n_lsh > 0 THEN
                     ROUND(n_common::DOUBLE / n_lsh, 6) + 0.0
                   END AS precision
            FROM j
        """


def _near_dup_production_oracle_sql(num_hashes: int = 32, bands: int = 8,
                                    threshold: float = 0.5,
                                    max_bucket: int | None = None) -> str:
    """DuckDB twin of ``dedup.near_dup_production``: exact collapse to
    min-id representatives (grouping by the text itself — the Spark
    side groups by ``md5(text)``, identical absent a 2^-128 collision),
    the shared portable MinHash+LSH pipeline over the REPRESENTATIVES
    only (including the ``max_bucket`` guard), transitive closure by
    recursive CTE, then every row's group inherited through its
    representative."""
    ctes = _minhash_pair_ctes(num_hashes, bands, threshold, source="reps",
                              max_bucket=max_bucket)
    return f"""
            WITH RECURSIVE reps AS (
              SELECT MIN(doc_id) AS doc_id, text
              FROM documents GROUP BY text
            ), members AS (
              SELECT d.doc_id, r.doc_id AS rep
              FROM documents d JOIN reps r USING (text)
            ), {ctes}, edges AS (
              SELECT id_a AS a, id_b AS b FROM mh_pairs
              UNION
              SELECT id_b, id_a FROM mh_pairs
            ), reach(id, t) AS (
              SELECT a, a FROM edges
              UNION
              SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.t
            ), comp AS (
              SELECT id, MIN(t) AS comp FROM reach GROUP BY id
            )
            SELECT m.doc_id, COALESCE(c.comp, m.rep) AS group_id
            FROM members m LEFT JOIN comp c ON c.id = m.rep
        """


def _simhash_band_ctes(bands: int = 4) -> str:
    """CTE chain for the PORTABLE SimHash signature + pigeonhole
    banding over ``documents``: same md5-derived 32-bit signature
    words (hex chars 9-16 / 1-8), same per-bit ±1 sign sums over
    word-bigram features (duplicates kept — SimHash weights repeats),
    same word-aligned band buckets. Ends with ``bands(doc_id, band,
    bucket)``; shared by :func:`_simhash_oracle_sql` and the
    ``simhash_cap_audit`` oracle (r15)."""
    width = 64 // bands

    def bit_sums(word: str, prefix: str) -> str:
        return ",\n                     ".join(
            f"sum(CASE WHEN ({word} >> {j}) & 1 = 1 THEN 1 ELSE -1 END)"
            f" AS {prefix}{j}" for j in range(32))

    def word_of(prefix: str) -> str:
        return " + ".join(
            f"(CASE WHEN {prefix}{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(32))

    def bucket_of(bi: int) -> str:
        word = "sh_lo" if bi * width < 32 else "sh_hi"
        off = (bi * width) % 32
        return f"({word} >> {off}) & {(1 << width) - 1}"

    band_rows = "\n              UNION ALL\n              ".join(
        f"SELECT doc_id, {bi} AS band, {bucket_of(bi)} AS bucket FROM sig"
        for bi in range(bands))
    return f"""toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ), feats AS (
              -- NO distinct: SimHash sign-sums weight repeated features
              SELECT doc_id, sg
              FROM toks,
                   UNNEST(list_transform(range(1, greatest(len(tk)-1, 0) + 1),
                                         i -> array_to_string(tk[i:i+1], ' ')))
                     AS u(sg)
            ), hw AS (
              SELECT doc_id,
                     ('0x' || substr(md5(sg), 9, 8))::BIGINT AS h_lo,
                     ('0x' || substr(md5(sg), 1, 8))::BIGINT AS h_hi
              FROM feats
            ), sums AS (
              SELECT doc_id,
                     {bit_sums('h_lo', 'bl')},
                     {bit_sums('h_hi', 'bh')}
              FROM hw GROUP BY doc_id
            ), sig AS (
              SELECT doc_id,
                     {word_of('bl')} AS sh_lo,
                     {word_of('bh')} AS sh_hi
              FROM sums
            ), bands AS (
              {band_rows}
            )"""


def _simhash_oracle_sql(max_hamming: int = 3, bands: int = 4,
                        max_bucket: int | None = None) -> str:
    """DuckDB twin of the PORTABLE SimHash near-dup pairs
    (:func:`_simhash_band_ctes` + candidate expansion + two-word
    Hamming verification); ``max_bucket`` replays the operator's
    bucket-size gate (r14) as an identical per-(band, bucket) count
    filter."""
    return f"""
            WITH {_simhash_band_ctes(bands)}, live AS (
              -- the operator's max_bucket storm backstop: buckets
              -- holding more than {'inf' if max_bucket is None else max_bucket} docs emit no
              -- pairs (COUNT(*) == distinct docs here: one bands row
              -- per (doc, band)); `is None` test, not truthiness —
              -- max_bucket=0 means NO pairs, not no cap (ADVICE r14)
              SELECT band, bucket FROM bands
              GROUP BY band, bucket
              HAVING COUNT(*) <= {'COUNT(*)' if max_bucket is None else max_bucket}
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b USING (band, bucket)
              JOIN live USING (band, bucket)
              WHERE a.doc_id < b.doc_id
            )
            SELECT c.id_a, c.id_b,
                   CAST(bit_count(xor(sa.sh_lo, sb.sh_lo))
                        + bit_count(xor(sa.sh_hi, sb.sh_hi)) AS INTEGER)
                     AS hamming
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b
            WHERE bit_count(xor(sa.sh_lo, sb.sh_lo))
                  + bit_count(xor(sa.sh_hi, sb.sh_hi)) <= {max_hamming}
        """


def _fuzzy_band_ctes(prefix_len: int = 3, max_dist: int = 1,
                     source: str = "part", id_col: str = "p_partkey",
                     val_col: str = "p_name") -> str:
    """CTE chain for the ``entity.fuzzy_pairs`` blocking over a
    TPC-H-style relation, ending with ``bands(doc_id, band, bucket)``
    for :func:`_cap_audit_oracle_sql` (r15): band = the exploded
    length bucket (own + one below, exactly the dual routes the
    self-join candidates take), bucket = the lowercased
    ``prefix_len``-prefix — the same block keys the ``fuzzy_names``
    twin spells inline."""
    return f"""base AS (
              SELECT {id_col} AS doc_id,
                     substr(lower({val_col}), 1, {prefix_len}) AS bucket,
                     CAST(floor(length(lower({val_col}))
                                / {max_dist + 1}) AS BIGINT) AS lb
              FROM {source}
            ), bands AS (
              SELECT doc_id, unnest([lb, lb + 1]) AS band, bucket
              FROM base
            )"""


def _rp_band_ctes(n: int, threshold: float = 0.4,
                  target_recall: float = 0.9, max_bands: int = 8,
                  dim: int = 64) -> str:
    """CTE chain for the RP-LSH banding over ``embeddings``, ending
    with ``bands(vec_id, band, bucket)`` — the same auto-derived
    (planes, bands) and md5 plane literals
    :func:`_rp_lsh_auto_oracle_sql` spells inline (``rp_lsh_params``
    at corpus count ``n``; the correctness gate runs at sf0.01 where
    n=500), factored for the ``rp_lsh_cap_audit`` twin (r15)."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        rp_lsh_params,
        rp_plane_components_portable,
    )

    planes, bands = rp_lsh_params(n, threshold, target_recall, max_bands)
    width = planes // bands
    comps = rp_plane_components_portable(dim, planes)

    def _bucket(bi: int) -> str:
        return " + ".join(
            "(CASE WHEN list_dot_product(vec, [{arr}]) >= 0.0 "
            "THEN {bit} ELSE 0 END)".format(
                arr=", ".join(repr(c) for c in comps[bi * width + local]),
                bit=1 << local)
            for local in range(width))

    band_rows = "\n              UNION ALL\n              ".join(
        f"SELECT vec_id, {bi} AS band, {_bucket(bi)} AS bucket FROM v"
        for bi in range(bands))
    return f"""v AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE len(embedding) > 0
            ), bands AS (
              {band_rows}
            )"""


def _cap_audit_oracle_sql(band_ctes: str, max_bucket: int,
                          id_col: str = "doc_id") -> str:
    """DuckDB twin of ``dedup.bucket_cap_audit`` over any banding CTE
    chain ending with ``bands(<id_col>, band, bucket)``
    (:func:`_minhash_band_ctes` / :func:`_simhash_band_ctes` /
    :func:`_fuzzy_band_ctes` / :func:`_rp_band_ctes` — the audit
    replays the EXACT banding its pair operator reads): bucket sizes
    via count(DISTINCT id) (== the operator's collect_set size), the
    same cap predicate, the same Σ c·(c−1)/2 dropped candidate
    arithmetic, BIGINT-cast to match Spark's long columns (DuckDB
    sums widen to HUGEINT)."""
    mb = int(max_bucket)
    doc_id = id_col
    return f"""
        WITH {band_ctes}, bsz AS (
          SELECT band, bucket, count(DISTINCT {doc_id}) AS c
          FROM bands GROUP BY band, bucket
        ), stats AS (
          SELECT coalesce(count(*) FILTER (WHERE c >= 2), 0)::BIGINT
                     AS multi_buckets,
                 coalesce(count(*) FILTER (WHERE c > {mb}), 0)::BIGINT
                     AS dropped_buckets,
                 coalesce(max(c), 0)::BIGINT AS max_bucket_size,
                 coalesce(sum(c * (c - 1) // 2)
                              FILTER (WHERE c > {mb}), 0)::BIGINT
                     AS cand_pairs_dropped
          FROM bsz
        ), banded AS (
          SELECT count(DISTINCT {doc_id})::BIGINT AS docs_banded
          FROM bands
        ), dropped AS (
          SELECT count(DISTINCT b.{doc_id})::BIGINT AS docs_dropped
          FROM bands b
          JOIN (SELECT band, bucket FROM bsz WHERE c > {mb}) oc
            USING (band, bucket)
        )
        SELECT multi_buckets, dropped_buckets, max_bucket_size,
               cand_pairs_dropped, docs_banded, docs_dropped,
               CASE WHEN docs_banded > 0
                    THEN ROUND(docs_dropped::DOUBLE / docs_banded, 6)
                    ELSE 0.0 END AS doc_share_dropped
        FROM stats, banded, dropped
    """


def _pii_oracle_sql() -> str:
    """DuckDB twin of the PII scan: same injected synthetic PII (pure
    function of doc_id), same patterns (``text_analysis.PII_PATTERNS`` —
    single source of truth; written to match identically under RE2 and
    java.util.regex), same redaction order. DuckDB regexp_replace needs
    the explicit 'g' flag to match Spark's replace-all semantics."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        PII_PATTERNS,
    )

    def q(p: str) -> str:
        return "'" + p.replace("'", "''") + "'"

    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(t, {q(p)})) AS INTEGER) AS n_{k}"
        for k, p in PII_PATTERNS.items())
    total = " + ".join(f"len(regexp_extract_all(t, {q(p)}))"
                       for p in PII_PATTERNS.values())
    redacted = "t"
    for k, p in PII_PATTERNS.items():
        redacted = (f"regexp_replace({redacted}, {q(p)}, "
                    f"'[{k.upper()}]', 'g')")
    return f"""
            WITH aug AS (
              SELECT doc_id,
                     text ||
                     CASE WHEN doc_id % 7 = 0
                          THEN ' contact user' || doc_id::VARCHAR
                               || '@example.com' ELSE '' END ||
                     CASE WHEN doc_id % 11 = 0
                          THEN ' call 555-867-5309' ELSE '' END ||
                     CASE WHEN doc_id % 13 = 0
                          THEN ' host 10.0.' || (doc_id % 250)::VARCHAR
                               || '.1' ELSE '' END AS t
              FROM documents
            )
            SELECT doc_id,
                   {counts},
                   ({total}) > 0 AS has_pii,
                   {redacted} AS redacted
            FROM aug
        """


def _rp_lsh_oracle_sql(threshold: float = 0.4, planes: int = 24,
                       bands: int = 4, dim: int = 64) -> str:
    """DuckDB twin of the PORTABLE random-hyperplane LSH pipeline: the
    same md5-derived plane literals (``rp_plane_components_portable`` —
    single source of truth), the same sign-bit signature
    (``list_dot_product`` reproduces the left-to-right fold bit-for-bit,
    proven by ann_topk's parity), the same band buckets, and the same
    exact cosine rerank rounded 6 dp."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        rp_plane_components_portable,
    )

    comps = rp_plane_components_portable(dim, planes)
    width = planes // bands
    sig_terms = " + ".join(
        "(CASE WHEN list_dot_product(vec, [{arr}]) >= 0.0 "
        "THEN {bit} ELSE 0 END)".format(
            arr=", ".join(repr(c) for c in comps[p]), bit=1 << p)
        for p in range(planes))
    band_rows = "\n              UNION ALL\n              ".join(
        f"SELECT vec_id, {bi} AS band, "
        f"(sig >> {bi * width}) & {(1 << width) - 1} AS bucket FROM sig"
        for bi in range(bands))
    return f"""
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE len(embedding) > 0
            ), sig AS (
              SELECT vec_id, vec, {sig_terms} AS sig
              FROM v
            ), bands AS (
              {band_rows}
            ), cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bands a JOIN bands b USING (band, bucket)
              WHERE a.vec_id < b.vec_id
            )
            SELECT c.id_a, c.id_b,
                   ROUND(list_dot_product(a.vec, b.vec) /
                         (sqrt(list_dot_product(a.vec, a.vec)) *
                          sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
            FROM cand c
            JOIN v a ON a.vec_id = c.id_a
            JOIN v b ON b.vec_id = c.id_b
            WHERE ROUND(list_dot_product(a.vec, b.vec) /
                        (sqrt(list_dot_product(a.vec, a.vec)) *
                         sqrt(list_dot_product(b.vec, b.vec))), 6)
                  >= {threshold}
        """


def _rp_lsh_auto_oracle_sql(n: int, threshold: float = 0.4,
                            target_recall: float = 0.9,
                            max_bands: int = 8, dim: int = 64) -> str:
    """DuckDB twin of ``rp_lsh_near_dup_auto`` — identical md5 plane
    literals and per-band bucket integers, with (planes, bands) derived
    by the SAME ``rp_lsh_params`` call the Spark query makes at runtime.

    ``n`` must equal the corpus count the Spark side sees: the driver's
    correctness gate runs at sf0.01 (500 embeddings; sf0.001 is also
    500, so local runs at either scale stay in parity). At other scales
    the Spark query re-derives its parameters from the live count —
    that adaptivity is exactly what the bench measures."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        rp_lsh_params,
        rp_plane_components_portable,
    )

    planes, bands = rp_lsh_params(n, threshold, target_recall, max_bands)
    width = planes // bands
    comps = rp_plane_components_portable(dim, planes)

    def _bucket(bi: int) -> str:
        return " + ".join(
            "(CASE WHEN list_dot_product(vec, [{arr}]) >= 0.0 "
            "THEN {bit} ELSE 0 END)".format(
                arr=", ".join(repr(c) for c in comps[bi * width + local]),
                bit=1 << local)
            for local in range(width))

    band_rows = "\n              UNION ALL\n              ".join(
        f"SELECT vec_id, {bi} AS band, {_bucket(bi)} AS bucket FROM v"
        for bi in range(bands))
    return f"""
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec
              FROM embeddings WHERE len(embedding) > 0
            ), bands AS (
              {band_rows}
            ), cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bands a JOIN bands b USING (band, bucket)
              WHERE a.vec_id < b.vec_id
            )
            SELECT c.id_a, c.id_b,
                   ROUND(list_dot_product(a.vec, b.vec) /
                         (sqrt(list_dot_product(a.vec, a.vec)) *
                          sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
            FROM cand c
            JOIN v a ON a.vec_id = c.id_a
            JOIN v b ON b.vec_id = c.id_b
            WHERE ROUND(list_dot_product(a.vec, b.vec) /
                        (sqrt(list_dot_product(a.vec, a.vec)) *
                         sqrt(list_dot_product(b.vec, b.vec))), 6)
                  >= {threshold}
        """


def _curation_flag_ctes(min_tokens: int = 30, min_quality: float = 0.3,
                        max_dup_frac: float = 0.08) -> str:
    """Flag-rule CTEs (quality / repetition / PII verdicts + keep) —
    the fragments are verbatim the proven `quality_score`,
    `repetition_stats`, and `pii_stats` oracle rules, joined per doc."""
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        PII_PATTERNS,
    )
    pii_total = " + ".join(
        "len(regexp_extract_all(text, '" + p.replace("'", "''") + "'))"
        for p in PII_PATTERNS.values())
    return f"""
        ftoks AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(lower(trim(text)),
                                                '\\s+'),
                             t -> t <> '') AS tk
          FROM documents),
        fq AS (
          SELECT doc_id,
                 CAST(len(tk) AS INTEGER) AS n_tokens,
                 ROUND(0.5 * least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
                       + 0.3 * least(COALESCE(
                             CASE WHEN len(tk) > 0 THEN
                               CAST(len(list_filter(tk,
                                 t -> list_contains(
                                   ['the','a','is','and','of','to','in',
                                    'that','it','for'], t)))
                                 AS DOUBLE) / len(tk) END, 0.0) * 5.0,
                             1.0)
                       + 0.2 * least(COALESCE(
                             CASE WHEN length(text) > 0 THEN
                               CAST(len(regexp_extract_all(
                                   text, '[.,;:!?]')) AS DOUBLE)
                               / length(text) END, 0.0) * 20.0,
                             1.0), 6) AS quality_score
          FROM ftoks),
        fsh AS (
          SELECT doc_id, sg
          FROM ftoks,
               UNNEST(list_transform(
                   range(1, greatest(len(tk) - 1, 0) + 1),
                   i -> array_to_string(tk[i:i+1], ' '))) AS u(sg)),
        frep AS (
          SELECT doc_id,
                 ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6)
                     AS dup_ngram_frac
          FROM (SELECT doc_id, sg, COUNT(*) AS cnt
                FROM fsh GROUP BY doc_id, sg) GROUP BY doc_id),
        fpii AS (
          SELECT doc_id, ({pii_total}) > 0 AS has_pii FROM documents),
        flags AS (
          SELECT fq.doc_id, fq.n_tokens, fq.quality_score,
                 frep.dup_ngram_frac, fpii.has_pii,
                 (fq.n_tokens >= {min_tokens}) AS ok_length,
                 (fq.quality_score >= {min_quality}) AS ok_quality,
                 COALESCE(frep.dup_ngram_frac <= {max_dup_frac}, TRUE)
                     AS ok_repetition,
                 ((fq.n_tokens >= {min_tokens})
                  AND (fq.quality_score >= {min_quality})
                  AND COALESCE(frep.dup_ngram_frac <= {max_dup_frac},
                               TRUE)) AS keep
          FROM fq
          LEFT JOIN frep ON fq.doc_id = frep.doc_id
          JOIN fpii ON fq.doc_id = fpii.doc_id)"""


def _curation_flags_oracle_sql() -> str:
    return f"""
        WITH {_curation_flag_ctes()}
        SELECT doc_id, n_tokens, quality_score, dup_ngram_frac,
               has_pii, ok_length, ok_quality, ok_repetition, keep
        FROM flags
    """


def _curate_corpus_oracle_sql(num_hashes: int = 32, bands: int = 8,
                              threshold: float = 0.5,
                              max_bucket: int | None = 32) -> str:
    """Full composed pipeline twin: flag filter → PII redaction →
    line dedup → fingerprint dedup → portable MinHash LSH pairs (with
    the ``max_bucket`` overfull-bucket backstop — part of the
    pipeline's registered semantics) → recursive-CTE connected
    components → keep min-id representatives. Every stage's SQL is the
    proven fragment of the corresponding standalone oracle, re-sourced
    at the previous stage's CTE."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        MINHASH_P,
        minhash_constants,
    )
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        PII_PATTERNS,
    )

    redacted = "text"
    for k, p in PII_PATTERNS.items():
        redacted = ("regexp_replace(" + redacted + ", '"
                    + p.replace("'", "''") + "', '[" + k.upper()
                    + "]', 'g')")
    r = num_hashes // bands
    hmins = ",\n                 ".join(
        "min(({a} * h + {b}) % {p}) AS h{i}".format(
            a=minhash_constants(i)[0], b=minhash_constants(i)[1],
            p=MINHASH_P, i=i)
        for i in range(num_hashes))
    band_rows = "\n          UNION ALL\n          ".join(
        "SELECT doc_id, {bi} AS band, concat_ws(':', {hs}) AS bucket "
        "FROM sig".format(
            bi=bi, hs=", ".join(f"h{bi * r + j}" for j in range(r)))
        for bi in range(bands))
    return f"""
        WITH RECURSIVE {_curation_flag_ctes()},
        red AS (
          SELECT d.doc_id, {redacted} AS text
          FROM documents d JOIN flags ON d.doc_id = flags.doc_id
          WHERE flags.keep),
        rlines AS (
          SELECT doc_id, u.pos, u.line FROM (
            SELECT doc_id,
                   unnest(list_transform(string_split(text, chr(10)),
                          (x, i) -> struct_pack(pos := i - 1,
                                                line := x))) AS u
            FROM red)),
        rflagged AS (
          SELECT doc_id, pos, line,
                 (length(line) < 10) OR
                 (ROW_NUMBER() OVER (PARTITION BY md5(line)
                                     ORDER BY doc_id, pos) = 1) AS keep
          FROM rlines),
        lined AS (
          SELECT doc_id,
                 COALESCE(string_agg(CASE WHEN keep THEN line END,
                                     chr(10) ORDER BY pos), '') AS text
          FROM rflagged GROUP BY doc_id),
        ltoks AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(lower(trim(text)),
                                                '\\s+'),
                             t -> t <> '') AS tk
          FROM lined),
        freps AS (
          SELECT MIN(doc_id) AS doc_id
          FROM (SELECT doc_id, md5(array_to_string(tk, ' ')) AS fp
                FROM ltoks) GROUP BY fp),
        uniq AS (
          SELECT l.doc_id, l.text, l.tk
          FROM ltoks l JOIN freps USING (doc_id)),
        sh AS (
          SELECT DISTINCT doc_id, sg
          FROM uniq,
               UNNEST(list_transform(
                   range(1, greatest(len(tk) - 2, 0) + 1),
                   i -> array_to_string(tk[i:i+2], ' '))) AS u(sg)),
        hx AS (
          SELECT doc_id, ('0x' || substr(md5(sg), 1, 8))::BIGINT AS h
          FROM sh),
        sig AS (SELECT doc_id, {hmins} FROM hx GROUP BY doc_id),
        bandtab AS ({band_rows}),
        bkeep AS (
          SELECT band, bucket FROM bandtab GROUP BY band, bucket
          HAVING count(*) <= {max_bucket if max_bucket is not None
                              else 'count(*)'}),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bandtab a JOIN bandtab b USING (band, bucket)
          JOIN bkeep USING (band, bucket)
          WHERE a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS set_size
                  FROM sh GROUP BY doc_id),
        shared AS (
          SELECT c.id_a, c.id_b, count(*) AS n_shared
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND a.sg = b.sg
          GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b FROM shared
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE n_shared::DOUBLE
                / (sa.set_size + sb.set_size - n_shared)
                >= {threshold}),
        cedges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(id, t) AS (
          SELECT a, a FROM cedges
          UNION
          SELECT reach.id, e.b FROM reach JOIN cedges e
                 ON e.a = reach.t),
        dropped AS (
          SELECT id FROM (SELECT id, MIN(t) AS comp
                          FROM reach GROUP BY id)
          WHERE comp < id)
        SELECT doc_id, text FROM uniq
        WHERE doc_id NOT IN (SELECT id FROM dropped)
    """


def _lm_model_ctes(prefix: str, source_cte: str) -> str:
    """Bigram-LM count-table CTEs (counts, contexts, vocab) trained on
    ``source_cte`` rows of the shared tokenized ``base``, plus the
    left-join scoring of every document's bigram stream (``bg``) under
    that model — the twin of ``lm.lm_score_under``."""
    p = prefix
    return f"""
        {p}bgc AS (
          SELECT bigram, COUNT(*) AS c FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i + 1])) AS bigram
            FROM {source_cte} WHERE len(tk) >= 2) GROUP BY bigram),
        {p}ctx AS (SELECT split_part(bigram, ' ', 1) AS w1,
                          SUM(c) AS ctx
                   FROM {p}bgc GROUP BY 1),
        {p}vocab AS (SELECT COUNT(DISTINCT token) AS v FROM
                     (SELECT unnest(tk) AS token FROM {source_cte})),
        {p}avg AS (
          SELECT doc_id, COUNT(*) AS n_bigrams,
                 ROUND(AVG(ln((COALESCE(c, 0) + 1.0)
                              / (COALESCE(ctx, 0) + v))), 6) AS lp
          FROM bg LEFT JOIN {p}bgc USING (bigram)
                  LEFT JOIN {p}ctx
                       ON split_part(bg.bigram, ' ', 1) = {p}ctx.w1
                  CROSS JOIN {p}vocab
          GROUP BY doc_id)"""


def _dsir_oracle_sql() -> str:
    return f"""
        WITH base AS (
          SELECT doc_id, source,
                 list_filter(string_split_regex(lower(trim(text)),
                                                '\\s+'),
                             t -> t <> '') AS tk
          FROM documents),
        tgt AS (SELECT * FROM base WHERE source IN ('src0', 'src1')),
        bg AS (
          SELECT doc_id,
                 unnest(list_transform(
                     generate_series(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i + 1])) AS bigram
          FROM base WHERE len(tk) >= 2),
        {_lm_model_ctes('t', 'tgt')},
        {_lm_model_ctes('r', 'base')}
        SELECT tavg.doc_id, tavg.n_bigrams,
               ROUND(tavg.lp - ravg.lp, 6) AS log_ratio,
               ROUND(exp(ROUND(tavg.lp - ravg.lp, 6)), 6) AS weight
        FROM tavg JOIN ravg USING (doc_id)
    """


def _pagerank_oracle_sql(iters: int = 3, damping: float = 0.85) -> str:
    """DuckDB twin of the fixed-iteration PageRank: identical per-round
    6 dp rank rounding, identical simple-formulation semantics (no
    dangling redistribution), unrolled one CTE pair per iteration."""
    d = damping
    ctes = [f"""
        f AS (SELECT DISTINCT 's' || l_suppkey AS src,
                              'p' || l_partkey AS dst FROM lineitem),
        e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        cnt AS (SELECT COUNT(*) AS n FROM nodes),
        outdeg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        r0 AS (SELECT node, ROUND(1.0 / n, 6) AS rank FROM nodes, cnt)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""
        s{i} AS (SELECT e.dst, ROUND(SUM(r.rank / d.deg), 6) AS s
                 FROM e JOIN r{i - 1} r ON e.src = r.node
                        JOIN outdeg d ON e.src = d.src
                 GROUP BY e.dst),
        r{i} AS (SELECT node,
                        ROUND((1 - {d}) / n + {d} * COALESCE(s, 0), 6)
                            AS rank
                 FROM nodes LEFT JOIN s{i} ON node = s{i}.dst, cnt)""")
    return (f"WITH {','.join(ctes)}\n"
            f"        SELECT node, rank FROM r{iters}")


def _bfs_oracle_sql(iters: int = 4) -> str:
    """DuckDB twin of the fixed-iteration BFS: one relax-and-min CTE
    per round over the symmetrized supplier-part graph, sources s1-s5,
    reached-only frontier semantics (no infinity sentinel)."""
    ctes = ["""
        f AS (SELECT DISTINCT 's' || l_suppkey AS src,
                              'p' || l_partkey AS dst FROM lineitem),
        e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
        d0 AS (SELECT node, 0 AS dist FROM (VALUES ('s1'), ('s2'),
                   ('s3'), ('s4'), ('s5')) v(node))"""]
    for i in range(1, iters + 1):
        ctes.append(f"""
        d{i} AS (SELECT node, MIN(dist) AS dist FROM (
                   SELECT node, dist FROM d{i - 1}
                   UNION ALL
                   SELECT e.dst AS node, d.dist + 1 AS dist
                   FROM e JOIN d{i - 1} d ON e.src = d.node)
                 GROUP BY node)""")
    return (f"WITH {','.join(ctes)}\n"
            f"        SELECT node, dist FROM d{iters}")


def _lpa_oracle_sql(iters: int = 2, graph_ctes: str | None = None) -> str:
    """DuckDB twin of the deterministic synchronous label propagation:
    identical most-frequent-in-neighbor-label update with ties to the
    largest label, unrolled one CTE triple per round, no-in-neighbor
    nodes keeping their previous label via the same left-join
    coalesce. ``graph_ctes`` supplies the edge construction (must
    define ``e(src, dst)``); default is the supplier↔part co-order
    graph of the ``label_propagation`` query."""
    if graph_ctes is None:
        graph_ctes = """
        f AS (SELECT DISTINCT 's' || l_suppkey AS src,
                              'p' || l_partkey AS dst FROM lineitem),
        e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f)"""
    ctes = [graph_ctes + """,
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        l0 AS (SELECT node, node AS label FROM nodes)"""]
    for i in range(1, iters + 1):
        ctes.append(f"""
        c{i} AS (SELECT e.dst AS node, l.label, COUNT(*) AS cnt
                 FROM e JOIN l{i - 1} l ON e.src = l.node
                 GROUP BY e.dst, l.label),
        b{i} AS (SELECT node, label FROM (
                   SELECT node, label, row_number() OVER (
                       PARTITION BY node
                       ORDER BY cnt DESC, label DESC) AS rk
                   FROM c{i}) WHERE rk = 1),
        l{i} AS (SELECT p.node, COALESCE(b.label, p.label) AS label
                 FROM l{i - 1} p LEFT JOIN b{i} b ON p.node = b.node)""")
    return (f"WITH {','.join(ctes)}\n"
            f"        SELECT node, label FROM l{iters}")


def _kmeans_seed_ctes(k: int | str) -> str:
    """Shared CTEs for the k-means oracles: deterministic md5-ordered
    seed centroids (the twin of ``clustering.seed_centroids``) and the
    max-cosine assignment with ties to the lowest cluster_id (the twin
    of ``assign_clusters``'s first-position argmax). ``k`` may be an
    int literal or a SQL scalar-subquery string (the auto-parameterized
    SemDeDup twin derives k from the live corpus count)."""
    return f"""
        seeds AS (
          SELECT CAST(row_number() OVER (
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                     AS INTEGER) AS cluster_id,
                 embedding::DOUBLE[] AS cv
          FROM embeddings
          WHERE list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[]) > 0
          QUALIFY row_number() OVER (
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {k}),
        v AS (
          SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
          WHERE list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[]) > 0),
        scored AS (
          SELECT vec_id, cluster_id,
                 ROUND(list_dot_product(vec, cv)
                       / (sqrt(list_dot_product(vec, vec))
                          * sqrt(list_dot_product(cv, cv))), 6) AS cosine
          FROM v, seeds),
        assigned AS (
          SELECT vec_id, cluster_id, cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id
                ORDER BY cosine DESC, cluster_id) AS rn
            FROM scored) WHERE rn = 1)
    """


def _kmeans_assign_oracle_sql(k: int) -> str:
    return f"""
        WITH {_kmeans_seed_ctes(k)}
        SELECT vec_id, cluster_id, cosine FROM assigned
    """


def _semantic_dedup_auto_oracle_sql(target_cluster_size: int,
                                    threshold: float) -> str:
    """Twin of the AUTO-parameterized SemDeDup: k is not a literal but
    the same ``ceil(n / target_cluster_size)`` the Spark side derives
    from the live corpus count (``clustering.semdedup_n_clusters``) —
    computed here as a scalar subquery, so the oracle stays in parity
    at ANY scale factor, not just the one it was generated for."""
    k_expr = ("(SELECT GREATEST(1, CAST(CEIL(COUNT(*) "
              f"/ {float(target_cluster_size)!r}) AS INTEGER)) "
              "FROM embeddings)")
    return f"""
        WITH {_kmeans_seed_ctes(k_expr)},
        av AS (
          SELECT a.vec_id, a.cluster_id, v.vec,
                 sqrt(list_dot_product(v.vec, v.vec)) AS nrm
          FROM assigned a JOIN v USING (vec_id))
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster_id,
               ROUND(list_dot_product(a.vec, b.vec)
                     / (a.nrm * b.nrm), 6) AS cosine
        FROM av a JOIN av b
             ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.vec, b.vec)
                    / (a.nrm * b.nrm), 6) >= {threshold}
    """


def _semantic_dedup_oracle_sql(k: int, threshold: float) -> str:
    return f"""
        WITH {_kmeans_seed_ctes(k)},
        av AS (
          SELECT a.vec_id, a.cluster_id, v.vec,
                 sqrt(list_dot_product(v.vec, v.vec)) AS nrm
          FROM assigned a JOIN v USING (vec_id))
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster_id,
               ROUND(list_dot_product(a.vec, b.vec)
                     / (a.nrm * b.nrm), 6) AS cosine
        FROM av a JOIN av b
             ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.vec, b.vec)
                    / (a.nrm * b.nrm), 6) >= {threshold}
    """


def _ivf_occupancy_oracle_sql(n_lists: int = 16) -> str:
    """DuckDB twin of ``similarity.ivf_occupancy_audit`` at the
    ``ann_ivf`` operating point: the same portable md5 seed selection
    and argmax-dot routing CTEs as :func:`_ann_ivf_oracle_sql`
    (tie → lowest cid, matching Spark's first-index ``array_position``
    argmax — the parity the ann_ivf twins already pin), then
    list-size stats BIGINT-cast to match Spark's long columns."""
    return f"""
            WITH seeds AS (
              SELECT CAST(row_number() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                         - 1 AS INTEGER) AS cid,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(
                              embedding::DOUBLE[],
                              embedding::DOUBLE[]))) AS cv
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
              QUALIFY row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                  <= {n_lists}),
            corpus AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec
              FROM embeddings),
            assigned AS (
              SELECT vec_id, cid AS list_id FROM (
                SELECT c.vec_id, s.cid,
                       row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY list_dot_product(c.vec, s.cv) DESC,
                                    s.cid) AS rn
                FROM corpus c, seeds s) WHERE rn = 1),
            sizes AS (
              SELECT list_id, count(*) AS c
              FROM assigned GROUP BY list_id)
            SELECT CAST({n_lists} AS BIGINT) AS n_lists,
                   coalesce(sum(c), 0)::BIGINT AS vecs_routed,
                   count(*)::BIGINT AS nonempty_lists,
                   coalesce(max(c), 0)::BIGINT AS max_list,
                   coalesce(min(c), 0)::BIGINT AS min_list,
                   ROUND(coalesce(sum(c), 0) / {n_lists}.0, 6)
                       AS mean_occupancy,
                   CASE WHEN coalesce(sum(c), 0) > 0
                        THEN ROUND(max(c) * {n_lists}.0 / sum(c), 6)
                        ELSE 0.0 END AS imbalance
            FROM sizes
        """


def _ann_ivf_oracle_sql() -> str:
    """Shared twin of ``similarity.ivf_topk`` at the registered
    operating point (portable seeds, 16 lists, nprobe=4, k=10,
    queries vec_id < 5) — used verbatim by BOTH the in-query-
    assignment (``ann_ivf``) and the persisted-partitioned-index
    (``ann_ivf_indexed``) registrations: the top-k set does not
    depend on how the inverted lists were obtained."""
    return """
            WITH seeds AS (
              SELECT CAST(row_number() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                         - 1 AS INTEGER) AS cid,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(
                              embedding::DOUBLE[],
                              embedding::DOUBLE[]))) AS cv
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
              QUALIFY row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
            corpus AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings),
            assigned AS (
              SELECT vec_id, vec, nrm, cid AS list_id FROM (
                SELECT c.vec_id, c.vec, c.nrm, s.cid,
                       row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY list_dot_product(c.vec, s.cv) DESC,
                                    s.cid) AS rn
                FROM corpus c, seeds s) WHERE rn = 1),
            probes AS (
              SELECT query_id, q_vec, q_nrm, cid AS list_id FROM (
                SELECT q.vec_id AS query_id, q.vec AS q_vec,
                       q.nrm AS q_nrm, s.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.vec, s.cv) DESC,
                                    s.cid) AS rn
                FROM corpus q, seeds s WHERE q.vec_id < 5)
              WHERE rn <= 4),
            scored AS (
              SELECT p.query_id, a.vec_id,
                     ROUND(list_dot_product(p.q_vec, a.vec)
                           / (p.q_nrm * a.nrm), 6) AS cosine
              FROM probes p JOIN assigned a USING (list_id))
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT *, CAST(row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 10
        """


def _incremental_semantic_oracle_sql(threshold: float = 0.4,
                                     nprobe: int = 4,
                                     n_centroids: int = 16) -> str:
    """Twin of ``similarity.incremental_semantic_admission`` over the
    ~2% increment split (batch = vec_id % 50 == 1): the ``ann_ivf``
    seeds/assignment/probes fragments (same portable centroid doubles,
    same DESC-dot/lowest-cid tie-breaks), restricted by the admission
    arms — a batch id is rejected iff a probed CORPUS vector sits at
    ROUND(cosine,6) >= threshold, or a SMALLER-id batch vector's top-1
    list is among its probes at the same bar. Zero-norm vectors are
    outside both candidate arms (cosine undefined) and therefore
    admitted, exactly like the Spark side's norm>0 filters."""
    return f"""
            WITH seeds AS (
              SELECT CAST(row_number() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                         - 1 AS INTEGER) AS cid,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(
                              embedding::DOUBLE[],
                              embedding::DOUBLE[]))) AS cv
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
              QUALIFY row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                  <= {n_centroids}),
            nz AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0),
            assigned AS (
              SELECT vec_id AS p_id, vec AS p_vec, nrm AS p_nrm,
                     cid AS list_id FROM (
                SELECT c.vec_id, c.vec, c.nrm, s.cid,
                       row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY list_dot_product(c.vec, s.cv) DESC,
                                    s.cid) AS rn
                FROM nz c, seeds s WHERE c.vec_id % 50 <> 1)
              WHERE rn = 1),
            b_assigned AS (
              SELECT vec_id AS p_id, vec AS p_vec, nrm AS p_nrm,
                     cid AS list_id FROM (
                SELECT b.vec_id, b.vec, b.nrm, s.cid,
                       row_number() OVER (PARTITION BY b.vec_id
                           ORDER BY list_dot_product(b.vec, s.cv) DESC,
                                    s.cid) AS rn
                FROM nz b, seeds s WHERE b.vec_id % 50 = 1)
              WHERE rn = 1),
            probes AS (
              SELECT vec_id AS b_id, vec AS b_vec, nrm AS b_nrm,
                     cid AS list_id FROM (
                SELECT b.vec_id, b.vec, b.nrm, s.cid,
                       row_number() OVER (PARTITION BY b.vec_id
                           ORDER BY list_dot_product(b.vec, s.cv) DESC,
                                    s.cid) AS rn
                FROM nz b, seeds s WHERE b.vec_id % 50 = 1)
              WHERE rn <= {nprobe}),
            rejected AS (
              SELECT DISTINCT b_id FROM (
                SELECT p.b_id
                FROM probes p JOIN assigned a USING (list_id)
                WHERE ROUND(list_dot_product(p.b_vec, a.p_vec)
                            / (p.b_nrm * a.p_nrm), 6) >= {threshold}
                UNION ALL
                SELECT p.b_id
                FROM probes p JOIN b_assigned s USING (list_id)
                WHERE p.b_id > s.p_id
                  AND ROUND(list_dot_product(p.b_vec, s.p_vec)
                            / (p.b_nrm * s.p_nrm), 6) >= {threshold}))
            SELECT vec_id,
                   ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[])), 6)
                       AS vec_norm
            FROM embeddings
            WHERE vec_id % 50 = 1
              AND vec_id NOT IN (SELECT b_id FROM rejected)
        """


def _cross_signal_oracle_sql() -> str:
    """Twin of ``dedup.cross_signal_dedup``: the near_dup_production
    mapping (derived table) contributes star edges, the portable
    RP-LSH pipeline (derived table) contributes cosine edges, one
    recursive closure folds both, and every document inherits the min
    reachable id (itself when isolated)."""
    return f"""
            WITH RECURSIVE tmap AS (
              SELECT * FROM (
                {_near_dup_production_oracle_sql(num_hashes=32, bands=8,
                                                 threshold=0.5,
                                                 max_bucket=32)}
              ) t
            ), eedges AS (
              SELECT id_a, id_b FROM (
                {_rp_lsh_auto_oracle_sql(n=500, threshold=0.4,
                                         target_recall=0.9,
                                         max_bands=8, dim=64)}
              ) e
            ), xs_edges AS (
              -- CTE names here must NOT collide with the nested
              -- fragments' own (edges/reach/comp): an outer CTE of the
              -- same name captures the inner references in DuckDB and
              -- silently corrupts the inner closure (measured: 5% of
              -- groups lost their text edges)
              SELECT doc_id AS a, group_id AS b FROM tmap
              WHERE doc_id <> group_id
              UNION
              SELECT group_id, doc_id FROM tmap WHERE doc_id <> group_id
              UNION
              SELECT id_a, id_b FROM eedges
              UNION
              SELECT id_b, id_a FROM eedges
            ), xs_reach(id, t) AS (
              SELECT a, a FROM xs_edges
              UNION
              SELECT xs_reach.id, e.b
              FROM xs_reach JOIN xs_edges e ON e.a = xs_reach.t
            ), xs_comp AS (
              SELECT id, MIN(t) AS comp FROM xs_reach GROUP BY id
            )
            SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS group_id
            FROM documents d LEFT JOIN xs_comp c ON c.id = d.doc_id
        """


def _incremental_semantic_auto_oracle_sql(threshold: float = 0.4,
                                          nprobe: int = 4) -> str:
    """Twin of ``similarity.incremental_semantic_admission_auto``: the
    ``knn_graph_ivf`` routing recipe (corpus-size-aware list count
    ceil(sqrt(nprobe·|corpus|)); routing dots ROUNDed 6 dp before
    ranking, mirroring the BLAS kernel's pre-argmax rounding) with the
    admission arms of the fixed-k twin."""
    return f"""
            WITH kk AS (
              SELECT CAST(CEIL(SQRT({nprobe}.0 * COUNT(*))) AS INTEGER)
                  AS k
              FROM embeddings WHERE vec_id % 50 <> 1),
            seeds AS (
              SELECT CAST(row_number() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                         - 1 AS INTEGER) AS cid,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(
                              embedding::DOUBLE[],
                              embedding::DOUBLE[]))) AS cv
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
              QUALIFY row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                  <= (SELECT k FROM kk)),
            nz AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0),
            assigned AS (
              SELECT vec_id AS p_id, vec AS p_vec, nrm AS p_nrm,
                     cid AS list_id FROM (
                SELECT c.vec_id, c.vec, c.nrm, s.cid,
                       row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY ROUND(list_dot_product(c.vec, s.cv),
                                          6) DESC,
                                    s.cid) AS rn
                FROM nz c, seeds s WHERE c.vec_id % 50 <> 1)
              WHERE rn = 1),
            b_assigned AS (
              SELECT vec_id AS p_id, vec AS p_vec, nrm AS p_nrm,
                     cid AS list_id FROM (
                SELECT b.vec_id, b.vec, b.nrm, s.cid,
                       row_number() OVER (PARTITION BY b.vec_id
                           ORDER BY ROUND(list_dot_product(b.vec, s.cv),
                                          6) DESC,
                                    s.cid) AS rn
                FROM nz b, seeds s WHERE b.vec_id % 50 = 1)
              WHERE rn = 1),
            probes AS (
              SELECT vec_id AS b_id, vec AS b_vec, nrm AS b_nrm,
                     cid AS list_id FROM (
                SELECT b.vec_id, b.vec, b.nrm, s.cid,
                       row_number() OVER (PARTITION BY b.vec_id
                           ORDER BY ROUND(list_dot_product(b.vec, s.cv),
                                          6) DESC,
                                    s.cid) AS rn
                FROM nz b, seeds s WHERE b.vec_id % 50 = 1)
              WHERE rn <= {nprobe}),
            rejected AS (
              SELECT DISTINCT b_id FROM (
                SELECT p.b_id
                FROM probes p JOIN assigned a USING (list_id)
                WHERE ROUND(list_dot_product(p.b_vec, a.p_vec)
                            / (p.b_nrm * a.p_nrm), 6) >= {threshold}
                UNION ALL
                SELECT p.b_id
                FROM probes p JOIN b_assigned s USING (list_id)
                WHERE p.b_id > s.p_id
                  AND ROUND(list_dot_product(p.b_vec, s.p_vec)
                            / (p.b_nrm * s.p_nrm), 6) >= {threshold}))
            SELECT vec_id,
                   ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
                                               embedding::DOUBLE[])), 6)
                       AS vec_norm
            FROM embeddings
            WHERE vec_id % 50 = 1
              AND vec_id NOT IN (SELECT b_id FROM rejected)
        """


def _incremental_minhash_oracle_sql() -> str:
    """Shared twin of ``dedup.incremental_minhash_admission`` over the
    ~2% increment split — used verbatim by BOTH the in-query-rebuild
    (``incremental_minhash``) and the persisted-index
    (``incremental_minhash_indexed``) registrations, because the
    admitted set does not depend on how the corpus index was obtained."""
    return f"""
            WITH {_minhash_pair_ctes(num_hashes=32, bands=8,
                                     threshold=0.5)},
            rejected AS (
              SELECT DISTINCT x FROM (
                SELECT id_b AS x FROM mh_pairs WHERE id_b % 50 = 1
                UNION ALL
                SELECT id_a FROM mh_pairs
                WHERE id_a % 50 = 1 AND id_b % 50 <> 1))
            SELECT doc_id, md5(text) AS text_md5
            FROM documents
            WHERE doc_id % 50 = 1
              AND doc_id NOT IN (SELECT x FROM rejected)
        """


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins of each query.

    Dialect notes: DuckDB ``dayofweek`` is 0=Sunday — Spark's is 1=Sunday,
    so oracles add 1; ``hour()`` returns BIGINT in DuckDB — cast to INTEGER
    to match Spark's int; computed doubles ROUND(...,6) on both sides.
    """
    return {
        "demand_heatmap": """
            SELECT user_id,
                   CAST(hour(ts) AS INTEGER) AS event_hour,
                   COUNT(*) AS n_trips
            FROM events
            GROUP BY user_id, hour(ts)
        """,
        "tip_trends": """
            SELECT l_suppkey, l_returnflag,
                   ROUND(AVG(CASE WHEN l_tax > 0 THEN l_discount / l_tax END), 6)
                       AS avg_tip_pct,
                   COUNT(*) AS n_trips
            FROM lineitem
            GROUP BY l_suppkey, l_returnflag
        """,
        "trip_performance": """
            SELECT l_returnflag, l_linestatus,
                   CAST(dayofweek(l_shipdate) + 1 AS INTEGER) AS ship_dow,
                   ROUND(AVG(l_quantity), 6) AS avg_l_quantity,
                   ROUND(AVG(l_extendedprice), 6) AS avg_l_extendedprice,
                   ROUND(AVG(l_discount), 6) AS avg_l_discount,
                   ROUND(SUM(l_extendedprice), 6) AS sum_l_extendedprice,
                   COUNT(*) AS n_trips,
                   (dayofweek(l_shipdate) + 1) IN (1, 7) AS is_weekend
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus, dayofweek(l_shipdate)
        """,
        "popular_routes": """
            SELECT l_partkey, l_returnflag,
                   COUNT(*) AS n_trips,
                   ROUND(AVG(l_quantity), 6) AS avg_l_quantity,
                   ROUND(AVG(l_extendedprice), 6) AS avg_l_extendedprice,
                   ROUND(AVG(l_discount), 6) AS avg_l_discount
            FROM lineitem
            GROUP BY l_partkey, l_returnflag
            HAVING COUNT(*) >= 10
        """,
        "payment_analysis": """
            SELECT l_returnflag, l_linestatus,
                   COUNT(*) AS n_trips,
                   ROUND(AVG(l_extendedprice), 6) AS avg_fare,
                   ROUND(AVG(l_discount), 6) AS avg_tip,
                   ROUND(AVG(CASE WHEN l_tax > 0 THEN l_discount / l_tax END), 6)
                       AS avg_tip_pct,
                   ROUND(SUM(l_extendedprice), 6) AS total_revenue,
                   CASE l_returnflag
                        WHEN 'R' THEN 'Returned'
                        WHEN 'A' THEN 'Accepted'
                        WHEN 'N' THEN 'Neutral'
                        ELSE 'Unknown' END AS payment_method
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "distance_distribution": """
            SELECT l_returnflag,
                   CASE WHEN l_quantity < 10 THEN 'Very Short'
                        WHEN l_quantity < 20 THEN 'Short'
                        WHEN l_quantity < 30 THEN 'Medium'
                        WHEN l_quantity < 40 THEN 'Long'
                        ELSE 'Very Long' END AS qty_category,
                   COUNT(*) AS n_trips,
                   ROUND(AVG(l_extendedprice), 6) AS avg_fare,
                   ROUND(AVG(l_quantity), 6) AS avg_duration,
                   ROUND(AVG(l_discount), 6) AS avg_tip,
                   ROUND(SUM(l_extendedprice), 6) AS total_revenue
            FROM lineitem
            GROUP BY 1, 2
        """,
        "fare_anomalies": """
            SELECT l_orderkey, l_linenumber, l_partkey,
                   l_extendedprice, l_quantity
            FROM lineitem
            WHERE l_extendedprice >=
                  (SELECT quantile_cont(l_extendedprice, 0.99) FROM lineitem)
        """,
        # Production GK-sketch mode: at accuracy=1e6 the sketch is the
        # exact rank statistic, which DuckDB's discrete quantile pins.
        "fare_anomalies_approx": """
            SELECT l_orderkey, l_linenumber, l_partkey,
                   l_extendedprice, l_quantity
            FROM lineitem
            WHERE l_extendedprice >=
                  (SELECT quantile_disc(l_extendedprice, 0.99) FROM lineitem)
        """,
        # Hash-sample sketch mode: the twin replays the deterministic
        # bottom-k md5-rank sample and the discrete index arithmetic
        # verbatim — full hash parity at the sketch's HONEST accuracy
        # (unlike GK, which only stays checkable uncompressed).
        "fare_anomalies_sketch": """
            WITH samp AS (
                SELECT l_extendedprice AS v
                FROM lineitem
                ORDER BY md5(COALESCE(CAST(l_orderkey AS VARCHAR), chr(0))
                             || ':' ||
                             COALESCE(CAST(l_linenumber AS VARCHAR), chr(0))
                             || ':' ||
                             COALESCE(CAST(l_partkey AS VARCHAR), chr(0))),
                         v
                LIMIT 16384
            ), thr AS (
                -- FILTER + COUNT(v), not list(v) + COUNT(*) (ADVICE
                -- r13): Spark's collect_list DROPS NULL values, so a
                -- nullable value column would index a shorter array
                -- than DuckDB's NULL-keeping list(v) over a
                -- NULL-inflated n. l_extendedprice is NOT NULL today;
                -- the twin must not depend on that.
                SELECT list_sort(list(v) FILTER (WHERE v IS NOT NULL))
                           [GREATEST(
                           CAST(CEIL(0.99 * COUNT(v)) AS BIGINT),
                           1)] AS t
                FROM samp
            )
            SELECT l_orderkey, l_linenumber, l_partkey,
                   l_extendedprice, l_quantity
            FROM lineitem
            WHERE l_extendedprice >= (SELECT t FROM thr)
        """,
        "price_quantile_summary": """
            WITH samp AS (
                SELECT l_extendedprice AS v
                FROM lineitem
                ORDER BY md5(COALESCE(CAST(l_orderkey AS VARCHAR), chr(0))
                             || ':' ||
                             COALESCE(CAST(l_linenumber AS VARCHAR), chr(0))
                             || ':' ||
                             COALESCE(CAST(l_partkey AS VARCHAR), chr(0))),
                         v
                LIMIT 16384
            ), arr AS (
                -- collect_list parity: NULL values excluded from both
                -- the array and n (ADVICE r13 — see
                -- fare_anomalies_sketch).
                SELECT list_sort(list(v) FILTER (WHERE v IS NOT NULL))
                           AS a,
                       COUNT(v) AS n
                FROM samp
            )
            SELECT q,
                   ROUND(a[GREATEST(CAST(CEIL(q * n) AS BIGINT), 1)], 6)
                       + 0.0 AS value
            FROM arr,
                 (SELECT UNNEST(CAST([0.5, 0.9, 0.99, 0.999]
                                     AS DOUBLE[])) AS q) t
            ORDER BY q
        """,
        "grouped_percentiles_sketch": """
            WITH samp AS (
                SELECT l_returnflag, v FROM (
                    SELECT l_returnflag, l_extendedprice AS v,
                           row_number() OVER (
                               PARTITION BY l_returnflag
                               ORDER BY md5(
                                   COALESCE(CAST(l_orderkey AS VARCHAR),
                                            chr(0)) || ':' ||
                                   COALESCE(CAST(l_linenumber AS VARCHAR),
                                            chr(0)) || ':' ||
                                   COALESCE(CAST(l_partkey AS VARCHAR),
                                            chr(0))),
                                        l_extendedprice) AS rn
                    FROM lineitem)
                WHERE rn <= 4096
            )
            SELECT l_returnflag,
                   -- collect_list parity: NULL values excluded from
                   -- both the array and n (ADVICE r13 — see
                   -- fare_anomalies_sketch).
                   ROUND(list_sort(list(v) FILTER (WHERE v IS NOT NULL))
                       [GREATEST(
                       CAST(CEIL(0.5 * COUNT(v)) AS BIGINT), 1)], 6)
                       + 0.0 AS p50,
                   ROUND(list_sort(list(v) FILTER (WHERE v IS NOT NULL))
                       [GREATEST(
                       CAST(CEIL(0.95 * COUNT(v)) AS BIGINT), 1)], 6)
                       + 0.0 AS p95
            FROM samp GROUP BY l_returnflag
        """,
        "cleaning_dropna": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events
            WHERE event_id IS NOT NULL AND ts IS NOT NULL
              AND user_id IS NOT NULL AND event_type IS NOT NULL
              AND value IS NOT NULL AND props IS NOT NULL
        """,
        "hourly_window": """
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM events
            GROUP BY 1
        """,
        "star_join_revenue": """
            SELECT r_name, n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       CAST(row_number() OVER (
                            PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey
                       ) AS INTEGER) AS rn
                FROM orders)
            WHERE rn <= 3
        """,
        "urgent_customers_semi": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        """,
        "customers_no_orders_anti": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 350000.0)
        """,
        "purchasers_without_errors": """
            SELECT user_id FROM events WHERE event_type = 'purchase'
            EXCEPT
            SELECT user_id FROM events
            WHERE event_type = 'error' AND value > 250.0
        """,
        "signup_and_purchase": """
            SELECT user_id FROM events WHERE event_type = 'signup'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        """,
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 6) AS sum_qty,
                   COUNT(*) AS n_items
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "json_extract_k": """
            SELECT event_type,
                   ROUND(AVG(TRY_CAST(json_extract_string(props, '$.k')
                                      AS INTEGER)), 6) AS avg_k,
                   COUNT(*) AS n_events
            FROM events
            GROUP BY event_type
        """,
        "exact_dedup": """
            SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
            FROM documents
            GROUP BY text
        """,
        # Tokenization contract mirrored from functions/text.py: lowercase,
        # whitespace-split, empties dropped; 3-gram shingles, DISTINCT per
        # doc; stop-shingles with document frequency > 20 excluded from
        # candidate generation (max_df) but counted in set sizes — the cap
        # bounds candidate pairs at sum(df^2) and is the scale knob.
        "ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, sg
              FROM toks,
                   UNNEST(list_transform(range(1, greatest(len(tk)-2, 0) + 1),
                                         i -> array_to_string(tk[i:i+2], ' ')))
                     AS u(sg)
            ), sizes AS (
              SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
            ), filt AS (
              SELECT * FROM sh WHERE sg NOT IN
                  (SELECT sg FROM sh GROUP BY sg HAVING count(*) > 20)
            ), shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
              FROM filt a JOIN filt b USING (sg)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(n_shared::DOUBLE /
                         (sa.set_size + sb.set_size - n_shared), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_shared::DOUBLE / (sa.set_size + sb.set_size - n_shared)
                  >= 0.5
        """,
        # Full sketch-path twin: the portable hash family makes the
        # entire minhash->band->candidate->verify pipeline reproducible
        # in DuckDB (not just the verify math).
        "minhash_dedup": _minhash_oracle_sql(num_hashes=32, bands=8,
                                             threshold=0.5),
        # Production composition twin: exact collapse -> shared portable
        # LSH pipeline over representatives -> recursive-CTE closure ->
        # per-row group via the representative (VERDICT r7 task 1).
        "near_dup_production": _near_dup_production_oracle_sql(
            num_hashes=32, bands=8, threshold=0.5, max_bucket=32),
        # Twin of dedup.lsh_recall_report: exact + sketch pipelines
        # over the shared CTEs, reduced to the one report row.
        "lsh_recall_report": _lsh_recall_oracle_sql(
            num_hashes=32, bands=8, threshold=0.5, max_df=20,
            max_bucket=32),
        # Twin of the dedup-savings report: the composed production
        # dedup oracle nests as a derived table, joined back to the
        # documents for per-source token accounting (tokens contract
        # == list_filter form).
        "dedup_savings": f"""
            SELECT d.source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN m.group_id = d.doc_id
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_docs_kept,
                   CAST(SUM(tk_n) AS BIGINT) AS ws_tokens,
                   CAST(SUM(CASE WHEN m.group_id = d.doc_id
                                 THEN tk_n ELSE 0 END) AS BIGINT)
                       AS ws_tokens_kept,
                   CASE WHEN SUM(tk_n) > 0 THEN
                     ROUND(1.0 - SUM(CASE WHEN m.group_id = d.doc_id
                                          THEN tk_n ELSE 0 END)::DOUBLE
                               / SUM(tk_n), 6) + 0.0
                   END AS tokens_saved_frac
            FROM (SELECT doc_id, source,
                         len(list_filter(
                             string_split_regex(lower(trim(text)),
                                                '\\s+'),
                             t -> t <> '')) AS tk_n
                  FROM documents) d
            JOIN ({_near_dup_production_oracle_sql(
                num_hashes=32, bands=8, threshold=0.5,
                max_bucket=32)}) m USING (doc_id)
            GROUP BY d.source
        """,
        # Twin of dedup.dedup_group_stats over the near_dup_production
        # mapping (the full composed oracle nests as a derived table).
        "near_dup_stats": f"""
            SELECT group_size, COUNT(*) AS n_groups,
                   CAST(SUM(group_size) AS BIGINT) AS n_docs
            FROM (
              SELECT group_id, COUNT(*) AS group_size
              FROM ({_near_dup_production_oracle_sql(
                  num_hashes=32, bands=8, threshold=0.5,
                  max_bucket=32)}) m
              GROUP BY group_id) g
            GROUP BY group_size
        """,
        # Twin of dedup.incremental_minhash_admission over the ~2%
        # increment split (batch = doc_id % 50 == 1): the unified
        # portable pair set (same hash family => identical candidates
        # + verification) restricted by the greedy-admission arms — a
        # batch id is rejected iff some pair has it as the LARGER
        # member (the partner is then corpus or a smaller batch doc)
        # or pairs it as the smaller member with a CORPUS partner.
        "incremental_minhash": _incremental_minhash_oracle_sql(),
        # IDENTICAL SQL on purpose: the admitted set is
        # index-representation-independent (the persisted parquet index
        # is a pure function of corpus text; unit-pinned identical
        # through the round trip), so the deployment-shape registration
        # shares the in-query-rebuild twin verbatim.
        "incremental_minhash_indexed": _incremental_minhash_oracle_sql(),
        # Twin of similarity.incremental_semantic_admission — the
        # embedding-side admission gate at the fixture's 0.4 near-dup
        # operating point (ann_ivf's routing fragments + the
        # greedy-admission arms).
        "incremental_semantic": _incremental_semantic_oracle_sql(),
        # Its 100 TB operating point: auto-sized lists + BLAS routing
        # (rounded-6dp routing ranks, the knn_graph_ivf recipe).
        "incremental_semantic_auto": _incremental_semantic_auto_oracle_sql(),
        # identical admitted set by construction (index-representation
        # independence unit-pinned): same twin SQL as the auto path
        "incremental_semantic_auto_indexed":
            _incremental_semantic_auto_oracle_sql(),
        # The persisted-index registration admits the IDENTICAL set —
        # the index stores the same (vec, norm, list_id) assignments the
        # in-query pass derives (unit-pinned through the parquet round
        # trip) — so the twin is the same SQL.
        "incremental_semantic_indexed": _incremental_semantic_oracle_sql(),
        # Multi-signal dedup: lexical star edges + RP-LSH cosine edges,
        # one recursive closure (both fragments individually proven).
        "cross_signal_dedup": _cross_signal_oracle_sql(),
        # The persisted-index registration computes the IDENTICAL edge
        # union (both indexes store the same bucket rows the in-query
        # passes derive; unit-pinned through the parquet round trips),
        # so the twin is the same SQL.
        "cross_signal_dedup_indexed": _cross_signal_oracle_sql(),
        # Twin of text_analysis.token_budget: same whitespace-token
        # contract, same RE2-parity BPE pre-tokenizer pattern.
        "corpus_token_budget": f"""
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(list_filter(
                       string_split_regex(lower(trim(text)), '\\s+'),
                       t -> t <> ''))) AS BIGINT) AS ws_tokens,
                   CAST(SUM(len(regexp_extract_all(lower(text),
                       ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+'))) AS BIGINT)
                       AS bpe_tokens,
                   CAST(SUM(length(text)) AS BIGINT) AS n_chars
            FROM documents GROUP BY source
        """,
        # Full sketch-path twin: md5-derived signature words make the
        # sign-sum -> band -> Hamming pipeline reproducible in DuckDB.
        "simhash_pairs": _simhash_oracle_sql(max_hamming=3, bands=4,
                                             max_bucket=32),
        # Cap-audit twins (r15, VERDICT r14 task 4): the recall bill of
        # the max_bucket storm backstops, over the exact banding tables
        # the capped pair operators read.
        "lsh_cap_audit": _cap_audit_oracle_sql(
            _minhash_band_ctes(num_hashes=32, bands=8), max_bucket=3),
        "simhash_cap_audit": _cap_audit_oracle_sql(
            _simhash_band_ctes(bands=4), max_bucket=2),
        "fuzzy_cap_audit": _cap_audit_oracle_sql(
            _fuzzy_band_ctes(prefix_len=3, max_dist=1),
            max_bucket=240),
        # IVF routing-skew audit (r15): the ANN sibling of the cap
        # audits, over the exact portable-seed routing ann_ivf reads.
        "ivf_occupancy_audit": _ivf_occupancy_oracle_sql(n_lists=16),
        # RP-LSH bucket audit (r15): the reporting-threshold sibling
        # over the exact auto-derived banding ann_lsh_auto reads
        # (n=500 at the sf0.01 gate).
        "rp_lsh_cap_audit": _cap_audit_oracle_sql(
            _rp_band_ctes(n=500, threshold=0.4, target_recall=0.9,
                          max_bands=8),
            max_bucket=6, id_col="vec_id"),
        # Full sketch-path twin: identical md5-derived plane literals in
        # both engines make the RP-LSH pipeline reproducible in DuckDB.
        "ann_lsh_auto": _rp_lsh_auto_oracle_sql(n=500, threshold=0.4,
                                                target_recall=0.9,
                                                max_bands=8, dim=64),
        "ann_lsh": _rp_lsh_oracle_sql(threshold=0.4, planes=24, bands=4,
                                      dim=64),
        # Same shingle/pair pipeline as ngram_jaccard, then transitive
        # closure by recursive CTE (DuckDB) vs iterative min-label
        # propagation (Spark) — both converge to comp = min reachable id.
        "near_dup_groups": """
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, sg
              FROM toks,
                   UNNEST(list_transform(range(1, greatest(len(tk)-2, 0) + 1),
                                         i -> array_to_string(tk[i:i+2], ' ')))
                     AS u(sg)
            ), sizes AS (
              SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
            ), filt AS (
              SELECT * FROM sh WHERE sg NOT IN
                  (SELECT sg FROM sh GROUP BY sg HAVING count(*) > 20)
            ), shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
              FROM filt a JOIN filt b USING (sg)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), pairs AS (
              SELECT id_a, id_b
              FROM shared
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE n_shared::DOUBLE / (sa.set_size + sb.set_size - n_shared)
                    >= 0.5
            ), edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ), reach(id, t) AS (
              SELECT a, a FROM edges
              UNION
              SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.t
            )
            SELECT id AS doc_id, MIN(t) AS group_id
            FROM reach GROUP BY id
        """,
        "embedding_near_dup": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec
                       FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.vec, b.vec) /
                         (sqrt(list_dot_product(a.vec, a.vec)) *
                          sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.vec, b.vec) /
                        (sqrt(list_dot_product(a.vec, a.vec)) *
                         sqrt(list_dot_product(b.vec, b.vec))), 6) >= 0.4
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id, embedding::DOUBLE[] AS cv
                       FROM embeddings),
                 scored AS (
                   SELECT query_id, vec_id,
                          ROUND(list_dot_product(qv, cv) /
                                (sqrt(list_dot_product(qv, qv)) *
                                 sqrt(list_dot_product(cv, cv))), 6) AS cosine
                   FROM c, q)
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT *, CAST(row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 10
        """,
        # Twin of similarity.hard_negatives: same exact cosine scoring
        # with the different-label + different-id filter BEFORE the
        # per-query rank.
        "hard_negatives": """
            WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                              embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 10),
                 c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv
                       FROM embeddings),
                 scored AS (
                   SELECT query_id, query_label, vec_id, label,
                          ROUND(list_dot_product(qv, cv) /
                                (sqrt(list_dot_product(qv, qv)) *
                                 sqrt(list_dot_product(cv, cv))), 6) AS cosine
                   FROM c, q
                   WHERE label <> query_label AND vec_id <> query_id)
            SELECT query_id, query_label, vec_id, label, cosine, rank
            FROM (
              SELECT *, CAST(row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        # Twin of similarity.knn_graph: exact all-corpus top-5 with self
        # excluded; the blocked kernel's per-group partials merge to
        # exactly this full-candidate-set ranking.
        "knn_graph": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings),
                 c AS (SELECT vec_id, embedding::DOUBLE[] AS cv
                       FROM embeddings),
                 scored AS (
                   SELECT query_id, vec_id,
                          ROUND(list_dot_product(qv, cv) /
                                (sqrt(list_dot_product(qv, qv)) *
                                 sqrt(list_dot_product(cv, cv))), 6) AS cosine
                   FROM c, q WHERE query_id <> vec_id)
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT *, CAST(row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        # Twin of ivf_topk with ivf_seed_centroids_portable: seeds are
        # the 16 non-zero vectors with smallest (md5(id), id), unit-
        # normalized; assignment/probing argmax raw dots with ties to
        # the lowest centroid id (Spark's first-position argmax /
        # struct(-d, cid) sort); rerank is the exact cosine with 6 dp
        # rounding. nprobe=4, k=10, queries vec_id < 5.
        "ann_ivf": _ann_ivf_oracle_sql(),
        # IDENTICAL SQL on purpose: the top-k set is independent of
        # whether the corpus assignment was computed in-query or read
        # back from the persisted partitioned index (same centroids =>
        # same inverted lists; unit-pinned through the round trip).
        "ann_ivf_indexed": _ann_ivf_oracle_sql(),
        # Twin of knn_graph_ivf: the ann_ivf pipeline with probes over
        # the WHOLE corpus (queries = corpus), the self-match excluded
        # before ranking, k=5, nprobe=4, and the AUTO-sized list count
        # (ceil(sqrt(4n)) — the same knn_graph_ivf_n_centroids the
        # Spark side derives from its count; IEEE sqrt is correctly
        # rounded on both engines) of portable seed centroids.
        "knn_graph_ivf": """
            WITH kk AS (
              SELECT CAST(CEIL(SQRT(4.0 * COUNT(*))) AS INTEGER) AS k
              FROM embeddings),
            seeds AS (
              SELECT CAST(row_number() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                         - 1 AS INTEGER) AS cid,
                     list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(
                              embedding::DOUBLE[],
                              embedding::DOUBLE[]))) AS cv
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
              QUALIFY row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                  <= (SELECT k FROM kk)),
            corpus AS (
              -- zero-norm vectors dropped (cosine undefined); the Spark
              -- kernel's route() filters them identically.
              SELECT vec_id, embedding::DOUBLE[] AS vec,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0),
            -- routing dots ROUNDed to 6 dp before ranking — mirrors the
            -- Spark kernel's _round6_half_away(dots) pre-argmax, so BLAS
            -- vs sequential-fold last-ulp drift can't flip a near-tied
            -- list assignment between the engines.
            assigned AS (
              SELECT vec_id, vec, nrm, cid AS list_id FROM (
                SELECT c.vec_id, c.vec, c.nrm, s.cid,
                       row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY ROUND(list_dot_product(c.vec, s.cv),
                                          6) DESC,
                                    s.cid) AS rn
                FROM corpus c, seeds s) WHERE rn = 1),
            probes AS (
              SELECT query_id, q_vec, q_nrm, cid AS list_id FROM (
                SELECT q.vec_id AS query_id, q.vec AS q_vec,
                       q.nrm AS q_nrm, s.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY ROUND(list_dot_product(q.vec, s.cv),
                                          6) DESC,
                                    s.cid) AS rn
                FROM corpus q, seeds s)
              WHERE rn <= 4),
            scored AS (
              SELECT p.query_id, a.vec_id,
                     ROUND(list_dot_product(p.q_vec, a.vec)
                           / (p.q_nrm * a.nrm), 6) AS cosine
              FROM probes p JOIN assigned a USING (list_id)
              WHERE p.query_id <> a.vec_id)
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT *, CAST(row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        # Twin of pq_topk with pq_seed_codebooks_portable: codebooks are
        # the 16 smallest-(md5(id), id) non-zero vectors sliced into 4
        # subspaces of 16 dims; encode/ADC scores factor through
        # sequential-fold dots as <c,c> - 2<x_m,c> (the ||x_m||^2 term is
        # constant per argmin/per query and dropped on BOTH sides); the
        # ADC sum is the explicit 0.0-seeded left fold; rerank is the
        # exact cosine. m=4, n_codes=16, rerank=50, k=10, queries
        # vec_id < 5.
        "ann_pq": """
            WITH seeds AS (
              SELECT CAST(row_number() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                         - 1 AS INTEGER) AS cid,
                     embedding::DOUBLE[] AS cv
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
              QUALIFY row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
            corpus AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings),
            subs AS (SELECT UNNEST(range(4)) AS m),
            escore AS (
              SELECT c.vec_id, s.m, sd.cid,
                     list_dot_product(sd.cv[s.m*16+1 : s.m*16+16],
                                      sd.cv[s.m*16+1 : s.m*16+16])
                     - 2 * list_dot_product(c.vec[s.m*16+1 : s.m*16+16],
                                            sd.cv[s.m*16+1 : s.m*16+16])
                       AS score
              FROM corpus c CROSS JOIN subs s CROSS JOIN seeds sd),
            codes AS (
              SELECT vec_id,
                     MAX(CASE WHEN m = 0 THEN code END) AS c0,
                     MAX(CASE WHEN m = 1 THEN code END) AS c1,
                     MAX(CASE WHEN m = 2 THEN code END) AS c2,
                     MAX(CASE WHEN m = 3 THEN code END) AS c3
              FROM (
                SELECT vec_id, m, cid AS code FROM (
                  SELECT *, row_number() OVER (
                      PARTITION BY vec_id, m ORDER BY score, cid) AS rn
                  FROM escore) WHERE rn = 1)
              GROUP BY vec_id),
            qtab AS (
              SELECT q.vec_id AS query_id, s.m, sd.cid,
                     list_dot_product(sd.cv[s.m*16+1 : s.m*16+16],
                                      sd.cv[s.m*16+1 : s.m*16+16])
                     - 2 * list_dot_product(q.vec[s.m*16+1 : s.m*16+16],
                                            sd.cv[s.m*16+1 : s.m*16+16])
                       AS d
              FROM corpus q CROSS JOIN subs s CROSS JOIN seeds sd
              WHERE q.vec_id < 5),
            adc AS (
              SELECT q0.query_id, cd.vec_id,
                     ROUND((((0.0 + q0.d) + q1.d) + q2.d) + q3.d, 6)
                         AS approx
              FROM codes cd
              JOIN qtab q0 ON q0.m = 0 AND q0.cid = cd.c0
              JOIN qtab q1 ON q1.m = 1 AND q1.cid = cd.c1
                          AND q1.query_id = q0.query_id
              JOIN qtab q2 ON q2.m = 2 AND q2.cid = cd.c2
                          AND q2.query_id = q0.query_id
              JOIN qtab q3 ON q3.m = 3 AND q3.cid = cd.c3
                          AND q3.query_id = q0.query_id),
            cand AS (
              SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY approx, vec_id) AS rn
                FROM adc) WHERE rn <= 50),
            scored AS (
              SELECT cd.query_id, cd.vec_id,
                     ROUND(list_dot_product(q.vec, c.vec)
                           / (q.nrm * c.nrm), 6) AS cosine
              FROM cand cd
              JOIN corpus c ON c.vec_id = cd.vec_id
              JOIN corpus q ON q.vec_id = cd.query_id)
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT *, CAST(row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 10
        """,
        # Twin of ivfpq_topk with portable seeds for BOTH quantizers:
        # IVF centroids = the 16 smallest-(md5(id), id) non-zero
        # vectors L2-normalized (same CTE as ann_ivf), PQ codebooks =
        # the same picks raw, sliced 4x16 (same CTEs as ann_pq). ADC
        # candidates are restricted to each query's 4 probed lists;
        # the ADC sum keeps the explicit 0.0-seeded left-fold
        # parenthesization; rerank 50, k 10, queries vec_id < 5.
        "ann_ivfpq": """
            WITH pseeds AS (
              SELECT CAST(row_number() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                         - 1 AS INTEGER) AS cid,
                     embedding::DOUBLE[] AS cv
              FROM embeddings
              WHERE list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) > 0
              QUALIFY row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 16),
            cents AS (
              SELECT cid, list_transform(cv,
                         x -> x / sqrt(list_dot_product(cv, cv))) AS cv
              FROM pseeds),
            corpus AS (
              SELECT vec_id, embedding::DOUBLE[] AS vec,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS nrm
              FROM embeddings),
            assigned AS (
              SELECT vec_id, cid AS list_id FROM (
                SELECT c.vec_id, s.cid,
                       row_number() OVER (PARTITION BY c.vec_id
                           ORDER BY list_dot_product(c.vec, s.cv) DESC,
                                    s.cid) AS rn
                FROM corpus c, cents s) WHERE rn = 1),
            probes AS (
              SELECT query_id, cid AS list_id FROM (
                SELECT q.vec_id AS query_id, s.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.vec, s.cv) DESC,
                                    s.cid) AS rn
                FROM corpus q, cents s WHERE q.vec_id < 5)
              WHERE rn <= 4),
            subs AS (SELECT UNNEST(range(4)) AS m),
            escore AS (
              SELECT c.vec_id, s.m, sd.cid,
                     list_dot_product(sd.cv[s.m*16+1 : s.m*16+16],
                                      sd.cv[s.m*16+1 : s.m*16+16])
                     - 2 * list_dot_product(c.vec[s.m*16+1 : s.m*16+16],
                                            sd.cv[s.m*16+1 : s.m*16+16])
                       AS score
              FROM corpus c CROSS JOIN subs s CROSS JOIN pseeds sd),
            codes AS (
              SELECT vec_id,
                     MAX(CASE WHEN m = 0 THEN code END) AS c0,
                     MAX(CASE WHEN m = 1 THEN code END) AS c1,
                     MAX(CASE WHEN m = 2 THEN code END) AS c2,
                     MAX(CASE WHEN m = 3 THEN code END) AS c3
              FROM (
                SELECT vec_id, m, cid AS code FROM (
                  SELECT *, row_number() OVER (
                      PARTITION BY vec_id, m ORDER BY score, cid) AS rn
                  FROM escore) WHERE rn = 1)
              GROUP BY vec_id),
            qtab AS (
              SELECT q.vec_id AS query_id, s.m, sd.cid,
                     list_dot_product(sd.cv[s.m*16+1 : s.m*16+16],
                                      sd.cv[s.m*16+1 : s.m*16+16])
                     - 2 * list_dot_product(q.vec[s.m*16+1 : s.m*16+16],
                                            sd.cv[s.m*16+1 : s.m*16+16])
                       AS d
              FROM corpus q CROSS JOIN subs s CROSS JOIN pseeds sd
              WHERE q.vec_id < 5),
            adc AS (
              SELECT q0.query_id, cd.vec_id,
                     ROUND((((0.0 + q0.d) + q1.d) + q2.d) + q3.d, 6)
                         AS approx
              FROM codes cd
              JOIN assigned a ON a.vec_id = cd.vec_id
              JOIN probes p ON p.list_id = a.list_id
              JOIN qtab q0 ON q0.query_id = p.query_id
                          AND q0.m = 0 AND q0.cid = cd.c0
              JOIN qtab q1 ON q1.m = 1 AND q1.cid = cd.c1
                          AND q1.query_id = p.query_id
              JOIN qtab q2 ON q2.m = 2 AND q2.cid = cd.c2
                          AND q2.query_id = p.query_id
              JOIN qtab q3 ON q3.m = 3 AND q3.cid = cd.c3
                          AND q3.query_id = p.query_id),
            cand AS (
              SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY approx, vec_id) AS rn
                FROM adc) WHERE rn <= 50),
            scored AS (
              SELECT cd.query_id, cd.vec_id,
                     ROUND(list_dot_product(q.vec, c.vec)
                           / (q.nrm * c.nrm), 6) AS cosine
              FROM cand cd
              JOIN corpus c ON c.vec_id = cd.vec_id
              JOIN corpus q ON q.vec_id = cd.query_id)
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT *, CAST(row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
              FROM scored)
            WHERE rank <= 10
        """,
        # Tokenizer contract (functions/text.py): lowercase, whitespace
        # split, empties dropped. Marker lists mirror text_analysis.MARKERS.
        "lang_confusion": """
            WITH scored AS (
              SELECT lang,
                     regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') AS has_cjk,
                     len(regexp_extract_all(lower(text),
                       '\\b(?:the|a|is|and|of|to|in|that|it|for)\\b')) AS en,
                     len(regexp_extract_all(lower(text),
                       '\\b(?:der|die|das|und|ist|nicht|mit|ein|zu|den)\\b'))
                       AS de,
                     len(regexp_extract_all(lower(text),
                       '\\b(?:el|los|que|y|un|es|por|una|con|para)\\b')) AS es,
                     len(regexp_extract_all(lower(text),
                       '\\b(?:le|les|et|est|une|dans|pour|vous|nous|sur)\\b'))
                       AS fr
              FROM documents
            ), pred AS (
              SELECT lang,
                     CASE WHEN has_cjk THEN 'zh'
                          WHEN en = 0 AND de = 0 AND es = 0 AND fr = 0
                               THEN 'und'
                          WHEN en >= de AND en >= es AND en >= fr THEN 'en'
                          WHEN de >= es AND de >= fr THEN 'de'
                          WHEN es >= fr THEN 'es'
                          ELSE 'fr' END AS pred_lang
              FROM scored)
            SELECT lang, pred_lang, COUNT(*) AS n_docs
            FROM pred GROUP BY lang, pred_lang
        """,
        "token_stats": """
            WITH toks AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents)
            SELECT doc_id,
                   CAST(len(tk) AS INTEGER) AS n_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars,
                   CASE WHEN len(tk) > 0 THEN
                        ROUND(CAST(list_sum(list_transform(tk,
                                   t -> length(t))) AS DOUBLE) / len(tk), 6)
                   END AS avg_token_len
            FROM toks
        """,
        "quality_score": """
            WITH toks AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ), comp AS (
              SELECT doc_id,
                     CAST(len(tk) AS INTEGER) AS n_tokens,
                     least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
                         AS length_score,
                     CASE WHEN len(tk) > 0 THEN
                          CAST(len(list_filter(tk, t -> list_contains(
                            ['the','a','is','and','of','to','in','that','it',
                             'for'], t))) AS DOUBLE) / len(tk) END
                         AS stopword_ratio,
                     CASE WHEN length(text) > 0 THEN
                          CAST(len(regexp_extract_all(text, '[.,;:!?]'))
                               AS DOUBLE) / length(text) END AS punct_ratio
              FROM toks)
            SELECT doc_id, n_tokens,
                   ROUND(length_score, 6) AS length_score,
                   ROUND(stopword_ratio, 6) AS stopword_ratio,
                   ROUND(punct_ratio, 6) AS punct_ratio,
                   ROUND(0.5 * length_score
                         + 0.3 * least(COALESCE(stopword_ratio, 0.0) * 5.0,
                                       1.0)
                         + 0.2 * least(COALESCE(punct_ratio, 0.0) * 20.0,
                                       1.0), 6) AS quality_score
            FROM comp
        """,
        # Twin of sampling.weighted_sample over the rounded quality
        # score: identical md5-uniform (first 8 md5 hex chars mod 1e6)
        # and identical clamped FLOOR threshold.
        "importance_resample": """
            WITH toks AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ), comp AS (
              SELECT doc_id,
                     least(CAST(len(tk) AS DOUBLE) / 100.0, 1.0)
                         AS length_score,
                     CASE WHEN len(tk) > 0 THEN
                          CAST(len(list_filter(tk, t -> list_contains(
                            ['the','a','is','and','of','to','in','that','it',
                             'for'], t))) AS DOUBLE) / len(tk) END
                         AS stopword_ratio,
                     CASE WHEN length(text) > 0 THEN
                          CAST(len(regexp_extract_all(text, '[.,;:!?]'))
                               AS DOUBLE) / length(text) END AS punct_ratio
              FROM toks)
            SELECT doc_id,
                   ROUND(0.5 * length_score
                         + 0.3 * least(COALESCE(stopword_ratio, 0.0) * 5.0,
                                       1.0)
                         + 0.2 * least(COALESCE(punct_ratio, 0.0) * 20.0,
                                       1.0), 6) AS quality_score
            FROM comp
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % 1000000
                  < FLOOR(least(greatest(
                        ROUND(0.5 * length_score
                              + 0.3 * least(COALESCE(stopword_ratio, 0.0)
                                            * 5.0, 1.0)
                              + 0.2 * least(COALESCE(punct_ratio, 0.0)
                                            * 20.0, 1.0), 6) * 1.2,
                        0.0), 1.0) * 1000000)
        """,
        "fingerprint_dedup": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents)
            SELECT md5(array_to_string(tk, ' ')) AS fingerprint,
                   MIN(doc_id) AS doc_id,
                   COUNT(*) AS n_copies
            FROM toks
            GROUP BY 1
        """,
        # Regexp-parity twin (java.util.regex vs RE2) on injected PII.
        "pii_stats": _pii_oracle_sql(),
        # Same tokenizer/shingle contract as the dedup oracles (n=2).
        # Docs with < 2 tokens yield no bigrams and are absent from both.
        "repetition_stats": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ), sh AS (
              SELECT doc_id, sg
              FROM toks,
                   UNNEST(list_transform(range(1, greatest(len(tk)-1, 0) + 1),
                                         i -> array_to_string(tk[i:i+1], ' ')))
                     AS u(sg)
            ), per AS (
              SELECT doc_id, sg, COUNT(*) AS cnt
              FROM sh GROUP BY doc_id, sg)
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
                   COUNT(*) AS n_distinct,
                   ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6)
                       AS dup_ngram_frac,
                   ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6)
                       AS top_ngram_frac
            FROM per GROUP BY doc_id
        """,
        # Same tokenizer/shingle contract as the dedup oracles; benchmark
        # slice = doc_id % 20 == 0, corpus = the rest.
        "contamination_check": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, sg
              FROM toks,
                   UNNEST(list_transform(range(1, greatest(len(tk)-2, 0) + 1),
                                         i -> array_to_string(tk[i:i+2], ' ')))
                     AS u(sg)
            ), bench AS (
              SELECT DISTINCT sg FROM sh WHERE doc_id % 20 = 0
            ), corpus AS (
              SELECT doc_id, sg FROM sh WHERE doc_id % 20 <> 0
            ), totals AS (
              SELECT doc_id, count(*) AS n_ngrams FROM corpus GROUP BY doc_id
            ), hits AS (
              SELECT c.doc_id, count(*) AS n_hits
              FROM corpus c JOIN bench b ON c.sg = b.sg
              GROUP BY c.doc_id
            )
            SELECT t.doc_id, t.n_ngrams,
                   coalesce(h.n_hits, 0) AS n_hits,
                   ROUND(coalesce(h.n_hits, 0)::DOUBLE / t.n_ngrams, 6)
                     AS contamination
            FROM totals t LEFT JOIN hits h ON h.doc_id = t.doc_id
        """,
        # Same md5 hash-bucket idiom as dataset_split, per-stratum
        # thresholds via CASE.
        "stratified_sample": """
            WITH b AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 1000000 AS bkt
              FROM documents)
            SELECT doc_id, lang
            FROM b
            WHERE bkt < CASE lang WHEN 'en' THEN 250000
                                  WHEN 'de' THEN 1000000
                                  WHEN 'fr' THEN 1000000
                                  WHEN 'es' THEN 500000
                                  ELSE 100000 END
        """,
        # Bit-exact split reproduction: Spark conv(substr(md5,1,8),16,10)
        # == DuckDB ('0x'||substr(md5,1,8))::BIGINT (verified identical).
        "dataset_split": """
            WITH b AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       AS h
              FROM documents)
            SELECT doc_id,
                   CASE WHEN h % 100 < 80 THEN 'train'
                        WHEN h % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
            WHERE h % 1000000 < 250000
        """,
        "pivot_qty": """
            SELECT l_returnflag,
                   ROUND(SUM(CASE WHEN l_linestatus = 'O'
                                  THEN l_quantity END), 6) AS qty_O,
                   ROUND(SUM(CASE WHEN l_linestatus = 'F'
                                  THEN l_quantity END), 6) AS qty_F
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "melt_measures": """
            WITH a AS (
              SELECT l_returnflag,
                     ROUND(SUM(l_quantity), 6) AS qty,
                     ROUND(SUM(l_extendedprice), 6) AS price
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, 'qty' AS measure, qty AS val FROM a
            UNION ALL
            SELECT l_returnflag, 'price' AS measure, price AS val FROM a
        """,
        "cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 6) AS sum_qty,
                   COUNT(*) AS n_items
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "grouped_percentiles": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
                   ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
            FROM lineitem
            GROUP BY l_returnflag
        """,
        # Twin of the GK-sketch mode at accuracy >= group size: the
        # uncompressed sketch returns the exact RANK statistic, i.e.
        # quantile_disc (an actual element), not the interpolated
        # quantile_cont of the exact mode.
        "grouped_percentiles_approx": """
            SELECT l_returnflag,
                   ROUND(quantile_disc(l_extendedprice, 0.50), 6) AS p50,
                   ROUND(quantile_disc(l_extendedprice, 0.95), 6) AS p95
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "distinct_parts": """
            SELECT l_returnflag,
                   COUNT(DISTINCT l_partkey) AS n_distinct_l_partkey
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "sessionize_users": """
            WITH e AS (
              SELECT user_id, ts, floor(epoch(ts)) AS ep FROM events
            ), flagged AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ep) OVER w IS NULL
                               OR ep - lag(ep) OVER w > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
              SELECT user_id, ts,
                     SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   COUNT(*) AS n_events
            FROM sess GROUP BY user_id, session_id
        """,
        "asof_last_purchase": """
            SELECT e.event_id, e.user_id, e.ts, e.value,
                   p.ts AS asof_ts, p.value AS asof_value
            FROM (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'error') e
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') p
              ON e.user_id = p.user_id AND p.ts <= e.ts
        """,
        "tpch_q1_sql": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 6) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 6) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 6)
                       AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_extendedprice), 6) AS avg_price,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "grouping_sets_sql": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
                   ROUND(SUM(l_quantity), 6) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        "user_interarrival": """
            WITH lagged AS (
              SELECT user_id,
                     floor(epoch(ts)) AS ep,
                     lag(floor(epoch(ts))) OVER (PARTITION BY user_id
                                                 ORDER BY ts) AS prev_ep
              FROM events)
            SELECT user_id,
                   ROUND(AVG((ep - prev_ep) / 60.0), 6) AS avg_gap_min,
                   COUNT(prev_ep) AS n_gaps
            FROM lagged
            GROUP BY user_id
        """,
        "scd2_versions": """
            SELECT o_custkey, o_orderkey, o_totalprice,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER w AS valid_to,
                   lead(o_orderdate) OVER w IS NULL AS is_current
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """,
        "range_join_recent": """
            SELECT e.user_id, e.event_id AS error_id, e.ts AS error_ts,
                   p.event_id AS purchase_id, p.ts AS purchase_ts
            FROM events e JOIN events p
              ON e.user_id = p.user_id
             AND p.ts <= e.ts
             AND p.ts >= e.ts - INTERVAL 10 MINUTE
            WHERE e.event_type = 'error' AND p.event_type = 'purchase'
        """,
        "profile_lineitem": """
            SELECT 'l_quantity' AS "column", COUNT(*) AS n,
                   CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   COUNT(DISTINCT l_quantity) AS n_distinct,
                   ROUND(CAST(MIN(l_quantity) AS DOUBLE), 6) + 0.0 AS min_value,
                   ROUND(CAST(MAX(l_quantity) AS DOUBLE), 6) + 0.0 AS max_value,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) / COUNT(l_quantity), 6) + 0.0 AS mean_value
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice' AS "column", COUNT(*) AS n,
                   CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   COUNT(DISTINCT l_extendedprice) AS n_distinct,
                   ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 6) + 0.0 AS min_value,
                   ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 6) + 0.0 AS max_value,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) / COUNT(l_extendedprice), 6) + 0.0 AS mean_value
            FROM lineitem
            UNION ALL
            SELECT 'l_discount' AS "column", COUNT(*) AS n,
                   CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   COUNT(DISTINCT l_discount) AS n_distinct,
                   ROUND(CAST(MIN(l_discount) AS DOUBLE), 6) + 0.0 AS min_value,
                   ROUND(CAST(MAX(l_discount) AS DOUBLE), 6) + 0.0 AS max_value,
                   ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE) / COUNT(l_discount), 6) + 0.0 AS mean_value
            FROM lineitem
            UNION ALL
            SELECT 'l_tax' AS "column", COUNT(*) AS n,
                   CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   COUNT(DISTINCT l_tax) AS n_distinct,
                   ROUND(CAST(MIN(l_tax) AS DOUBLE), 6) + 0.0 AS min_value,
                   ROUND(CAST(MAX(l_tax) AS DOUBLE), 6) + 0.0 AS max_value,
                   ROUND(CAST(SUM(CAST(l_tax AS DECIMAL(38,10))) AS DOUBLE) / COUNT(l_tax), 6) + 0.0 AS mean_value
            FROM lineitem
        """,
        # Twin of packing.chunk_documents: same token lists, starts
        # every 24 tokens (32-token chunks, 8 overlap), DuckDB 1-based
        # inclusive list slices clamped with LEAST.
        "chunk_documents": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 x -> x <> '') AS tk
              FROM documents),
            n AS (
              SELECT doc_id, tk, len(tk) AS n
              FROM t WHERE len(tk) > 0)
            SELECT doc_id,
                   CAST(i.i AS INTEGER) AS chunk_id,
                   CAST(LEAST(32, n - i.i * 24) AS INTEGER) AS n_tokens,
                   array_to_string(
                       tk[i.i * 24 + 1 : LEAST(i.i * 24 + 32, n)],
                       ' ') AS chunk_text
            FROM n, LATERAL (
              SELECT unnest(generate_series(0, (n - 1) // 24)) AS i) i
        """,
        # Twin of functions.text.strip_html over the same synthesized
        # markup: identical RE2 patterns, DuckDB's 'g' flag standing in
        # for Java's replace-all default.
        "html_strip": """
            WITH wrapped AS (
              SELECT doc_id,
                     '<html><head><style>body{margin:' || doc_id ||
                     'px}</style></head><body><h1>Doc ' || doc_id ||
                     '</h1>' || chr(10) || '<p>' || text ||
                     ' &amp; more</p><script>var id=' || doc_id ||
                     ';</script><!-- crawl --></body></html>' AS h
              FROM documents)
            SELECT doc_id,
                   trim(regexp_replace(
                     regexp_replace(
                      regexp_replace(
                       regexp_replace(
                        regexp_replace(
                         regexp_replace(
                          regexp_replace(
                           regexp_replace(
                            regexp_replace(
                             regexp_replace(
                              regexp_replace(h,
                                '(?is)<script[^>]*>.*?</script\\s*>',
                                ' ', 'g'),
                              '(?is)<style[^>]*>.*?</style\\s*>',
                              ' ', 'g'),
                             '(?s)<!--.*?-->', ' ', 'g'),
                            '(?s)<[^>]*>', ' ', 'g'),
                           '&nbsp;', ' ', 'g'),
                          '&amp;', '&', 'g'),
                         '&lt;', '<', 'g'),
                        '&gt;', '>', 'g'),
                       '&quot;', '"', 'g'),
                      '&#39;', '''', 'g'),
                     '[ \\t\\r\\n]+', ' ', 'g')) AS clean_text
            FROM wrapped
        """,
        # Twin of functions.url.url_features over the same synthesized
        # URLs: identical RE2 patterns and empty-match conventions.
        "url_features": """
            WITH u AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 2 = 0 THEN 'https'
                           ELSE 'http' END) ||
                     '://www.' || source || '.example.com' ||
                     repeat('/seg', CAST(doc_id % 3 AS INTEGER)) ||
                     (CASE WHEN doc_id % 2 = 1 THEN '?a=1&b=2'
                           ELSE '' END) AS url
              FROM documents),
            x AS (
              SELECT doc_id, url,
                     regexp_extract(url, '^([a-z][a-z0-9+.-]*):', 1)
                         AS scheme,
                     regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://([^/?#@]*@)?([^/?#:]*)', 2)
                         AS host,
                     regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                         AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM u)
            SELECT doc_id, scheme, host,
                   regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
                   CAST(len(list_filter(string_split(path, '/'),
                                        s -> s <> '')) AS INTEGER)
                       AS path_depth,
                   CAST(CASE WHEN query = '' THEN 0
                        ELSE len(string_split(query, '&')) END
                        AS INTEGER) AS n_params,
                   scheme = 'https' AS is_https
            FROM x
        """,
        # Twin of packing.pretokenized_sequences: same tokens contract,
        # vocabulary ids by row_number over (count DESC, token) — equal
        # to the Spark side's distributed prefix-count rank — doc
        # offsets by the running sum, sequences by integer division,
        # digests over the comma-joined ids in stream order.
        "pretokenize_export": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
            pos AS (
              SELECT doc_id, tk[i] AS tok,
                     CAST(i - 1 AS BIGINT) AS pos
              FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)),
            vid AS (
              SELECT tok,
                     CAST(row_number() OVER (ORDER BY COUNT(*) DESC,
                                             tok) - 1 AS INTEGER) AS tid
              FROM pos GROUP BY tok),
            off AS (
              SELECT doc_id,
                     CAST(SUM(len(tk)) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - len(tk)
                          AS BIGINT) AS start_global
              FROM toks),
            g AS (
              SELECT o.start_global + p.pos AS gpos, v.tid
              FROM pos p JOIN vid v USING (tok)
                         JOIN off o USING (doc_id))
            SELECT CAST(gpos // 256 AS BIGINT) AS seq_id,
                   COUNT(*) AS n_ids,
                   md5(string_agg(CAST(tid AS VARCHAR), ','
                                  ORDER BY gpos)) AS ids_md5
            FROM g GROUP BY 1
        """,
        "pack_sequences": """
            WITH toks AS (
              SELECT doc_id,
                     CAST(len(list_filter(
                         string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t <> '')) AS INTEGER) AS n_tokens
              FROM documents),
            pre AS (
              SELECT doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - n_tokens
                          AS BIGINT) AS start_global
              FROM toks)
            SELECT doc_id, n_tokens, start_global,
                   CAST(start_global // 256 AS BIGINT) AS seq_id,
                   CAST(start_global % 256 AS BIGINT) AS seq_offset
            FROM pre
        """,
        "doc_spans": """
            WITH toks AS (
              SELECT doc_id,
                     CAST(len(list_filter(
                         string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t <> '')) AS INTEGER) AS n_tokens
              FROM documents),
            pre AS (
              SELECT doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - n_tokens
                          AS BIGINT) AS start_global
              FROM toks),
            spans AS (
              SELECT doc_id, start_global, n_tokens,
                     unnest(generate_series(start_global // 256,
                            (start_global + n_tokens - 1) // 256))
                       AS seq_id
              FROM pre WHERE n_tokens > 0)
            SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
                   CAST(GREATEST(0, seq_id * 256 - start_global)
                        AS BIGINT) AS span_start,
                   CAST(LEAST(CAST(n_tokens AS BIGINT),
                              (seq_id + 1) * 256 - start_global)
                        - GREATEST(0, seq_id * 256 - start_global)
                        AS BIGINT) AS span_len
            FROM spans
        """,
        # Twin of multimodal.image_resize (factor=2) over the 8x4
        # synthetic PNGs: output pixel (out index o in 0..23 encoding
        # (Y, X, channel)) = floor-mean of its 2x2 source block, source
        # byte idx = ((2Y+dy)*8 + 2X+dx)*3 + c, value = (doc_id*31 +
        # idx) % 256 — all-integer until the final /24 of an exact sum.
        "image_resize_png": """
            WITH op AS (SELECT unnest(generate_series(0, 23)) AS o),
            box(dy, dx) AS (VALUES (0, 0), (0, 1), (1, 0), (1, 1)),
            px AS (
              SELECT d.doc_id, op.o,
                     SUM((d.doc_id * 31
                          + ((2 * (op.o // 3 // 4) + b.dy) * 8
                             + 2 * ((op.o // 3) % 4) + b.dx) * 3
                          + op.o % 3) % 256) // 4 AS v
              FROM documents d, op, box b
              GROUP BY d.doc_id, op.o)
            SELECT doc_id AS asset_id,
                   CAST(4 AS INTEGER) AS width,
                   CAST(2 AS INTEGER) AS height,
                   CAST(SUM(v) AS DOUBLE) / 24 AS mean_intensity
            FROM px GROUP BY doc_id
        """,
        # Twin of temporal.ewma (window=8, alpha=1/2): same rounded
        # daily base, same 8 lag terms in the same left-assoc fold
        # (power-of-two weights are exact scalings, so num/den are
        # bit-equal pre-round).
        "ewma_daily": f"""
            WITH d AS (
              SELECT event_type,
                     CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     ROUND(SUM(value), 6) + 0.0 AS daily_total
              FROM events GROUP BY event_type, date_trunc('day', ts))
            SELECT event_type, day, daily_total,
                   CASE WHEN den > 0
                        THEN ROUND(num / den, 6) + 0.0 END AS ewma
            FROM (
              SELECT event_type, day, daily_total,
                     {_ewma_oracle_terms(8)[0]} AS num,
                     {_ewma_oracle_terms(8)[1]} AS den
              FROM d
              WINDOW w AS (PARTITION BY event_type ORDER BY day)) t
        """,
        # Twin of sampling.weighted_topk_sample (k=50, max_weight=64):
        # same clamped integer weights, same per-ticket md5 32-bit
        # hashes, same (min_ticket, id) ranking — all-integer
        # selection, no transcendentals anywhere.
        "weighted_corpus_sample": """
            WITH w AS (
              SELECT doc_id,
                     LEAST(GREATEST(n_chars // 64, 1), 64) AS weight
              FROM documents),
            tk AS (
              SELECT doc_id, weight,
                     unnest(generate_series(1, weight)) AS j
              FROM w),
            mn AS (
              SELECT doc_id, weight,
                     MIN(('0x' || substr(md5(doc_id::VARCHAR || '#'
                                             || j::VARCHAR), 1, 8))
                         ::BIGINT) AS min_ticket
              FROM tk GROUP BY doc_id, weight),
            rk AS (
              SELECT doc_id, weight, min_ticket,
                     CAST(row_number() OVER (ORDER BY min_ticket,
                                             doc_id) AS INTEGER)
                         AS sample_rank
              FROM mn)
            SELECT doc_id, weight, min_ticket, sample_rank
            FROM rk WHERE sample_rank <= 50
        """,
        # Twin of sketches.cms_counters + cms_lookup (w=1024, d=4):
        # identical portable base hash and minhash_constants (a, b)
        # universal family (literals below = minhash_constants(0..3)),
        # counter sums, min-over-rows point queries. ALL-INTEGER —
        # no rounding anywhere.
        "token_freq_cms": """
            WITH fam(r, a, b) AS (VALUES
                (0, 72005967, 4086432470),
                (1, 945923667, 2683588619),
                (2, 20015841, 3878556099),
                (3, 268080311, 1186136582)),
            tk AS (
              SELECT unnest(list_filter(
                         string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '')) AS tk
              FROM documents),
            h AS (
              SELECT ('0x' || substr(md5(tk), 1, 8))::BIGINT AS h
              FROM tk),
            cnt AS (
              SELECT r,
                     ((a * h + b) % 2305843009213693951) % 1024 AS c,
                     COUNT(*) AS cnt
              FROM h CROSS JOIN fam GROUP BY 1, 2),
            keys AS (
              SELECT unnest(['join', 'hash', 'customer', 'slow',
                             'zzz-absent']) AS key),
            kc AS (
              SELECT key, fam.r,
                     ((fam.a * ('0x' || substr(md5(key), 1, 8))::BIGINT
                       + fam.b) % 2305843009213693951) % 1024 AS c
              FROM keys CROSS JOIN fam)
            SELECT key, MIN(COALESCE(cnt.cnt, 0)) AS est_count
            FROM kc LEFT JOIN cnt ON cnt.r = kc.r AND cnt.c = kc.c
            GROUP BY key
        """,
        # Twin of sketches.kmv_sketch + kmv_overlap (k=64): same
        # bottom-k of portable hashes per group (row_number window),
        # merged bottom-k per pair, membership counts via unique
        # (g, h) left joins; identical-operand IEEE divisions, 6-dp
        # round + signed-zero normalization.
        "audience_overlap_kmv": """
            WITH h AS (
              SELECT DISTINCT event_type AS g,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                     1, 8))::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL),
            bk AS (
              SELECT g, h FROM (
                SELECT g, h,
                       row_number() OVER (PARTITION BY g ORDER BY h)
                           AS rn
                FROM h) t WHERE rn <= 64),
            pairs AS (
              SELECT a.g AS ga, b.g AS gb
              FROM (SELECT DISTINCT g FROM bk) a,
                   (SELECT DISTINCT g FROM bk) b
              WHERE a.g < b.g),
            mh AS (
              SELECT DISTINCT p.ga, p.gb, s.h
              FROM pairs p JOIN bk s ON s.g = p.ga OR s.g = p.gb),
            u AS (
              SELECT ga, gb, h FROM (
                SELECT ga, gb, h,
                       row_number() OVER (PARTITION BY ga, gb
                                          ORDER BY h) AS rn
                FROM mh) t WHERE rn <= 64),
            st AS (
              SELECT u.ga, u.gb, COUNT(*) AS ku, MAX(u.h) AS kth,
                     SUM(CASE WHEN sa.h IS NOT NULL
                                   AND sb.h IS NOT NULL
                              THEN 1 ELSE 0 END) AS x
              FROM u
              LEFT JOIN bk sa ON sa.g = u.ga AND sa.h = u.h
              LEFT JOIN bk sb ON sb.g = u.gb AND sb.h = u.h
              GROUP BY u.ga, u.gb),
            est AS (
              SELECT ga, gb, ku, x,
                     CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
                          ELSE CAST(63.0 AS DOUBLE)
                               * CAST(4294967296.0 AS DOUBLE)
                               / CAST(kth AS DOUBLE) END AS union_raw,
                     CAST(x AS DOUBLE) / CAST(ku AS DOUBLE) AS jac_raw
              FROM st)
            SELECT ga AS event_type_a, gb AS event_type_b,
                   CAST(ku AS INTEGER) AS k_used,
                   ROUND(union_raw, 6) + 0.0 AS union_est,
                   ROUND(jac_raw, 6) + 0.0 AS jaccard_est,
                   ROUND(jac_raw * union_raw, 6) + 0.0
                       AS intersection_est
            FROM est
        """,
        # Twin of sketches.hll_distinct (b=6, m=64, 32-bit hash):
        # identical portable hash, integer rho via bin(),
        # scaled-integer indicator sum, canonical alpha,
        # linear-counting correction — see _hll_oracle_sql.
        "distinct_users_hll": _hll_oracle_sql(b=6, hash_bits=32),
        "profile_lineitem_approx": _profile_hll_oracle_sql(
            "lineitem", ["l_quantity", "l_extendedprice", "l_discount",
                         "l_tax"], b=12),
        # Wide-hash twin (b=10, m=1024, 60-bit hash = 15 md5 hex
        # chars): the web-scale mode past the 32-bit ~1e8 ceiling.
        "distinct_users_hll_wide": _hll_oracle_sql(b=10, hash_bits=60),
        # Twin of text_analysis.normalize_text over deterministically
        # soiled documents; rule chain generated from NORMALIZE_RULES.
        "text_normalize": _text_normalize_oracle_sql(),
        # Twin of functions.url.url_dedup over synthesized URL variants;
        # regex patterns imported from functions.url.
        "url_dedup": _url_dedup_oracle_sql(),
        # Twin of text_analysis.ngram_novelty: same distinct 3-gram
        # table (tokens contract), gram document frequencies, per-doc
        # common-vs-distinct counts; short docs keep NULL stats.
        "ngram_novelty": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, sg
              FROM toks,
                   UNNEST(list_transform(range(1, greatest(len(tk)-2, 0) + 1),
                                         i -> array_to_string(tk[i:i+2], ' ')))
                     AS u(sg)
            ), dfreq AS (
              SELECT sg, COUNT(*) AS df FROM sh GROUP BY sg
            ), per AS (
              SELECT doc_id,
                     COUNT(*) AS n_distinct_ngrams,
                     CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_common
              FROM sh JOIN dfreq USING (sg) GROUP BY doc_id)
            SELECT d.doc_id, p.n_distinct_ngrams, p.n_common,
                   ROUND(1.0 - p.n_common::DOUBLE / p.n_distinct_ngrams,
                         6) + 0.0 AS novelty
            FROM documents d LEFT JOIN per p USING (doc_id)
        """,
        # Twin of text_analysis.char_entropy: per-(doc, char) run
        # counts via unnest, then the same integer-argument identity
        # H = log2(n) - sum(r*log2 r)/n, 6-dp round, + 0.0 signed-zero
        # normalization (one-char docs round to -0.0 on both engines).
        "char_entropy": """
            WITH r AS (
              SELECT doc_id, COUNT(*) AS run
              FROM (SELECT doc_id,
                           unnest(string_split(coalesce(text, ''), ''))
                               AS c
                    FROM documents) ch
              WHERE c <> ''
              GROUP BY doc_id, c),
            s AS (
              SELECT doc_id, SUM(run) AS n, COUNT(*) AS u,
                     SUM(run * log2(run)) AS sr
              FROM r GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(s.n, 0) AS INTEGER) AS n_chars,
                   CAST(COALESCE(s.u, 0) AS INTEGER) AS n_unique_chars,
                   CASE WHEN s.n > 0
                        THEN ROUND(log2(s.n) - s.sr / s.n, 6) + 0.0
                   END AS entropy
            FROM documents d LEFT JOIN s USING (doc_id)
        """,
        # Twin of text_analysis.blocklist_stats: same case-folded
        # whitespace tokens, exact-match count vs the literal list,
        # keep = unrounded ratio <= 0.02 (empty docs keep).
        "blocklist_stats": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 x -> x <> '') AS tk
              FROM documents),
            s AS (
              SELECT doc_id,
                     len(tk) AS n,
                     len(list_filter(tk, x -> list_contains(
                         ['error', 'null', 'slow'], x))) AS nb
              FROM t)
            SELECT doc_id,
                   CAST(n AS INTEGER) AS n_tokens,
                   CAST(nb AS INTEGER) AS n_blocked,
                   ROUND(CASE WHEN n > 0
                              THEN CAST(nb AS DOUBLE) / n END, 6)
                       AS blocked_ratio,
                   COALESCE(CASE WHEN n > 0
                                 THEN CAST(nb AS DOUBLE) / n END
                            <= 0.02, TRUE) AS keep
            FROM s
        """,
        # Twin of lines.substring_dedup (min_gram=8): same md5 gram
        # hashes over 1-based inclusive list slices, the same
        # (doc_id, pos)-ordered first-occurrence exemption, the same
        # running-max interval merge (touching spans merged: new
        # island only when s > max prior e), and the same
        # single-space reassembly of surviving tokens.
        "substring_dedup": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
            tok AS (
              SELECT doc_id, u.tok, CAST(u.pos AS INTEGER) AS pos
              FROM (
                SELECT doc_id,
                       unnest(list_transform(tk, (x, i) ->
                           struct_pack(pos := i - 1, tok := x))) AS u
                FROM toks)),
            grams AS (
              SELECT doc_id, CAST(p.p AS INTEGER) AS pos,
                     md5(array_to_string(tk[p.p + 1 : p.p + 8], ' '))
                         AS h
              FROM toks, LATERAL (
                SELECT unnest(generate_series(0, len(tk) - 8)) AS p) p
              WHERE len(tk) >= 8),
            occ AS (
              SELECT doc_id, pos,
                     COUNT(*) OVER (PARTITION BY h) AS c,
                     ROW_NUMBER() OVER (PARTITION BY h
                                        ORDER BY doc_id, pos) AS rn
              FROM grams),
            spans AS (
              SELECT doc_id, pos AS s, pos + 8 AS e
              FROM occ WHERE c >= 2 AND rn >= 2),
            isl AS (
              SELECT doc_id, s, e,
                     CASE WHEN MAX(e) OVER w IS NULL
                               OR s > MAX(e) OVER w
                          THEN 1 ELSE 0 END AS ni
              FROM spans
              WINDOW w AS (PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)),
            isl2 AS (
              SELECT *, SUM(ni) OVER (PARTITION BY doc_id
                                      ORDER BY s, e
                                      ROWS UNBOUNDED PRECEDING)
                        AS island
              FROM isl),
            merged AS (
              SELECT doc_id, MIN(s) AS s, MAX(e) AS e
              FROM isl2 GROUP BY doc_id, island),
            kept AS (
              SELECT t.doc_id, t.pos, t.tok FROM tok t
              WHERE NOT EXISTS (
                SELECT 1 FROM merged m
                WHERE m.doc_id = t.doc_id
                  AND t.pos >= m.s AND t.pos < m.e)),
            reb AS (
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY pos) AS text,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id),
            nt AS (SELECT doc_id, len(tk) AS n_tokens FROM toks)
            SELECT d.doc_id, COALESCE(r.text, '') AS text,
                   CAST(nt.n_tokens AS INTEGER) AS n_tokens,
                   CAST(nt.n_tokens - COALESCE(r.n_kept, 0) AS INTEGER)
                       AS n_tokens_removed
            FROM documents d
            JOIN nt USING (doc_id)
            LEFT JOIN reb r USING (doc_id)
        """,
        "line_dedup": """
            WITH lines AS (
              SELECT doc_id, u.pos, u.line FROM (
                SELECT doc_id,
                       unnest(list_transform(string_split(text, chr(10)),
                              (x, i) -> struct_pack(pos := i - 1,
                                                    line := x))) AS u
                FROM documents)),
            flagged AS (
              SELECT doc_id, pos, line,
                     (length(line) < 10) OR
                     (ROW_NUMBER() OVER (PARTITION BY md5(line)
                                         ORDER BY doc_id, pos) = 1)
                       AS keep
              FROM lines)
            SELECT doc_id,
                   COALESCE(string_agg(CASE WHEN keep THEN line END,
                                       chr(10) ORDER BY pos), '')
                     AS text,
                   CAST(COUNT(*) AS INTEGER) AS n_lines,
                   CAST(COUNT(*) - COUNT(CASE WHEN keep THEN 1 END)
                        AS INTEGER) AS n_lines_removed
            FROM flagged GROUP BY doc_id
        """,
        "vocab": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                         string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t <> '')) AS token
              FROM documents)
            SELECT token, CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
            FROM toks GROUP BY token HAVING COUNT(*) >= 5
        """,
        "pagerank": _pagerank_oracle_sql(iters=3, damping=0.85),
        "label_propagation": _lpa_oracle_sql(iters=2),
        "knn_communities": _lpa_oracle_sql(
            iters=2, graph_ctes=_KNN_COMMUNITY_GRAPH_CTES),
        "shortest_paths": _bfs_oracle_sql(iters=4),
        # Twin of the degree-ordered compact-forward triangle counter:
        # the id-ordered triple join is valid because per-node triangle
        # counts are independent of the enumeration order.
        "triangle_count": """
            WITH li AS (
              SELECT DISTINCT l_orderkey, l_partkey
              FROM lineitem WHERE l_quantity >= 45),
            e AS (
              SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
              FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                 AND a.l_partkey < b.l_partkey),
            tri AS (
              SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1 JOIN e e2 ON e2.u = e1.v
                        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
            x AS (
              SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
            SELECT node, COUNT(*) AS triangles FROM x GROUP BY node
        """,
        "dsir_weights": _dsir_oracle_sql(),
        "curation_flags": _curation_flags_oracle_sql(),
        "curate_corpus": _curate_corpus_oracle_sql(),
        "resample_hourly": """
            WITH c AS (
              SELECT event_type AS key,
                     CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                     COUNT(*) AS n_events,
                     ROUND(SUM(value), 6) AS sum_value
              FROM events GROUP BY 1, 2),
            b AS (SELECT CAST(min(date_trunc('hour', ts)) AS TIMESTAMP)
                             AS lo,
                         CAST(max(date_trunc('hour', ts)) AS TIMESTAMP)
                             AS hi
                  FROM events),
            grid AS (SELECT unnest(generate_series(
                         lo, hi, INTERVAL 1 HOUR)) AS bucket FROM b),
            keys AS (SELECT DISTINCT event_type AS key FROM events),
            dense AS (SELECT key, bucket FROM keys, grid)
            SELECT key AS event_type, dense.bucket,
                   COALESCE(n_events, 0) AS n_events, sum_value,
                   last_value(sum_value IGNORE NULLS) OVER (
                     PARTITION BY key ORDER BY dense.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sum_value_ffill
            FROM dense LEFT JOIN c USING (key, bucket)
        """,
        "kmeans_assign": _kmeans_assign_oracle_sql(k=8),
        "semantic_dedup": _semantic_dedup_oracle_sql(k=4, threshold=0.4),
        "semantic_dedup_auto": _semantic_dedup_auto_oracle_sql(
            target_cluster_size=100, threshold=0.4),
        "bm25_scores": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
             dls AS (SELECT doc_id, len(tk) AS dl, tk FROM base),
             stats AS (SELECT COUNT(*) AS n_docs,
                              ROUND(AVG(dl), 6) AS avgdl FROM dls),
             matched AS (
              SELECT doc_id, dl,
                     unnest(list_filter(
                         tk, t -> t IN ('join', 'vector', 'spark')))
                         AS term
              FROM dls),
             tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
                    FROM matched GROUP BY doc_id, term),
             dfreq AS (SELECT term, COUNT(*) AS doc_freq
                       FROM tf GROUP BY term),
             contrib AS (
              SELECT doc_id,
                     ROUND(ln(1.0 + (n_docs - doc_freq + 0.5)
                              / (doc_freq + 0.5))
                           * (tf * (1.2 + 1.0))
                           / (tf + 1.2 * (1.0 - 0.75
                                          + 0.75 * dl / avgdl)), 6) AS c
              FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
            SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms,
                   ROUND(SUM(c), 6) AS bm25
            FROM contrib GROUP BY doc_id
        """,
        # Twin of relevance.top_query_terms + bm25_multi + rrf_fuse
        # composed with the dense brute-force ranking: same term
        # derivation (3 longest distinct tokens per query doc), same
        # corpus-level doc_freq (computed BEFORE the query join), same
        # Σ 1/(60+rank) fusion and (rrf DESC, id) tie order.
        "rrf_fusion": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
             dls AS (SELECT doc_id, len(tk) AS dl, tk FROM base),
             stats AS (SELECT COUNT(*) AS n_docs,
                              ROUND(AVG(dl), 6) AS avgdl FROM dls),
             qt AS (
               SELECT query_id, term FROM (
                 SELECT doc_id AS query_id, term,
                        row_number() OVER (PARTITION BY doc_id
                            ORDER BY length(term) DESC, term) AS trn
                 FROM (SELECT DISTINCT doc_id, unnest(tk) AS term
                       FROM base WHERE doc_id < 5))
               WHERE trn <= 3),
             toks AS (SELECT doc_id, dl, unnest(tk) AS term FROM dls),
             tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
                    FROM toks WHERE term IN (SELECT term FROM qt)
                    GROUP BY doc_id, term),
             dfr AS (SELECT *, COUNT(*) OVER (PARTITION BY term)
                                AS doc_freq FROM tf),
             contrib AS (
               SELECT q.query_id, d.doc_id,
                      ROUND(ln(1.0 + (n_docs - doc_freq + 0.5)
                               / (doc_freq + 0.5))
                            * (tf * (1.2 + 1.0))
                            / (tf + 1.2 * (1.0 - 0.75
                                           + 0.75 * dl / avgdl)), 6) AS c
               FROM dfr d JOIN qt q USING (term) CROSS JOIN stats),
             lex AS (SELECT query_id, doc_id, ROUND(SUM(c), 6) AS bm25
                     FROM contrib GROUP BY query_id, doc_id),
             lexr AS (
               SELECT query_id, doc_id, rnk FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, doc_id) AS rnk
                 FROM lex) WHERE rnk <= 20),
             qv AS (SELECT vec_id AS query_id,
                           embedding::DOUBLE[] AS v
                    FROM embeddings WHERE vec_id < 5),
             cv AS (SELECT vec_id, embedding::DOUBLE[] AS v
                    FROM embeddings),
             denser AS (
               SELECT query_id, doc_id, rnk FROM (
                 SELECT q.query_id, c.vec_id AS doc_id,
                        row_number() OVER (PARTITION BY q.query_id
                          ORDER BY ROUND(list_dot_product(q.v, c.v)
                                   / (sqrt(list_dot_product(q.v, q.v))
                                    * sqrt(list_dot_product(c.v, c.v))),
                                   6) DESC, c.vec_id) AS rnk
                 FROM cv c, qv q) WHERE rnk <= 20),
             u AS (SELECT * FROM lexr UNION ALL SELECT * FROM denser),
             fused AS (
               SELECT query_id, doc_id,
                      CAST(COUNT(*) AS INTEGER) AS n_lists,
                      ROUND(SUM(1.0 / (60.0 + rnk)), 6) AS rrf
               FROM u GROUP BY query_id, doc_id)
            SELECT query_id, doc_id, n_lists, rrf, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
              FROM fused)
            WHERE rank <= 10
        """,
        # Twin of lm.lm_score_backoff(model = English docs, score =
        # all docs, alpha = 0.4): seen bigrams score raw relative
        # frequency c/ctx, unseen back off to 0.4*u(w2)/N with the
        # 0.4*1/N OOV floor; per-doc mean-log rounded 6 dp, ppl from
        # the rounded mean.
        "lm_backoff_scores": """
            WITH sbase AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
             sbg AS (
              SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i + 1])) AS bigram
              FROM sbase WHERE len(tk) >= 2),
             sbg2 AS (
              SELECT doc_id, bigram,
                     split_part(bigram, ' ', 1) AS w1,
                     split_part(bigram, ' ', 2) AS w2
              FROM sbg),
             mtok AS (
              SELECT unnest(tk) AS t FROM sbase WHERE lang = 'en'),
             n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tok FROM mtok),
             uni AS (SELECT t AS w2, COUNT(*) AS u FROM mtok GROUP BY t),
             mbg AS (
              SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i + 1])) AS bigram
              FROM sbase WHERE lang = 'en' AND len(tk) >= 2),
             bgc AS (SELECT bigram, COUNT(*) AS c FROM mbg GROUP BY bigram),
             ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c) AS ctx
                     FROM bgc GROUP BY 1),
             scored AS (
              SELECT s.doc_id,
                     CASE WHEN bgc.c IS NOT NULL
                          THEN ln(CAST(bgc.c AS DOUBLE) / ctx.ctx)
                          ELSE ln(0.4 * COALESCE(uni.u, 1) / n.n_tok)
                     END AS logs,
                     CASE WHEN bgc.c IS NULL THEN 1 ELSE 0 END AS bo
              FROM sbg2 s
              LEFT JOIN bgc USING (bigram)
              LEFT JOIN ctx ON s.w1 = ctx.w1
              LEFT JOIN uni ON s.w2 = uni.w2
              CROSS JOIN n)
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(bo) AS BIGINT) AS n_backoff,
                   ROUND(AVG(logs), 6) AS avg_logs,
                   ROUND(exp(-ROUND(AVG(logs), 6)), 6) AS ppl
            FROM scored GROUP BY doc_id
        """,
        "lm_perplexity": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
             bg AS (
              SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i + 1])) AS bigram
              FROM base WHERE len(tk) >= 2),
             bgc AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram),
             ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c) AS ctx
                     FROM bgc GROUP BY 1),
             vocab AS (SELECT COUNT(DISTINCT token) AS v FROM
                       (SELECT unnest(tk) AS token FROM base)),
             scored AS (
              SELECT doc_id, ln((c + 1.0) / (ctx + v)) AS logp
              FROM bg JOIN bgc USING (bigram)
                      JOIN ctx ON split_part(bg.bigram, ' ', 1) = ctx.w1
                      CROSS JOIN vocab)
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   ROUND(AVG(logp), 6) AS avg_logp,
                   ROUND(exp(-ROUND(AVG(logp), 6)), 6) AS ppl
            FROM scored GROUP BY doc_id
        """,
        # Twins of lm.perplexity_buckets / sampling.curriculum_order:
        # the lm_perplexity pipeline + exact tertile thresholds
        # (quantile_cont == F.percentile), then for curriculum the
        # (tertile, md5-48, id) total order as one ranking — equal by
        # construction to Spark's packed-key distributed prefix sum.
        "perplexity_buckets": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
             bg AS (
              SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i + 1])) AS bigram
              FROM base WHERE len(tk) >= 2),
             bgc AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram),
             ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c) AS ctx
                     FROM bgc GROUP BY 1),
             vocab AS (SELECT COUNT(DISTINCT token) AS v FROM
                       (SELECT unnest(tk) AS token FROM base)),
             lp AS (
              SELECT doc_id, ln((c + 1.0) / (ctx + v)) AS logp
              FROM bg JOIN bgc USING (bigram)
                      JOIN ctx ON split_part(bg.bigram, ' ', 1) = ctx.w1
                      CROSS JOIN vocab),
             ppls AS (
              SELECT doc_id, COUNT(*) AS n_bigrams,
                     ROUND(exp(-ROUND(AVG(logp), 6)), 6) AS ppl
              FROM lp GROUP BY doc_id),
             bounds AS (
              SELECT ROUND(quantile_cont(ppl, 1.0::DOUBLE / 3), 6) AS q1,
                     ROUND(quantile_cont(ppl, 2.0::DOUBLE / 3), 6) AS q2
              FROM ppls)
            SELECT doc_id, n_bigrams, ppl,
                   CAST(CASE WHEN ppl <= q1 THEN 0
                             WHEN ppl <= q2 THEN 1
                             ELSE 2 END AS INTEGER) AS bucket_idx,
                   CASE WHEN ppl <= q1 THEN 'head'
                        WHEN ppl <= q2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ppls CROSS JOIN bounds
        """,
        "curriculum_order": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
             bg AS (
              SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i + 1])) AS bigram
              FROM base WHERE len(tk) >= 2),
             bgc AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram),
             ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, SUM(c) AS ctx
                     FROM bgc GROUP BY 1),
             vocab AS (SELECT COUNT(DISTINCT token) AS v FROM
                       (SELECT unnest(tk) AS token FROM base)),
             lp AS (
              SELECT doc_id, ln((c + 1.0) / (ctx + v)) AS logp
              FROM bg JOIN bgc USING (bigram)
                      JOIN ctx ON split_part(bg.bigram, ' ', 1) = ctx.w1
                      CROSS JOIN vocab),
             ppls AS (
              SELECT doc_id,
                     ROUND(exp(-ROUND(AVG(logp), 6)), 6) AS ppl
              FROM lp GROUP BY doc_id),
             bounds AS (
              SELECT ROUND(quantile_cont(ppl, 1.0::DOUBLE / 3), 6) AS q1,
                     ROUND(quantile_cont(ppl, 2.0::DOUBLE / 3), 6) AS q2
              FROM ppls),
             lab AS (
              SELECT doc_id, ppl,
                     CASE WHEN ppl <= q1 THEN 0
                          WHEN ppl <= q2 THEN 1 ELSE 2 END AS bidx,
                     CASE WHEN ppl <= q1 THEN 'head'
                          WHEN ppl <= q2 THEN 'middle'
                          ELSE 'tail' END AS bucket,
                     ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
                         AS h
              FROM ppls CROSS JOIN bounds)
            SELECT doc_id, ppl, bucket,
                   CAST(row_number() OVER (ORDER BY bidx, h, doc_id)
                        AS BIGINT) AS pos
            FROM lab
        """,
        "heavy_hitters": """
            WITH t AS (SELECT COUNT(*) AS total FROM events),
            c AS (SELECT user_id AS value, COUNT(*) AS n
                  FROM events GROUP BY 1)
            SELECT value, n, ROUND(n::DOUBLE / total, 6) AS share
            FROM c, t WHERE n >= total * 0.0005
        """,
        "keep_latest": """
            SELECT user_id, event_type, ts, event_id, value FROM (
              SELECT user_id, event_type, ts, event_id, value,
                     ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1
        """,
        "incremental_dedup": """
            WITH fp AS (
              SELECT doc_id, text,
                     md5(array_to_string(
                         list_filter(string_split_regex(lower(trim(text)),
                                                        '\\s+'),
                                     t -> t <> ''), ' ')) AS f
              FROM documents),
            corpus_fps AS (
              SELECT DISTINCT f FROM fp WHERE doc_id < 250),
            batch_reps AS (
              SELECT f, MIN(doc_id) AS doc_id FROM fp
              WHERE doc_id >= 250 GROUP BY f),
            admitted AS (
              SELECT doc_id FROM batch_reps
              WHERE f NOT IN (SELECT f FROM corpus_fps))
            SELECT d.doc_id, d.text FROM documents d
            JOIN admitted USING (doc_id)
        """,
        # The Bloom-pre-passed variant admits the IDENTICAL set (no
        # false negatives); it shares the exact-semantics twin above.
"incremental_dedup_bloom": """
            WITH fp AS (
              SELECT doc_id, text,
                     md5(array_to_string(
                         list_filter(string_split_regex(lower(trim(text)),
                                                        '\\s+'),
                                     t -> t <> ''), ' ')) AS f
              FROM documents),
            corpus_fps AS (
              SELECT DISTINCT f FROM fp WHERE doc_id < 250),
            batch_reps AS (
              SELECT f, MIN(doc_id) AS doc_id FROM fp
              WHERE doc_id >= 250 GROUP BY f),
            admitted AS (
              SELECT doc_id FROM batch_reps
              WHERE f NOT IN (SELECT f FROM corpus_fps))
            SELECT d.doc_id, d.text FROM documents d
            JOIN admitted USING (doc_id)
        """,
        # Twin of the PNG decode round-trip: expected features computed
        # arithmetically (pixel i = (doc_id*31+i) mod 256; mean as
        # sum-then-divide, matching the codec path's float(sum)/len).
        "image_features": """
            SELECT doc_id AS asset_id,
                   CAST(8 AS INTEGER) AS width,
                   CAST(4 AS INTEGER) AS height,
                   (SELECT CAST(SUM((doc_id * 31 + i.i) % 256)
                                AS DOUBLE) / 96
                    FROM (SELECT unnest(generate_series(0, 95)) AS i) i)
                       AS mean_intensity
            FROM documents
        """,
        # Twin of the Adam7-interlaced PNG roundtrip: interlacing is
        # lossless, so the expected features are the same arithmetic as
        # image_features — the gate exercises the seven-pass lattice
        # bookkeeping in the decoder.
        "image_features_png_i7": """
            SELECT doc_id AS asset_id,
                   CAST(8 AS INTEGER) AS width,
                   CAST(4 AS INTEGER) AS height,
                   (SELECT CAST(SUM((doc_id * 31 + i.i) % 256)
                                AS DOUBLE) / 96
                    FROM (SELECT unnest(generate_series(0, 95)) AS i) i)
                       AS mean_intensity
            FROM documents
        """,
        # Twin of the GIF decode roundtrip: lossless indexed pixels on
        # the grayscale palette (r=g=b=index), index i =
        # (doc_id*31 + i*7) % 256 — mean over the 96 RGB bytes is
        # 3*sum(index)/96, an exact integer-sum double division on
        # both engines. Interlace (odd doc_ids) is lossless, so the
        # same arithmetic covers both encodings; the gate verifies the
        # LZW + four-pass lattice bookkeeping.
        "image_features_gif": """
            SELECT doc_id AS asset_id,
                   CAST(8 AS INTEGER) AS width,
                   CAST(4 AS INTEGER) AS height,
                   (SELECT CAST(SUM(3 * ((doc_id * 31 + i.i * 7) % 256))
                                AS DOUBLE) / 96
                    FROM (SELECT unnest(generate_series(0, 31)) AS i) i)
                       AS mean_intensity
            FROM documents
        """,
        # Twin of the dHash-block + md5-verify image dedup: the ground
        # truth is the doc_id mod 50 residue classes (the synthesis
        # plants exactly 50 distinct images).
        "image_dedup_dhash": """
            SELECT doc_id,
                   MIN(doc_id) OVER (PARTITION BY doc_id % 50)
                       AS rep_id,
                   CAST(COUNT(*) OVER (PARTITION BY doc_id % 50)
                        AS INTEGER) AS n_dups
            FROM documents
        """,
        # Twin of the baseline-JPEG decode roundtrip: eight constant
        # 8x8 blocks per image, block b = (doc_id*31 + b*17) % 256.
        # A DC-only block survives the lossy pipeline as EXACTLY
        # clamp(2*floor((c-128)/2 + 0.5) + 128) under the codec's
        # pinned half-up conventions (functions/jpeg.py docstring), so
        # mean_intensity is the average of the eight decoded constants.
        "image_features_jpeg": """
            SELECT doc_id AS asset_id,
                   CAST(32 AS INTEGER) AS width,
                   CAST(16 AS INTEGER) AS height,
                   (SELECT ROUND(AVG(LEAST(255, GREATEST(0,
                       2 * FLOOR((((doc_id * 31 + b.b * 17) % 256)
                                  - 128) / 2.0 + 0.5) + 128))), 6)
                    FROM (SELECT unnest(generate_series(0, 7)) AS b) b)
                       AS mean_intensity
            FROM documents
        """,
        # Twin of the progressive-JPEG roundtrip: identical fixture and
        # DC arithmetic as image_features_jpeg — the successive-
        # approximation scans transmit full DC precision, so the
        # decoded constants are the same (what the gate verifies).
        "image_features_jpeg_prog": """
            SELECT doc_id AS asset_id,
                   CAST(32 AS INTEGER) AS width,
                   CAST(16 AS INTEGER) AS height,
                   (SELECT ROUND(AVG(LEAST(255, GREATEST(0,
                       2 * FLOOR((((doc_id * 31 + b.b * 17) % 256)
                                  - 128) / 2.0 + 0.5) + 128))), 6)
                    FROM (SELECT unnest(generate_series(0, 7)) AS b) b)
                       AS mean_intensity
            FROM documents
        """,
        # Twin of the fake-codec frame sampler: n_frames = doc_id%7+3,
        # every 2nd frame, offset = 8 + frame*256.
        "frame_sample": """
            SELECT doc_id AS asset_id,
                   CAST(i.i AS INTEGER) AS frame_index,
                   8 + (i.i * 2) * 256 AS frame_offset
            FROM documents, LATERAL (
              SELECT unnest(generate_series(
                  0, CAST(ceil((doc_id % 7 + 3) / 2.0) AS BIGINT) - 1))
                  AS i) i
        """,
        # Twin of the REAL AVI-container sampler (functions/avi.py
        # layout): RIFF(12) + hdrl LIST(200) = 212, movi LIST header
        # (12) -> first '00db' chunk at 224, payload at +8; stride
        # 8 + 16*16*3 = 776 per frame. Every 2nd frame of
        # doc_id%7+3 frames: offset = 232 + (i*2)*776.
        "frame_sample_avi": """
            SELECT doc_id AS asset_id,
                   CAST(i.i AS INTEGER) AS frame_index,
                   232 + (i.i * 2) * 776 AS frame_offset
            FROM documents, LATERAL (
              SELECT unnest(generate_series(
                  0, CAST(ceil((doc_id % 7 + 3) / 2.0) AS BIGINT) - 1))
                  AS i) i
        """,
        # Twin of the H.264 NAL walk (functions/h264.py synth layout):
        # 4+1+14-byte SPS + 8-byte PPS NAL = 23-byte prefix for the
        # 64x48 baseline geometry -> first slice payload at 23; stride
        # 3 (start code) + 64 (slice bytes) = 67. Every 2nd slice of
        # doc_id%7+3: offset = 23 + (i*2)*67.
        "frame_sample_h264": """
            SELECT doc_id AS asset_id,
                   CAST(i.i AS INTEGER) AS frame_index,
                   23 + (i.i * 2) * 67 AS frame_offset
            FROM documents, LATERAL (
              SELECT unnest(generate_series(
                  0, CAST(ceil((doc_id % 7 + 3) / 2.0) AS BIGINT) - 1))
                  AS i) i
        """,
        # Twin of the MP3 frame-header walk: geometry is pure
        # arithmetic (n = doc_id%7+3 MPEG1 Layer III frames at
        # 44100 Hz -> duration n*1152/44100, one IEEE divide on both
        # engines), channels alternate by parity, amplitude features
        # NULL by design (PCM decode is the documented library slot).
        "audio_features_mp3": """
            SELECT doc_id AS asset_id,
                   CAST(44100 AS INTEGER) AS sample_rate,
                   CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END
                        AS INTEGER) AS channels,
                   CAST(doc_id % 7 + 3 AS INTEGER) AS n_frames,
                   ROUND((doc_id % 7 + 3) * 1152.0 / 44100.0, 6)
                       AS duration_sec,
                   CAST(NULL AS DOUBLE) AS mean_abs,
                   CAST(NULL AS INTEGER) AS peak
            FROM documents
        """,
        # Twin of the stdlib-WAV decode round-trip: expected features
        # computed arithmetically (sample i = ((doc_id*37+i*11) mod
        # 65536) - 32768 over doc_id%5+4 mono 8 kHz samples); mean and
        # duration as exact integer-sum double divisions, matching the
        # codec path's numpy-int64-sum math.
        "audio_features": """
            SELECT d.doc_id AS asset_id,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(1 AS INTEGER) AS channels,
                   CAST(d.doc_id % 5 + 4 AS INTEGER) AS n_frames,
                   (d.doc_id % 5 + 4) / 8000.0 AS duration_sec,
                   CAST(SUM(ABS(((d.doc_id * 37 + i.i * 11) % 65536)
                                - 32768)) AS DOUBLE)
                       / (d.doc_id % 5 + 4) AS mean_abs,
                   CAST(MAX(ABS(((d.doc_id * 37 + i.i * 11) % 65536)
                                - 32768)) AS INTEGER) AS peak
            FROM documents d, LATERAL (
              SELECT unnest(generate_series(
                  0, d.doc_id % 5 + 3)) AS i) i
            GROUP BY d.doc_id
        """,
        # Twin of the WARC crawl-archive roundtrip: every column the
        # Spark side re-derives by PARSING the synthesized .warc.gz
        # (gzip members -> WARC headers -> HTTP status/body split) the
        # twin computes directly from documents — file packing is
        # doc_id DIV 4 with records doc_id-ordered, dates are the
        # deterministic 2024-01-01 + (doc_id % 86400) s fixture, the
        # payload is the document text's UTF-8 bytes.
        "warc_ingest": """
            SELECT doc_id,
                   doc_id // 4 AS file_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // 4
                                           ORDER BY doc_id) - 1
                        AS INTEGER) AS record_index,
                   CAST(200 AS INTEGER) AS http_status,
                   'text/plain; charset=utf-8' AS content_type,
                   strftime(TIMESTAMP '2024-01-01 00:00:00'
                            + to_seconds(doc_id % 86400),
                            '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
                   CAST(octet_length(encode(text)) AS BIGINT)
                       AS payload_len,
                   md5(text) AS payload_md5
            FROM documents
        """,
        # Twin of the WebDataset tar-shard roundtrip: shard packing is
        # doc_id DIV 4, each doc contributes exactly two members
        # (txt = the document's UTF-8 bytes, cls = doc_id mod 10).
        "webdataset_ingest": """
            SELECT doc_id,
                   doc_id // 4 AS shard_id,
                   md5(text) AS txt_md5,
                   CAST(octet_length(encode(text)) AS BIGINT)
                       AS txt_len,
                   CAST(doc_id % 10 AS INTEGER) AS label,
                   CAST(2 AS INTEGER) AS n_members
            FROM documents
        """,
        # Twin of the compressed-JSONL roundtrip: packing is doc_id
        # DIV 4 with lines doc_id-ordered; the shard codec rotates
        # shard_id mod 3 over (gz, bz2, xz) — the Spark side SNIFFS it
        # from magic bytes, the twin derives it arithmetically.
        # Twin of the TFRecord roundtrip: every output column is a
        # pure function of the packing arithmetic (4 per shard, rows
        # id-ordered inside the shard) and the document itself.
        "tfrecord_ingest": """
            SELECT doc_id,
                   doc_id // 4 AS shard_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // 4
                                           ORDER BY doc_id) - 1
                        AS INTEGER) AS rec_no,
                   md5(text) AS text_md5,
                   CAST(octet_length(encode(text)) AS BIGINT)
                       AS text_len
            FROM documents
        """,
        "jsonl_ingest": """
            SELECT doc_id,
                   doc_id // 4 AS shard_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // 4
                                           ORDER BY doc_id) - 1
                        AS INTEGER) AS line_no,
                   CASE CAST((doc_id // 4) % 5 AS INTEGER)
                        WHEN 0 THEN 'gz' WHEN 1 THEN 'bz2'
                        WHEN 2 THEN 'xz' WHEN 3 THEN 'snappy'
                        ELSE 'zst' END AS codec,
                   md5(text) AS text_md5,
                   CAST(octet_length(encode(text)) AS BIGINT)
                       AS text_len
            FROM documents
        """,
        # Twin of the C4 line filter: replay the deterministic
        # multi-line construction (doc_id%4+3 words per line, '.' on
        # every (i+doc_id)%3==0 line) with list lambdas, re-split the
        # assembled text exactly as the operator does, then apply the
        # identical line rules (terminal punct, >=4 words, no
        # 'javascript') and page rules (no '{', no 'lorem ipsum',
        # >=2 surviving lines).
        "c4_line_filter": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '),
                                 w -> w != '') AS words,
                     CAST(doc_id % 4 + 3 AS BIGINT) AS k
              FROM documents
            ), built AS (
              SELECT doc_id,
                     CASE WHEN len(words) > 0 THEN
                       [array_to_string(words[(i*k+1):(i*k+k)], ' ')
                        || CASE WHEN (i + doc_id) % 3 = 0
                                THEN '.' ELSE '' END
                        FOR i IN range(0,
                            CAST(ceil(len(words) / CAST(k AS DOUBLE))
                                 AS BIGINT))]
                     ELSE [] END AS lines0
              FROM base
            ), synth AS (
              SELECT doc_id,
                     string_split(array_to_string(lines0, chr(10)),
                                  chr(10)) AS lines,
                     array_to_string(lines0, chr(10)) AS synth_text
              FROM built
            ), rules AS (
              SELECT doc_id, lines, synth_text,
                     list_filter(lines, ln ->
                         (ends_with(ln, '.') OR ends_with(ln, '!')
                          OR ends_with(ln, '?')
                          OR ends_with(ln, '"'))
                         AND len(list_filter(string_split(ln, ' '),
                                             w -> w != '')) >= 4
                         AND NOT contains(lower(ln), 'javascript'))
                         AS kept_lines
              FROM synth
            )
            SELECT doc_id,
                   CASE WHEN ok
                        THEN array_to_string(kept_lines, chr(10))
                        ELSE '' END AS clean_text,
                   CAST(len(kept_lines) AS INTEGER) AS n_kept,
                   CAST(len(lines) AS INTEGER) AS n_total,
                   ok AS kept
            FROM (SELECT *,
                    (NOT contains(synth_text, '{')
                     AND NOT contains(lower(synth_text), 'lorem ipsum')
                     AND len(kept_lines) >= 2) AS ok
                  FROM rules)
        """,
        "domain_cap": """
            SELECT doc_id, source, lang FROM (
              SELECT doc_id, source, lang, row_number() OVER (
                  PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM documents)
            WHERE rk <= 10
        """,
        # Twin of quantize.quantize over dim_bounds: same per-dim
        # bounds, same round-half-away byte codes, digest of the same
        # comma-joined code string.
        "quantize_embeddings": """
            WITH x AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            d AS (
              SELECT i.i AS pos, MIN(v[i.i::INTEGER]) AS lo,
                     MAX(v[i.i::INTEGER]) AS hi
              FROM x, LATERAL (
                SELECT unnest(generate_series(1, len(v))) AS i) i
              GROUP BY i.i),
            bounds AS (
              SELECT list(lo ORDER BY pos) AS los,
                     list(hi ORDER BY pos) AS his FROM d),
            codes AS (
              SELECT vec_id,
                     list_transform(generate_series(1, len(v)), i ->
                       CASE WHEN b.his[i::INTEGER] = b.los[i::INTEGER]
                            THEN 0
                            ELSE CAST(LEAST(255, GREATEST(0,
                              ROUND((v[i::INTEGER] - b.los[i::INTEGER])
                                / (b.his[i::INTEGER] - b.los[i::INTEGER])
                                * 255, 0))) AS INTEGER)
                       END) AS codes
              FROM x, bounds b)
            SELECT vec_id, CAST(len(codes) AS INTEGER) AS n_dims,
                   md5(array_to_string(codes, ',')) AS code_digest
            FROM codes
        """,
        "daily_top_events": """
            WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                     event_type, COUNT(*) AS n_events
              FROM events GROUP BY 1, 2)
            SELECT day, event_type, n_events, rank FROM (
              SELECT *, CAST(row_number() OVER (
                  PARTITION BY day
                  ORDER BY n_events DESC, event_type) AS INTEGER)
                  AS rank
              FROM daily)
            WHERE rank <= 3
        """,
        "rank_normalized": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   l_extendedprice,
                   ROUND(percent_rank() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey,
                                l_linenumber), 6) AS price_pr
            FROM lineitem
        """,
        # Twin of sampling.mix_sources({src0:.5, src1:.3, src2:.2}):
        # budget T = min(n_i/p_i), per-source quota floor(T*p_i), picks
        # by the portable (md5(id), id) order.
        "dataset_mix": """
            WITH m(source, p) AS (
              VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
            counts AS (
              SELECT source, COUNT(*) AS n FROM documents
              WHERE source IN (SELECT source FROM m) GROUP BY source),
            budget AS (
              SELECT MIN(c.n / m.p) AS t
              FROM counts c JOIN m USING (source)),
            quota AS (
              SELECT m.source, CAST(floor(b.t * m.p) AS BIGINT) AS k
              FROM m, budget b),
            ranked AS (
              SELECT doc_id, source, row_number() OVER (
                  PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM documents
              WHERE source IN (SELECT source FROM m))
            SELECT r.doc_id, r.source
            FROM ranked r JOIN quota q USING (source)
            WHERE r.rk <= q.k
        """,
        # Twin of sampling.temperature_mix(alpha=0.5): 9 dp-rounded
        # sqrt proportions (IEEE-exact on both engines), then the
        # dataset_mix quota/draw machinery.
        "temperature_mix": """
            WITH tiered AS (
              SELECT doc_id,
                     CASE WHEN CAST(substr(source, 4) AS INTEGER) < 12
                          THEN 'big'
                          WHEN CAST(substr(source, 4) AS INTEGER) < 18
                          THEN 'mid' ELSE 'small' END AS tier
              FROM documents),
            c AS (
              SELECT tier, COUNT(*) AS n FROM tiered GROUP BY tier),
            tot AS (SELECT SUM(n)::DOUBLE AS nn FROM c),
            w AS (
              SELECT tier, n, ROUND(POW(n / t.nn, 0.5), 9) AS w
              FROM c, tot t),
            s AS (SELECT ROUND(SUM(w), 9) AS sw FROM w),
            p AS (
              SELECT tier, n, ROUND(w.w / s.sw, 9) AS p FROM w, s),
            b AS (SELECT MIN(n / p) AS t FROM p),
            q AS (
              SELECT tier, CAST(FLOOR(b.t * p.p) AS BIGINT) AS k
              FROM p, b),
            ranked AS (
              SELECT doc_id, tier, row_number() OVER (
                  PARTITION BY tier
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM tiered)
            SELECT r.doc_id, r.tier
            FROM ranked r JOIN q USING (tier)
            WHERE r.rk <= q.k
        """,
        "cohort_retention": """
            WITH cohorts AS (
              SELECT user_id,
                     MIN(CAST(date_trunc('day', ts) AS TIMESTAMP))
                         AS cohort
              FROM events GROUP BY user_id),
            activity AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('day', ts) AS TIMESTAMP) AS period
              FROM events)
            SELECT cohort,
                   CAST(date_diff('day', cohort, period) / 1 AS INTEGER)
                       AS period_offset,
                   COUNT(*) AS n_active
            FROM activity JOIN cohorts USING (user_id)
            GROUP BY cohort, period_offset
        """,
        # Twin of entity.fuzzy_pairs (max_dist=1, prefix_len=3,
        # max_block=300): same block keys, same dual-bucket length
        # band with the greatest(lb) route dedup, same Wagner-Fischer
        # levenshtein.
        "fuzzy_names": """
            WITH base AS (
              SELECT s_suppkey AS id, s_name AS val,
                     substr(lower(s_name), 1, 3) AS pfx,
                     CAST(floor(length(lower(s_name)) / 2) AS BIGINT)
                         AS lb
              FROM supplier),
            cand AS (
              SELECT id, val, pfx, lb, unnest([lb, lb + 1]) AS jb
              FROM base),
            keepb AS (
              SELECT pfx, jb FROM cand
              GROUP BY pfx, jb HAVING COUNT(*) <= 300),
            c2 AS (
              SELECT cand.* FROM cand SEMI JOIN keepb USING (pfx, jb)),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     a.val AS val_a, b.val AS val_b
              FROM c2 a JOIN c2 b USING (pfx, jb)
              WHERE a.id < b.id AND a.jb = GREATEST(a.lb, b.lb))
            SELECT id_a, id_b, val_a, val_b,
                   CAST(levenshtein(val_a, val_b) AS INTEGER) AS dist
            FROM pairs WHERE levenshtein(val_a, val_b) <= 1
        """,
        "snapshot_diff": """
            WITH base AS (
              SELECT user_id, event_type, ts, value, event_id
              FROM events),
            before AS (
              SELECT user_id, event_type, ts, value FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn
                FROM base WHERE ts < TIMESTAMP '2024-01-15 00:00:00')
              WHERE rn = 1),
            after AS (
              SELECT user_id, event_type, ts, value FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn
                FROM base)
              WHERE rn = 1)
            SELECT COALESCE(b.user_id, a.user_id) AS user_id,
                   COALESCE(b.event_type, a.event_type) AS event_type,
                   CASE WHEN b.user_id IS NULL THEN 'added'
                        WHEN a.user_id IS NULL THEN 'removed'
                        WHEN (b.ts IS DISTINCT FROM a.ts)
                          OR (b.value IS DISTINCT FROM a.value)
                        THEN 'changed' END AS change
            FROM before b
            FULL OUTER JOIN after a
              ON b.user_id = a.user_id AND b.event_type = a.event_type
            WHERE CASE WHEN b.user_id IS NULL THEN 'added'
                       WHEN a.user_id IS NULL THEN 'removed'
                       WHEN (b.ts IS DISTINCT FROM a.ts)
                         OR (b.value IS DISTINCT FROM a.value)
                       THEN 'changed' END IS NOT NULL
        """,
        # Twin of cdc.merge_upsert: identical clause order (matched
        # DELETE before UPDATE, keep-target fallback, unmatched-source
        # INSERT) composed from anti-joins + a CASE'd inner join; order
        # totals as exact DECIMAL sums so both engines debit identical
        # doubles.
        "merge_upsert": """
            WITH tgt AS (
              SELECT c_custkey, c_name, c_acctbal FROM customer),
            tot AS (
              SELECT o_custkey,
                     ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                                AS DOUBLE), 2) AS t
              FROM orders GROUP BY o_custkey),
            upd AS (
              SELECT c.c_custkey, c.c_name, c.c_acctbal - tot.t AS c_acctbal
              FROM tgt c JOIN tot ON c.c_custkey = tot.o_custkey),
            ins AS (
              SELECT c_custkey + 1000000 AS c_custkey,
                     'new ' || c_name AS c_name,
                     CAST(0.0 AS DOUBLE) AS c_acctbal
              FROM tgt WHERE c_custkey <= 100),
            src AS (
              SELECT * FROM upd UNION ALL SELECT * FROM ins),
            matched AS (
              SELECT s.c_custkey,
                     CASE WHEN s.c_acctbal > -2000000 THEN s.c_name
                          ELSE t.c_name END AS c_name,
                     CASE WHEN s.c_acctbal > -2000000 THEN s.c_acctbal
                          ELSE t.c_acctbal END AS c_acctbal
              FROM src s JOIN tgt t USING (c_custkey)
              WHERE NOT (s.c_acctbal < -3000000)),
            unmatched AS (
              SELECT * FROM tgt
              WHERE c_custkey NOT IN (SELECT c_custkey FROM src)),
            inserts AS (
              SELECT * FROM src
              WHERE c_custkey NOT IN (SELECT c_custkey FROM tgt))
            SELECT * FROM unmatched
            UNION ALL SELECT * FROM matched
            UNION ALL SELECT * FROM inserts
        """,
        "moving_avg": """
            SELECT event_id, user_id, value,
                   ROUND(AVG(value) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) + 0.0
                       AS value_ma3
            FROM events WHERE event_type = 'purchase'
        """,
        # Direct one-shot twin of the merged two-batch partial states —
        # the gate pins the merge identity of incremental.merge_partials.
        "incremental_rollup": """
            SELECT event_type,
                   COUNT(value) AS n,
                   MIN(value) AS min_v,
                   MAX(value) AS max_v,
                   ROUND(SUM(value), 6) AS sum_v,
                   CASE WHEN COUNT(value) > 0 THEN
                     ROUND(SUM(value) / COUNT(value), 6)
                   END AS avg_v
            FROM events GROUP BY event_type
        """,
        # Twin of reshape.histogram equiwidth mode: identical expression
        # order ((x-lo)/((hi-lo)/20), LEAST cap, bin*(hi-lo)/20 edges).
        "histogram_prices": """
            WITH b AS (
              SELECT MIN(l_extendedprice) AS blo,
                     MAX(l_extendedprice) AS bhi
              FROM lineitem),
            binned AS (
              SELECT CAST(LEAST(FLOOR((l_extendedprice - b.blo)
                                      / ((b.bhi - b.blo) / 20)), 19)
                          AS INTEGER) AS bin,
                     b.blo, b.bhi
              FROM lineitem, b)
            SELECT bin,
                   ROUND(blo + bin * (bhi - blo) / 20, 6) AS lo,
                   ROUND(blo + (bin + 1) * (bhi - blo) / 20, 6) AS hi,
                   COUNT(*) AS n
            FROM binned GROUP BY bin, blo, bhi
        """,
        # Twin of reshape.equidepth_histogram_sketch: the bottom-k
        # md5-rank sample and the shared discrete-index edge
        # arithmetic replayed verbatim, then the same strict
        # v > edge closed-right binning via list_filter.
        "histogram_prices_equidepth": """
            WITH samp AS (
                SELECT l_extendedprice AS v
                FROM lineitem
                ORDER BY md5(COALESCE(CAST(l_orderkey AS VARCHAR), chr(0))
                             || ':' ||
                             COALESCE(CAST(l_linenumber AS VARCHAR), chr(0))
                             || ':' ||
                             COALESCE(CAST(l_partkey AS VARCHAR), chr(0))),
                         v
                LIMIT 16384
            ), arr AS (
                SELECT list_sort(list(v) FILTER (WHERE v IS NOT NULL))
                           AS a,
                       COUNT(v) AS n
                FROM samp
            ), edges AS (
                SELECT list(a[GREATEST(CAST(CEIL(q * n) AS BIGINT), 1)]
                            ORDER BY q) AS es
                FROM arr,
                     (SELECT UNNEST(CAST(
                          [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]
                          AS DOUBLE[])) AS q) t
            )
            SELECT CAST(1 + len(list_filter(es,
                                            e -> l_extendedprice > e))
                        AS INTEGER) AS bin,
                   ROUND(MIN(l_extendedprice), 6) + 0.0 AS lo,
                   ROUND(MAX(l_extendedprice), 6) + 0.0 AS hi,
                   COUNT(*) AS n
            FROM lineitem, edges
            GROUP BY 1
        """,
        "data_quality": """
            WITH a AS (
              SELECT COUNT(*) AS n,
                CAST(SUM(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END)
                     AS BIGINT) AS v0,
                CAST(SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.5
                              THEN 0 ELSE 1 END) AS BIGINT) AS v1,
                CAST(SUM(CASE WHEN l_tax >= 0 THEN 0 ELSE 1 END)
                     AS BIGINT) AS v2,
                CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1
                              END) AS BIGINT) AS v3,
                CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 0
                              ELSE 1 END) AS BIGINT) AS v4,
                CAST(SUM(CASE WHEN l_quantity <= 30 THEN 0 ELSE 1 END)
                     AS BIGINT) AS v5
              FROM lineitem)
            SELECT r.rule, r.n_violations, a.n AS n_rows,
                   ROUND(1.0 - r.n_violations / a.n, 6) AS pass_rate
            FROM a, LATERAL (
              SELECT * FROM (VALUES
                ('positive_quantity', a.v0),
                ('discount_range', a.v1),
                ('tax_nonneg', a.v2),
                ('shipdate_set', a.v3),
                ('returnflag_domain', a.v4),
                ('quantity_le_30', a.v5))
              AS t(rule, n_violations)) r
        """,
        # Twin of lm.pmi_collocations (min_count=5): same whitespace
        # tokens, same adjacent bigrams, PMI = ln((n12/N)/(p1*p2)).
        # Twin of lm.skipgram_counts — DELIBERATELY the other
        # formulation: positions from generate_series, pairs via a
        # position-range self-join (vs Spark's map-side array lambdas),
        # so the differential check exercises semantics, not a shared
        # plan shape.
        "skipgram_counts": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
            pos AS (SELECT doc_id, g.i AS ord, tk[g.i] AS term
                    FROM base,
                         unnest(generate_series(1, len(tk))) AS g(i)),
            pairs AS (
              SELECT a.term AS w1, b.term AS w2
              FROM pos a JOIN pos b ON a.doc_id = b.doc_id
               AND b.ord BETWEEN a.ord + 1 AND a.ord + 3)
            SELECT w1, w2, COUNT(*) AS n_pair
            FROM pairs GROUP BY w1, w2 HAVING COUNT(*) >= 5
        """,
        # Twin of lm.ppmi_vectors: the skipgram self-join formulation
        # again, then PPMI, the portable md5 hash bucket
        # (Spark conv(substr(md5,1,8),16,10) == ('0x'||...)::BIGINT),
        # dense 16-dim vector assembly, and the per-vector max-abs int8
        # codes digested exactly like quantize_embeddings.
        "ppmi_vectors": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
            pos AS (SELECT doc_id, g.i AS ord, tk[g.i] AS term
                    FROM base,
                         unnest(generate_series(1, len(tk))) AS g(i)),
            pairs_raw AS (
              SELECT a.term AS w1, b.term AS w2
              FROM pos a JOIN pos b ON a.doc_id = b.doc_id
               AND b.ord BETWEEN a.ord + 1 AND a.ord + 3),
            pairs AS (
              SELECT w1, w2, COUNT(*) AS n_pair
              FROM pairs_raw GROUP BY 1, 2 HAVING COUNT(*) >= 5),
            m1 AS (SELECT w1, SUM(n_pair) AS n1 FROM pairs GROUP BY w1),
            m2 AS (SELECT w2, SUM(n_pair) AS n2 FROM pairs GROUP BY w2),
            tot AS (SELECT SUM(n_pair)::DOUBLE AS n FROM pairs),
            scored AS (
              SELECT p.w1 AS word,
                     CAST(('0x' || substr(md5(p.w2), 1, 8))::BIGINT % 16
                          AS INTEGER) AS j,
                     ROUND(GREATEST(0.0,
                           LN(p.n_pair::DOUBLE * t.n
                              / (x.n1::DOUBLE * y.n2::DOUBLE))), 6)
                         AS ppmi
              FROM pairs p, tot t, m1 x, m2 y
              WHERE x.w1 = p.w1 AND y.w2 = p.w2),
            feat AS (
              SELECT word, j, ROUND(SUM(ppmi), 6) AS val
              FROM scored GROUP BY 1, 2),
            words AS (SELECT DISTINCT word FROM feat),
            grid AS (
              SELECT w.word, g.j
              FROM words w,
                   (SELECT unnest(generate_series(0, 15)) AS j) g),
            dense AS (
              SELECT gr.word, gr.j, COALESCE(f.val, 0.0) AS val
              FROM grid gr LEFT JOIN feat f
                ON f.word = gr.word AND f.j = gr.j),
            vec AS (
              SELECT word, list(val ORDER BY j) AS v
              FROM dense GROUP BY word),
            q AS (
              SELECT word,
                     ROUND(list_max(list_transform(v, x -> ABS(x))), 6)
                         AS scale,
                     v
              FROM vec)
            SELECT word, scale, CAST(16 AS INTEGER) AS n_dims,
                   md5(array_to_string(list_transform(v, x ->
                       CASE WHEN scale = 0 THEN 0
                            ELSE CAST(ROUND(x / scale * 127, 0)
                                      AS INTEGER) END), ','))
                       AS code_digest
            FROM q
        """,
        # Twins of the versioned-table queries: the oracle never sees
        # the scratch table — time travel to v1 must equal the plain
        # filter that PRODUCED v1, and the pruned scan must equal the
        # plain WHERE (pruning soundness is exactly this equality).
        "time_travel_read": """
            SELECT doc_id, lang, source, n_chars
            FROM documents WHERE lang = 'en'
        """,
        "version_pruned_scan": """
            SELECT doc_id, source, n_chars
            FROM documents WHERE doc_id BETWEEN 100 AND 200
        """,
        "pmi_collocations": """
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk
              FROM documents),
            bg AS (
              SELECT unnest(list_transform(
                       generate_series(1, len(tk) - 1),
                       i -> struct_pack(w1 := tk[i::INTEGER],
                                        w2 := tk[(i + 1)::INTEGER])))
                     AS b
              FROM tok WHERE len(tk) >= 2),
            pairs AS (
              SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_pair
              FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5),
            uni AS (
              SELECT unnest(tk) AS w FROM tok),
            ucnt AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY w),
            tot AS (SELECT (SELECT COUNT(*) FROM bg) AS n_bg,
                           (SELECT COUNT(*) FROM uni) AS n_tok)
            SELECT p.w1, p.w2, p.n_pair,
                   ROUND(ln((p.n_pair / t.n_bg)
                         / ((u1.c_w / t.n_tok) * (u2.c_w / t.n_tok))), 6) + 0.0
                       AS pmi
            FROM pairs p
            JOIN ucnt u1 ON u1.w = p.w1
            JOIN ucnt u2 ON u2.w = p.w2
            CROSS JOIN tot t
        """,
        "bpe_token_stats": """
            WITH t AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(text),
                         ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s]+'))
                         AS n_bpe_tokens,
                     len(list_filter(string_split_regex(lower(trim(text)),
                                                        '\\s+'),
                                     tk -> tk <> '')) AS n_ws_tokens
              FROM documents)
            SELECT doc_id,
                   CAST(n_bpe_tokens AS INTEGER) AS n_bpe_tokens,
                   CAST(n_ws_tokens AS INTEGER) AS n_ws_tokens,
                   CASE WHEN n_ws_tokens > 0 THEN
                     ROUND(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 6)
                   END AS bpe_per_word
            FROM t
        """,
        # Twin of winnow_dedup_pairs (k=7, window=16, min_shared=8,
        # max_df=50): same md5-prefix gram hashes, same sliding-window
        # minima, same posting-list pairing. Spark's sequence/slice and
        # DuckDB's generate_series/list slicing are both 1-based
        # inclusive; the <=16-gram short-doc branch mirrors the
        # operator's single-global-min convention.
        "winnow_dedup": """
            WITH t AS (
              SELECT doc_id, lower(text) AS s FROM documents
              WHERE length(lower(text)) >= 7),
            g AS (
              SELECT doc_id,
                     list_transform(generate_series(1, length(s) - 6),
                       p -> ('0x' || substr(md5(substr(s, p::INTEGER, 7)),
                                            1, 8))::BIGINT) AS hs
              FROM t),
            f AS (
              SELECT DISTINCT doc_id, unnest(
                CASE WHEN len(hs) = 0 THEN []
                     WHEN len(hs) - 15 <= 1 THEN [list_min(hs)]
                     ELSE list_distinct(list_transform(
                            generate_series(1, len(hs) - 15),
                            j -> list_min(hs[j:j+15])))
                END) AS fp
              FROM g),
            keep AS (
              SELECT fp FROM f GROUP BY fp
              HAVING COUNT(*) >= 2 AND COUNT(*) <= 50)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   COUNT(*) AS n_shared
            FROM f a JOIN keep USING (fp) JOIN f b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 8
        """,
        # Twin of profile.mad_outliers on events: same 6-dp-rounded
        # median and MAD (quantile_cont == F.percentile, the
        # winsorized_prices-proven pairing), same flag predicate.
        "mad_outliers": """
            WITH med AS (
              SELECT event_type,
                     ROUND(quantile_cont(value, 0.5), 6) + 0.0 AS median
              FROM events GROUP BY event_type),
            dev AS (
              SELECT e.event_id, e.event_type, e.value, m.median,
                     abs(e.value - m.median) AS adev
              FROM events e JOIN med m USING (event_type)),
            mad AS (
              SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) + 0.0 AS mad
              FROM dev GROUP BY event_type)
            SELECT event_id, event_type, value, median, mad,
                   ROUND(0.6745 * (value - median) / mad, 6) + 0.0 AS robust_z
            FROM dev JOIN mad USING (event_type)
            WHERE mad > 0
              AND abs(ROUND(0.6745 * (value - median) / mad, 6)) > 3.5
        """,
        "correlations": """
            SELECT col_a, col_b, ROUND(corr_v, 6) + 0.0 AS corr FROM (
              SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                     corr(l_quantity, l_extendedprice) AS corr_v
              FROM lineitem
              UNION ALL SELECT 'l_quantity', 'l_discount',
                     corr(l_quantity, l_discount) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'l_tax',
                     corr(l_quantity, l_tax) FROM lineitem
              UNION ALL SELECT 'l_extendedprice', 'l_discount',
                     corr(l_extendedprice, l_discount) FROM lineitem
              UNION ALL SELECT 'l_extendedprice', 'l_tax',
                     corr(l_extendedprice, l_tax) FROM lineitem
              UNION ALL SELECT 'l_discount', 'l_tax',
                     corr(l_discount, l_tax) FROM lineitem
            )
        """,
        "interval_join": """
            SELECT a.user_id,
                   a.ts AS purchase_ts,
                   b.ts AS error_ts
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR
                          AND a.ts + INTERVAL 1 HOUR
            WHERE a.event_type = 'purchase' AND b.event_type = 'error'
        """,
        "funnel": """
            WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
                        WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
                   JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
                   WHERE e.event_type = 'click' GROUP BY 1),
            s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
                   JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
                   WHERE e.event_type = 'purchase' GROUP BY 1)
            SELECT CAST(1 AS INTEGER) AS step_index, 'view' AS step,
                   COUNT(*) AS n_users FROM s1
            UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
            UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
        """,
        "corpus_report": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)),
                                                    '\\s+'),
                                 t -> t <> '') AS tk,
                     length(regexp_replace(text, '[^\\x20-\\x7E]', '',
                                           'g')) AS ac,
                     length(text) AS c,
                     text
              FROM documents),
            per AS (
              SELECT len(tk) AS n,
                     CASE WHEN len(tk) > 0 THEN
                       CAST(len(list_filter(tk, t -> list_contains(
                         ['the','a','is','and','of','to','in','that',
                          'it','for'], t))) AS DOUBLE) / len(tk) END
                         AS sr,
                     ac, c
              FROM t)
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS n_tokens,
                   ROUND(AVG(n), 6) AS avg_tokens,
                   quantile_cont(n, 0.5) AS p50_tokens,
                   quantile_cont(n, 0.95) AS p95_tokens,
                   ROUND(CAST(SUM(ac) AS DOUBLE) / SUM(c), 6)
                       AS ascii_ratio,
                   ROUND(AVG(sr), 6) AS avg_stopword_ratio
            FROM per
        """,
        # Twin of covariance_matrix at 6 dp: identical statistics
        # expression over lateral-unnested embedding pairs.
        "embedding_covariance": f"""
            WITH {_pca_covariance_ctes(64, 6)}
            SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, cov
            FROM cov
        """,
        "pca_project": _pca_oracle_sql(dim=64, iters=24),
        "quality_classifier": _logreg_oracle_sql(iters=8, lr=1.0),
        # Twin of cleaning.winsorize: quantile_cont == F.percentile
        # (both the continuous (n-1)*p interpolated definition).
        "winsorized_prices": """
            WITH b AS (
              SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
                     quantile_cont(l_extendedprice, 0.99) AS hi
              FROM lineitem),
            c AS (
              SELECT l_returnflag,
                     LEAST(GREATEST(l_extendedprice, b.lo), b.hi) AS p
              FROM lineitem, b)
            SELECT l_returnflag, COUNT(*) AS n,
                   ROUND(AVG(p), 6) AS avg_price,
                   ROUND(MIN(p), 6) AS min_price,
                   ROUND(MAX(p), 6) AS max_price
            FROM c GROUP BY l_returnflag
        """,
        # Twin of the approx (GK-sketch) winsorize at accuracy >= n:
        # bounds are exact rank statistics -> quantile_disc.
        "winsorized_prices_approx": """
            WITH b AS (
              SELECT quantile_disc(l_extendedprice, 0.01) AS lo,
                     quantile_disc(l_extendedprice, 0.99) AS hi
              FROM lineitem),
            c AS (
              SELECT l_returnflag,
                     LEAST(GREATEST(l_extendedprice, b.lo), b.hi) AS p
              FROM lineitem, b)
            SELECT l_returnflag, COUNT(*) AS n,
                   ROUND(AVG(p), 6) AS avg_price,
                   ROUND(MIN(p), 6) AS min_price,
                   ROUND(MAX(p), 6) AS max_price
            FROM c GROUP BY l_returnflag
        """,
        # Twin of featurize.bucket_collision_profile: identical salted
        # md5 bucketing (sampling.hash_bucket scheme).
        "feature_hash_counts": """
            WITH f AS (
              SELECT ('0x' || substr(md5('event_type:' || event_type),
                                     1, 8))::BIGINT % 64 AS bucket,
                     'event_type:' || event_type AS val
              FROM events WHERE event_type IS NOT NULL
              UNION ALL
              SELECT ('0x' || substr(md5('user_id:'
                                         || CAST(user_id AS VARCHAR)),
                                     1, 8))::BIGINT % 64 AS bucket,
                     'user_id:' || CAST(user_id AS VARCHAR) AS val
              FROM events WHERE user_id IS NOT NULL)
            SELECT CAST(bucket AS INTEGER) AS bucket,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT val) AS n_values
            FROM f GROUP BY 1
        """,
        # Twin of windows.time_range_agg: numeric RANGE frame on the
        # same floor(epoch) seconds (X2 convention).
        "time_range_avg": """
            WITH t AS (
              SELECT event_id, user_id, value,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ep
              FROM events)
            SELECT event_id, user_id,
                   COUNT(value) OVER w AS v1h_n,
                   ROUND(AVG(value) OVER w, 6) AS v1h_avg
            FROM t
            WINDOW w AS (PARTITION BY user_id ORDER BY ep
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        # Twin of sampling.negative_samples: same rank order, same
        # md5('id:j') draw, same skip-self shift.
        "negative_samples": """
            WITH r AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY doc_id) AS rn
              FROM documents),
            n AS (SELECT COUNT(*) AS n FROM documents),
            d AS (
              SELECT r.doc_id, r.rn, j.j,
                     1 + ('0x' || substr(md5(CAST(r.doc_id AS VARCHAR)
                                             || ':'
                                             || CAST(j.j AS VARCHAR)),
                                         1, 8))::BIGINT % (n.n - 1)
                         AS draw
              FROM r, range(0, 4) j(j), n),
            m AS (
              SELECT doc_id, j,
                     CASE WHEN draw >= rn THEN draw + 1 ELSE draw END
                         AS neg
              FROM d)
            SELECT m.doc_id AS anchor_id, CAST(m.j AS INTEGER) AS j,
                   r2.doc_id AS negative_id
            FROM m JOIN r r2 ON r2.rn = m.neg
        """,
        # Twin of packing.length_bucketed_batches: plain ROW_NUMBER
        # over the same (n_tokens DESC, doc_id) total order.
        "length_buckets": """
            WITH toks AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(lower(trim(text)),
                                                        '\\s+'),
                                     t -> t <> '')) AS n
              FROM documents),
            r AS (
              SELECT n, row_number() OVER (ORDER BY n DESC, doc_id) AS rn
              FROM toks),
            b AS (
              SELECT CAST(FLOOR((rn - 1) / 16) AS INTEGER) AS batch_id, n
              FROM r)
            SELECT batch_id, COUNT(*) AS n_docs,
                   CAST(MAX(n) AS INTEGER) AS max_tokens,
                   CAST(SUM(n) AS BIGINT) AS sum_tokens,
                   CAST(COUNT(*) * MAX(n) - SUM(n) AS BIGINT)
                       AS padding_tokens,
                   ROUND(1 - SUM(n) / (COUNT(*) * MAX(n)), 6) AS pad_ratio
            FROM b GROUP BY batch_id
        """,
        **{name: sql.format(**{t: t for t in _TPCH_TABLES})
           for name, sql in _TPCH_SQL.items()},
    }
