"""HyperLogLog distinct-count sketches (Flajolet et al. 2007).

THE bounded-memory answer to ``COUNT(DISTINCT ...)`` at 100 TB: an
exact distinct shuffles every distinct key (the reference's
``distinct_parts``-style queries carry the full key set through the
exchange), while an HLL carries ``m = 2^b`` single-byte registers per
group — the shuffle volume is O(groups x m) REGARDLESS of corpus
size, and registers merge by max() so map-side combine does almost
all the work. Spark's built-in ``approx_count_distinct`` is exactly
this sketch; it is re-derived here because the built-in's hash
(xxhash64) and estimator internals aren't reproducible in the DuckDB
oracle — this one is deterministic BIT-FOR-BIT across engines:

  * base hash: the repo's portable 32-bit md5-prefix idiom
    (``dedup.portable_base_hash``; DuckDB ``('0x'||substr(md5,1,8))
    ::BIGINT``);
  * register index = ``h mod m``; remainder ``w = h div m`` is a
    ``width = 32 - b`` bit word; rho(w) = leading zeros + 1 =
    ``width + 1 - length(bin(w))`` — INTEGER ops only (``bin`` gives
    the minimal binary string in both engines), no float log2 whose
    last ulp could differ;
  * the indicator sum ``sum(2^-M)`` is computed as a SCALED-INTEGER
    sum — ``S = sum(2^(width+1-M))`` over present registers plus
    ``2^(width+1)`` per absent register — which is exact BIGINT
    arithmetic (S <= m * 2^(width+1) = 2^33), so it is
    order-independent under any partitioning (the
    ``embedding_moments`` recipe); the only floating-point steps are
    one exact power-of-two division and the final estimator ops,
    identical-operand IEEE on both engines.

Estimator: alpha_m * m^2 / sum(2^-M), with the canonical small-range
(linear-counting) correction ``m * ln(m / V)`` when the raw estimate
is under 2.5m and V (empty registers) > 0. ``ln`` is the one op whose
last ulp is libm-dependent; the 6-dp output rounding absorbs it (same
risk class as the corr/log2 twins). Large-range correction is
omitted — it only matters within 2^32 of the hash space ceiling,
far beyond any fixture.

Accuracy: the standard error is ~1.04/sqrt(m) (b=6 -> ~13%, b=10 ->
~3%). The ORACLE does not compare against the exact count — it
recomputes the identical sketch, so the gate checks the distributed
implementation, not the sketch's error; ``tests/test_sketches.py``
separately asserts the estimate lands within theory bounds of truth.

Cardinality ceiling: the 32-bit portable hash starts collision-biasing
estimates as distinct counts approach ~10^8 (birthday regime) — the
same ceiling ``dedup.portable_base_hash`` documents. ``hash_bits=60``
is the widening mode (15 md5 hex chars = 60 bits fit BIGINT in both
engines; ``bin()`` rho and the scaled-integer sum generalize
unchanged, peaking at 2^61 — exact int64), trustworthy to ~10^12
distincts per group. 32 bits stays the default because it keeps every
intermediate comfortably inside exact-int53 double territory too.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.dedup import (
    portable_base_hash,
    portable_base_hash_wide,
)

#: canonical alpha constants for small m (HLL paper, fig. 3);
#: m >= 128 uses the closed form.
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}

#: supported portable-hash widths: 32 bits (default — every
#: intermediate stays inside exact-int53 double territory) and 60 bits
#: (the documented widening past the ~10^8 distinct-count birthday
#: ceiling; register sums then peak at 2^61 — exact BIGINT in both
#: engines, and the one cast-to-double rounds identically everywhere
#: because it starts from the same exact integer).
_HASH_BITS = (32, 60)


def hll_alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_registers(df: DataFrame, key: Column, group_cols: list[str],
                  b: int = 6, hash_bits: int = 32) -> DataFrame:
    """(group..., bucket, M): the max-rho register table — the
    mergeable sketch state (union of corpora = max over this frame,
    which is how an incremental/streaming variant would checkpoint).
    NULL keys are dropped (COUNT DISTINCT semantics).
    ``hash_bits=60`` switches to the wide portable hash for
    web-scale cardinalities (see ``_HASH_BITS``)."""
    if not 4 <= b <= 16:
        raise ValueError(f"b must be in [4, 16], got {b}")
    if hash_bits not in _HASH_BITS:
        raise ValueError(f"hash_bits must be one of {_HASH_BITS}, "
                         f"got {hash_bits}")
    m, width = 1 << b, hash_bits - b
    h = (portable_base_hash_wide(key.cast("string")) if hash_bits == 60
         else portable_base_hash(key.cast("string")))
    w = F.expr(f"_h DIV {m}")
    rho = (F.when(F.col("_w") > 0,
                  F.lit(width + 1) - F.length(F.bin(F.col("_w"))))
            .otherwise(F.lit(width + 1)))
    return (df.filter(key.isNotNull())
              .select(*group_cols, h.alias("_h"))
              .withColumn("_w", w)
              .select(*group_cols,
                      F.pmod(F.col("_h"), F.lit(m)).alias("bucket"),
                      rho.alias("rho"))
              .groupBy(*group_cols, "bucket")
              .agg(F.max("rho").alias("M")))


def hll_finish(regs: DataFrame, group_cols: list[str],
               b: int = 6, hash_bits: int = 32) -> DataFrame:
    """Estimator over a register frame (from :func:`hll_registers`, a
    checkpointed streaming state, or any max-merge of such frames):
    (group..., n_buckets, est_mode, n_distinct_est). ``est_mode`` makes
    the correction branch visible ('linear' below 2.5m with empty
    registers, else 'raw').

    The scaled-integer indicator sum generalizes to the wide hash
    unchanged: S = sum over registers of 2^(width+1-M) (absent
    registers contribute 2^(width+1)), bounded by m * 2^(width+1) =
    2^(hash_bits+1) — 2^61 at 60 bits, exact BIGINT in both engines
    (POW(2, M) is a power of two, exact in a double at any M in
    range, so the cast to BIGINT never rounds)."""
    if hash_bits not in _HASH_BITS:
        raise ValueError(f"hash_bits must be one of {_HASH_BITS}, "
                         f"got {hash_bits}")
    m, width = 1 << b, hash_bits - b
    scale = 1 << (width + 1)
    alpha = hll_alpha(m)
    per_group = (regs.groupBy(*group_cols)
                     .agg(F.count("*").alias("n_buckets"),
                          F.sum(F.expr(f"CAST({scale} AS BIGINT) "
                                       f"DIV CAST(POW(2, M) AS BIGINT)"))
                           .alias("_s_present")))
    s_int = (F.col("_s_present")
             + (F.lit(m) - F.col("n_buckets")) * F.lit(scale))
    sum2 = s_int.cast("double") / F.lit(float(scale))
    e_raw = F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / sum2
    v = (F.lit(m) - F.col("n_buckets")).cast("double")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    use_linear = (e_raw <= F.lit(2.5 * m)) & (v > 0)
    return (per_group
            .withColumn("_e", F.when(use_linear, linear).otherwise(e_raw))
            .select(*group_cols, "n_buckets",
                    F.when(use_linear, F.lit("linear"))
                     .otherwise(F.lit("raw")).alias("est_mode"),
                    (F.round(F.col("_e"), 6) + F.lit(0.0))
                     .alias("n_distinct_est")))


def hll_distinct(df: DataFrame, key_col: str, group_cols: list[str],
                 b: int = 6, hash_bits: int = 32) -> DataFrame:
    """Per-group HyperLogLog distinct estimate of ``key_col`` —
    :func:`hll_registers` + :func:`hll_finish` in one call.
    ``hash_bits=60`` is the web-scale mode (trustworthy past ~10^8
    distincts per group, where the 32-bit hash starts collision-
    biasing estimates low)."""
    return hll_finish(hll_registers(df, F.col(key_col), group_cols, b,
                                    hash_bits),
                      group_cols, b, hash_bits)


def cms_counters(df: DataFrame, key: Column, w: int = 1024,
                 d: int = 4) -> DataFrame:
    """(r, c, cnt): a Count-Min sketch (Cormode & Muthukrishnan 2005)
    of the key column's frequency distribution — ``d`` rows of ``w``
    counters, each key incrementing one counter per row via an
    independent universal hash (the repo's portable md5-prefix base
    hash + the ``minhash_constants`` (a,b) family, so the sketch is
    bit-identical in the DuckDB twin — and ALL-INTEGER: counters are
    sums, exact and order-independent under any partitioning).

    Completes the sketch triad next to HLL (cardinality) and KMV (set
    ops): FREQUENCIES in O(w x d) memory. The aggregate's map-side
    combine collapses each task to <= w*d rows, so shuffle volume is
    O(tasks x w x d) regardless of corpus size; counters merge by SUM
    (union of corpora = counter sum), the mergeability that makes it a
    streaming/rollup state candidate like the HLL register frame.
    """
    if w < 2 or d < 1:
        raise ValueError(f"need w >= 2, d >= 1; got w={w}, d={d}")
    from nyctaxidatapipeline_spark.operators.dedup import (
        MINHASH_P,
        minhash_constants,
    )

    h = portable_base_hash(key.cast("string"))
    coords = []
    for i in range(d):
        a, b = minhash_constants(i)
        coords.append(F.struct(
            F.lit(i).alias("r"),
            F.pmod(F.pmod(F.lit(a) * F.col("_h") + F.lit(b),
                          F.lit(MINHASH_P)), F.lit(w)).alias("c")))
    return (df.filter(key.isNotNull())
              .select(h.alias("_h"))
              .select(F.explode(F.array(*coords)).alias("rc"))
              .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
              .agg(F.count("*").alias("cnt")))


def cms_lookup(spark, counters: DataFrame, keys: list[str],
               w: int = 1024, d: int = 4) -> DataFrame:
    """(key, est_count): point-query the sketch for literal keys.
    Estimate = min over the d rows of that key's counter (>= the true
    count always; overestimate probability shrinks as e^-d for w >=
    e*heavy_mass). Keys hash through the same Spark expressions the
    sketch used, the d-row coordinate set joins the O(w x d) counter
    table (broadcast — it is sketch-sized, never corpus-sized), and a
    missing counter reads as 0."""
    from nyctaxidatapipeline_spark.operators.dedup import (
        MINHASH_P,
        minhash_constants,
    )

    from nyctaxidatapipeline_spark.plans.util import local_frame

    kdf = local_frame(spark, [(k,) for k in keys], "key string")
    h = portable_base_hash(F.col("key"))
    coords = []
    for i in range(d):
        a, b = minhash_constants(i)
        coords.append(F.struct(
            F.lit(i).alias("r"),
            F.pmod(F.pmod(F.lit(a) * F.col("_h") + F.lit(b),
                          F.lit(MINHASH_P)), F.lit(w)).alias("c")))
    kc = (kdf.select("key", h.alias("_h"))
             .select("key", F.explode(F.array(*coords)).alias("rc"))
             .select("key", F.col("rc.r").alias("r"),
                     F.col("rc.c").alias("c")))
    return (kc.join(F.broadcast(counters), ["r", "c"], "left")
              .groupBy("key")
              .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                    .alias("est_count")))


#: KMV hash range: the portable base hash is uniform on [0, 2^32).
_KMV_RANGE = float(1 << 32)


def kmv_sketch(df: DataFrame, key_col: str, group_col: str,
               k: int = 256) -> DataFrame:
    """(group, hs): bottom-k DISTINCT portable hashes per group — the
    K-Minimum-Values sketch (Bar-Yossef et al. 2002; the Theta-sketch
    family). Unlike HLL it supports SET OPERATIONS: the bottom-k of a
    union is computable from the members' bottom-k alone, which is
    what :func:`kmv_overlap` exploits for intersection estimates.

    Deterministic by construction (a set's k smallest hashes don't
    depend on order), so bit-for-bit oracle-checkable. Scale shape:
    one distinct on (group, hash) — map-side partial dedup, shuffle
    carries unique pairs — then ``row_number <= k`` which Spark plans
    as WindowGroupLimit (partial top-k BEFORE the window's shuffle
    boundary), then a k-bounded collect_list per group. Groups with
    fewer than k distinct keys keep their whole (exact) hash set.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark.sql import Window

    h = portable_base_hash(F.col(key_col).cast("string"))
    d = (df.filter(F.col(key_col).isNotNull())
           .select(group_col, h.alias("h"))
           .distinct())
    w = Window.partitionBy(group_col).orderBy("h")
    return (d.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") <= k)
             .groupBy(group_col)
             .agg(F.sort_array(F.collect_list("h")).alias("hs")))


def kmv_distinct(sketch: DataFrame, group_col: str,
                 k: int = 256) -> DataFrame:
    """(group, n_distinct_est) from a :func:`kmv_sketch` frame: the
    unbiased (k-1)/U_(k) estimator, exact when the group held fewer
    than k distinct keys (the sketch IS the set)."""
    sz = F.size("hs")
    est = F.when(sz < k, sz.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_RANGE)
        / F.array_max("hs").cast("double"))
    return sketch.select(group_col,
                         (F.round(est, 6) + F.lit(0.0))
                          .alias("n_distinct_est"))


def kmv_overlap(sketch: DataFrame, group_col: str,
                k: int = 256) -> DataFrame:
    """All group pairs (a < b) with estimated UNION size, Jaccard, and
    INTERSECTION size — the audience-overlap question ("how many users
    did both X and Y") that an exact answer needs a full
    distinct-pair shuffle for, answered here from k-bounded sketches.

    Recipe (Theta-sketch standard): merge = bottom-k of the hash-set
    union (computable from the two sketches — array_union/sort/slice,
    all set-deterministic); kth smallest gives the union estimate;
    the fraction of merged hashes present in BOTH sketches estimates
    Jaccard; intersection = J x union. Every value is integer-derived
    until the final divisions, so both engines produce identical
    doubles (6-dp round + signed-zero normalization on output, repo
    convention). The pair join runs over the SKETCH table (one row
    per group), never the corpus.
    """
    a = sketch.select(F.col(group_col).alias("ga"),
                      F.col("hs").alias("hs_a"))
    b = sketch.select(F.col(group_col).alias("gb"),
                      F.col("hs").alias("hs_b"))
    u = F.slice(F.array_sort(F.array_union("hs_a", "hs_b")), 1, k)
    ku = F.size(F.col("_u"))
    union_raw = F.when(ku < k, ku.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_RANGE)
        / F.array_max("_u").cast("double"))
    inter_in_u = F.size(F.array_intersect(
        F.array_intersect(F.col("_u"), F.col("hs_a")), F.col("hs_b")))
    jac_raw = inter_in_u.cast("double") / ku.cast("double")
    return (a.join(b, F.col("ga") < F.col("gb"))
             .withColumn("_u", u)
             .select("ga", "gb",
                     ku.alias("k_used"),
                     (F.round(union_raw, 6) + F.lit(0.0))
                      .alias("union_est"),
                     (F.round(jac_raw, 6) + F.lit(0.0))
                      .alias("jaccard_est"),
                     (F.round(jac_raw * union_raw, 6) + F.lit(0.0))
                      .alias("intersection_est")))


def hash_sample_rank(rank_cols: Sequence[str]) -> Column:
    """The deterministic sampling rank: md5 over the ':'-joined key
    columns (cast to string — integer/string keys only; float keys
    would format differently across engines). A fixed uniform hash of
    the ROW KEY, independent of the sampled value, so ordering by it
    is a reproducible uniform row sample in both engines.

    NULL key columns coalesce to a NUL-byte sentinel BEFORE joining —
    ``concat_ws`` alone silently *skips* NULL arguments, which would
    collapse distinct keys onto one rank ((1, NULL) and (NULL, 1)
    both hashing ``'1'``) and diverge from a ``||``-spelled twin
    (where NULL propagates). The portable DuckDB spelling is
    ``md5(COALESCE(CAST(k1 AS VARCHAR), chr(0)) || ':' || ...)`` —
    identical bytes in both engines, NULL or not. Out of contract:
    string keys that contain NUL or ':' themselves (ambiguous joins —
    use integer keys or pre-escape).

    WIDTH — DECIDED, PERMANENT (VERDICT r13 task 7): the rank stays
    the full 32-char md5 hex string. A 60-bit numeric prefix would
    halve the sketch shuffle row (~115 B → ~60 B, PLANS.md #34/#41)
    but (a) changes the sample wherever two rows collide in the top
    60 bits (the current string order resolves them at full 128-bit
    precision before the payload tiebreak), so every registered
    sketch result, every DuckDB twin, and the PERSISTED streaming
    sketch state (``_rk`` is stored state in the quantile doors)
    would re-baseline for a width win that is already config-bounded
    — post-trim sketch shuffles carry ≤ k (× salt × groups) rows at
    ANY corpus size, so the 4× width multiplies a bounded quantity,
    not a data-sized one; and (b) the r12→r13 censuses priced the
    real lever as the map-side trims (5.1× shuffle reduction),
    leaving width a second-order term. If persisted sketch state
    ever gains a version field for another reason, re-open then;
    nothing else justifies the migration."""
    return F.md5(F.concat_ws(
        ":", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
               for c in rank_cols]))


def _rank_salt(salt_buckets: int) -> Column:
    """Salt derived from the TAIL of the md5 rank (hex chars 29-32,
    the low 16 bits): uniform, engine-free (a pure function of the
    rank string), and — load-bearing for correctness — EQUAL ranks
    always share a salt, so a tie-group can never be split across
    buckets by the two-phase trims. Shared by the grouped and
    ungrouped salted bottom-k forms; the HEAD of the rank is what the
    sample orders by, so head and tail bits are independent for md5."""
    return F.pmod(F.conv(F.substring("_rk", 29, 4), 16, 10).cast("long"),
                  F.lit(int(salt_buckets))).cast("int")


#: Naive-vs-tree crossover for ``salt_buckets="auto"``: the naive
#: single-merge plan (TakeOrderedAndProject) reads ~k rows from EVERY
#: upstream task into one reducer; keep it while that worst-case
#: fan-in (k x estimated task count) stays under this row bound —
#: 2^21 rows ~= 240 MB at the census's ~115 B/row, a comfortable
#: single-task merge — and switch to the salted tree above it. At
#: k=16384 the switch lands at ~128 upstream tasks: every local-mode
#: fixture (sf0.1 ~2 tasks, the /tmp sf10 fixture ~32) keeps the
#: bounded-heap plan the r12 bench measured 2x cheaper, while any real
#: 100 TB scan (10^5-10^6 tasks) gets the tree whose final merge is
#: config-bounded at salt x k (VERDICT r13 task 2).
NAIVE_MERGE_FANIN_MAX = 1 << 21


#: The file-stat task estimate is a deliberate LOWER bound (safe for
#: fan_out's repartition-skip, anti-conservative for the naive-vs-tree
#: choice where UNDER-estimating tasks under-prices the naive merge's
#: fan-in — ADVICE r14). Doubling it biases the crossover toward the
#: tree: the worst mispick is paying the tree's small fixed premium
#: one octave early, vs. the naive merge overshooting its 240 MB
#: single-task budget by the estimate's error.
_FANIN_ESTIMATE_SAFETY = 2


def _auto_salt_buckets(df: DataFrame, k: int,
                       tree_buckets: int = 32) -> int | None:
    """Resolve ``salt_buckets="auto"``: None (naive single merge) for
    inputs whose estimated task count keeps the naive fan-in under
    :data:`NAIVE_MERGE_FANIN_MAX`, else ``tree_buckets`` (the salted
    tree). Task count comes from the same plan-time file-stat estimate
    the ``fan_out`` helper trusts (Spark's own FilePartition
    bin-packing formula over the scan's files), doubled by
    :data:`_FANIN_ESTIMATE_SAFETY` because that estimate is a lower
    bound and the risk here is asymmetric (ADVICE r14). Non-file-backed
    frames fall back to ``max(defaultParallelism,
    spark.sql.shuffle.partitions)`` — a shuffled intermediate's
    upstream task count is the shuffle-partition conf (e.g. 200 on a
    4-core session), not the core count, so taking only the cluster
    width could under-price the fan-in by a multiple (ADVICE r14). The
    decision arithmetic itself is :func:`_tree_pays_off` so the switch
    point is unit-pinnable without a cluster."""
    from nyctaxidatapipeline_spark.plans.util import (
        _estimated_scan_partitions,
    )

    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    est_tasks = _estimated_scan_partitions(df, parallelism)
    if est_tasks is None:
        est_tasks = max(parallelism,
                        int(spark.conf.get("spark.sql.shuffle.partitions",
                                           str(parallelism))))
    else:
        est_tasks = int(est_tasks) * _FANIN_ESTIMATE_SAFETY
    return tree_buckets if _tree_pays_off(est_tasks, k) else None


def _tree_pays_off(est_tasks: int, k: int) -> bool:
    """True when the salted tree's bounded merge beats the naive
    single merge: the naive reducer would read ~``est_tasks x k`` rows
    (every task ships its local bottom-k), which binds past
    :data:`NAIVE_MERGE_FANIN_MAX`; below that the tree's two extra
    exchanges plus full per-partition sorts (the WindowGroupLimit
    partial sorts whole partitions where TakeOrderedAndProject keeps a
    k-heap) are pure premium — measured 2x at sf0.1, +91% at sf10
    (VERDICT r13)."""
    return int(est_tasks) * int(k) > NAIVE_MERGE_FANIN_MAX


def hash_sample_bottom_k(df: DataFrame, rank_cols: Sequence[str],
                         payload_cols: Sequence[str],
                         k: int = 16384,
                         salt_buckets: int | None | str = "auto",
                         ) -> DataFrame:
    """The k rows with the SMALLEST md5 rank — a deterministic
    bottom-k order sketch (the KMV construction pointed at row
    sampling instead of distinct counting), this engine's
    hash-checkable alternative to randomized KLL/t-digest compaction
    for quantile estimation:

      * **uniform**: md5 of the row key is uniform on [0, 2^128), so
        the bottom k ranks are a uniform k-row sample without
        replacement — the empirical q-quantile of the sample misses
        the true rank by ~sqrt(q(1-q)/k) (k=16384 → ±0.4% rank at
        the median, ±0.08% at p99 — TIGHTER than the reference's
        approxQuantile(rel_err=0.01) contract);
      * **mergeable**: bottom_k(A ∪ B) == bottom_k(bottom_k(A) ∪
        bottom_k(B)) — the fixed global rank makes the partial
        sketches losslessly combinable (unit-pinned), which is
        exactly how Spark executes it: per-partition top-k, one
        k-row merge (TakeOrderedAndProject — no full sort, no
        whole-column buffer);
      * **deterministic**: same rows in ANY order → same sample →
        same quantile, reproducible verbatim in DuckDB (``ORDER BY
        md5(...) LIMIT k``) — unlike KLL (random compaction offsets)
        or t-digest (insertion-order-dependent clusters), which can
        only ever be rows-only checked.

    Memory/shuffle — SALTED TREE MERGE (VERDICT r12 task 1), selected
    BY INPUT SIZE (``salt_buckets="auto"``, VERDICT r13 task 2). The
    naive ``orderBy(rank).limit(k)`` compiles to one
    TakeOrderedAndProject: per-task bottom-k map-side, then EVERY
    task's k survivors into ONE reducer — O(k × map tasks) fan-in,
    which the PLAN_METRICS census measured growing task-count-linearly
    (0.6 MB sf0.1 → 20 MB sf1 on `fare_anomalies_sketch`) and which
    binds at 100 TB task counts (~10^6 tasks × k rows into a single
    merge). Below that regime the naive plan is strictly CHEAPER (its
    per-task bounded heap is O(n log k) where the tree's level-0
    WindowGroupLimit partial must fully sort each partition; measured
    2× at sf0.1, +91% at sf10 — the r13 premium), so the default
    ``"auto"`` picks per input: naive while the estimated fan-in
    ``tasks × k`` stays under :data:`NAIVE_MERGE_FANIN_MAX` (~240 MB
    into the one merge task), the tree above — the same plan-time
    live-corpus sizing as ``rp_lsh_params``/``fan_out``. The tree is a
    three-level shape, every level's fan-in bounded:

      0. **per-input-partition bottom-k, map-side**: a row_number
         window on ``spark_partition_id()`` — Spark's
         InferWindowGroupLimit inserts ``WindowGroupLimit(Partial)``
         BELOW the exchange, so each map task ships ≤ k rows (same
         map output as TakeOrderedAndProject's partial top-k; the
         local sort replaces its bounded heap — standard SMJ-style
         map-side sort, spillable);
      1. **per-salt bottom-k** over the ≤ k-per-task survivors: salt
         = low 16 bits of the rank (:func:`_rank_salt` — equal ranks
         share a salt, so tie-groups never split), again with a
         map-side Partial trim; each of the ``salt_buckets`` reducers
         receives ~(k × level-0 partitions) / salt_buckets rows and
         keeps ≤ k;
      2. **final merge**: TakeOrderedAndProject over the ≤
         salt_buckets × k survivors — the single-partition merge
         reads a CONFIG-bounded row count, independent of data size
         and task count (plan + fan-in pinned in
         tests/test_sketches.py).

    The sample is bit-identical to the naive form at any
    ``salt_buckets`` (bottom-k is mergeable under any partitioning;
    unit-pinned salt-count invariance): every global bottom-k row is
    in its own input partition's bottom-k and in its own salt
    bucket's bottom-k. ``salt_buckets=None`` forces the naive
    single-merge plan — the right shape for already-bounded inputs
    (the streaming per-epoch merges, whose inputs are ≤ old-sketch +
    one micro-batch); an int forces the tree at that salt count (how
    the fan-in census pins the tree shape on small fixtures). The
    scan stays a full linear pass (one md5 per row) either way.

    BINDING TIME (r13 review finding 3): the threshold gate
    (:func:`_resolve_salt_buckets`) reads the session conf when the
    frame is BUILT, while Spark's InferWindowGroupLimit consults it
    again when the frame is EXECUTED. Lowering the conf between build and action is out of
    contract — it would execute the tree WITHOUT its map-side trims
    (whole input through two exchanges). The repo session pins the
    conf at build (session.py) and nothing in the repo lowers it
    outside a test's try/finally; callers embedding this operator
    elsewhere must not toggle the conf mid-flight.

    ``rank_cols`` need NOT uniquely key the rows: ties on the md5
    rank are broken by the payload columns, so rows identical in
    (rank, payload) are interchangeable and the sampled payload
    MULTISET is deterministic either way (the sf0.01 lineitem fixture
    has ~20% duplicate (orderkey, linenumber) pairs — rank-only
    ordering was measurably flaky there)."""
    base = df.select(hash_sample_rank(rank_cols).alias("_rk"),
                     *payload_cols)
    order = ["_rk", *payload_cols]
    salt_buckets = _resolve_salt_buckets(df, k, salt_buckets)
    if salt_buckets is None:
        return base.orderBy(*order).limit(int(k))
    lvl0 = bottom_k_rows(base.withColumn("_pid", F.spark_partition_id()),
                         ["_pid"], order, k).drop("_pid")
    lvl1 = bottom_k_rows(lvl0.withColumn("_salt", _rank_salt(salt_buckets)),
                         ["_salt"], order, k).drop("_salt")
    return lvl1.orderBy(*order).limit(int(k))


def _resolve_salt_buckets(df: DataFrame, k: int,
                          salt_buckets: int | None | str) -> int | None:
    """The merge shape BOTH bottom-k forms take: ``"auto"`` resolves
    by estimated fan-in (:func:`_auto_salt_buckets`), and any tree
    degrades to the naive shape (None) when the session's
    ``windowGroupLimitThreshold`` sits below k. The tree only pays when
    Spark rewrites its row_number trims into map-side
    ``WindowGroupLimit(Partial)`` — gated by that conf (default
    1000 < k: no rewrite, so the tree's exchanges would ship the WHOLE
    input, worse than the naive merge's single one). The repo session
    (session.py) raises it to 2^20; the sample is bit-identical
    either way."""
    if salt_buckets == "auto":
        salt_buckets = _auto_salt_buckets(df, k)
    wgl = int(df.sparkSession.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold", "1000"))
    return None if wgl < int(k) else salt_buckets


def bottom_k_rows(df: DataFrame, part_cols: Sequence[str],
                  order_cols: Sequence[str], k: int) -> DataFrame:
    """The <= k smallest rows by ``order_cols`` per ``part_cols``
    partition: one row_number window, which Spark's
    InferWindowGroupLimit trims map-side (``WindowGroupLimit(Partial)``
    below the exchange) whenever k is under the session threshold."""
    from pyspark.sql import Window

    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= int(k)).drop("_rn"))


def hash_sample_quantile_summary(df: DataFrame, value_col: str,
                                 rank_cols: Sequence[str],
                                 qs: Sequence[float] = (0.5, 0.9,
                                                        0.99, 0.999),
                                 k: int = 16384) -> DataFrame:
    """Whole-distribution summary — one (q, value) row per requested
    quantile, ``value`` rounded 6 dp — off ONE
    :func:`hash_sample_bottom_k` sample (``quantiles(mode='sketch')``):
    each extra quantile is one more index into the already-collected
    k-row array, so ONE linear scan + one config-bounded merge yields
    the whole summary, where per-quantile ``percentile_approx`` calls
    or repeated exact percentiles each re-pay their pass. Duplicate
    ``qs`` are harmless (two identical output rows)."""
    from nyctaxidatapipeline_spark.operators.quantiles import (
        QUANTILES,
        quantiles,
    )

    qdf = quantiles(df, value_col, qs, mode="sketch", rank_cols=rank_cols,
                    k=k)
    rows = F.array(*[F.struct(F.lit(float(q)).alias("q"),
                              F.col(QUANTILES)[i].alias("value"))
                     for i, q in enumerate(qs)])
    return (qdf.select(F.inline(rows))
               .select("q", (F.round("value", 6) + F.lit(0.0))
                       .alias("value"))
               .orderBy("q"))


def grouped_hash_sample_bottom_k(df: DataFrame,
                                 group_cols: Sequence[str],
                                 value_col: str,
                                 rank_cols: Sequence[str],
                                 k: int = 4096,
                                 salt_buckets: int | None | str
                                 = "auto") -> DataFrame:
    """Per-group bottom-k hash sample — (group cols, ``_v``, ``_rk``)
    with <= k rows per group, the grouped sibling of
    :func:`hash_sample_bottom_k` and the sample
    ``grouped_percentiles(mode='sketch')`` reads percentiles off.
    Mergeable per group exactly like the ungrouped sketch (same fixed
    md5 rank), which is what the streaming grouped-quantile state
    maintains.

    SHAPE BY INPUT SIZE (VERDICT r14 task 1): ``salt_buckets`` resolves
    through the same :func:`_resolve_salt_buckets` as the ungrouped
    form. Below the fan-in bound (estimated tasks × k <=
    :data:`NAIVE_MERGE_FANIN_MAX`) the NAIVE single window per group
    wins — ONE exchange on the group key, with a map-side
    ``WindowGroupLimit(Partial)`` trim so each map task ships <= k rows
    per group (measured 1.5× cheaper than the salted tree at sf0.1).
    Above it, the TWO-PHASE SALTED tree (VERDICT r10 item 1): phase 1
    keeps <= k rows per (group, salt-from-rank-tail) so no single
    reducer ever absorbs a whole group's k×tasks survivors (~10^6 ×
    4096 rows for a 3-value key at 100 TB); phase 2 re-windows the
    <= k·S survivors per group (config-bounded input). Every row of a
    group's global bottom-k is in its own bucket's bottom-k (equal
    ranks share a salt, so tie-groups never split) — output identical
    to the logical single-window form the DuckDB twin spells, at ANY
    salt count (unit-pinned). ``salt_buckets=None`` forces the naive
    window; an int forces the tree at that salt count.

    EXECUTOR SIZING (VERDICT r12 task 7, measured at sf10 — PLANS.md
    #41): the suite's largest single-operator peak is phase 1's
    MAP-SIDE sort of each input partition, and it is INDEPENDENT of
    ``salt_buckets`` (byte-identical 7.52 GB at S=16/32/64, sf10) —
    peak ≈ concurrent tasks × (maxPartitionBytes-worth of rows ×
    unsafe-row width, ~115 B here with the 32-char rank). To shrink
    the peak, shrink ``spark.sql.files.maxPartitionBytes`` (more,
    smaller sort runs) — NOT the salt count. The salt count instead
    prices the post-trim SHUFFLE linearly (the map-side
    WindowGroupLimit cap is k per (group, salt): 262 MB / 522 MB /
    1.04 GB at S=16/32/64, sf10), so pick the SMALLEST S with
    groups × S ≳ shuffle partitions (reducer spread) — the default 32
    covers P <= ~100 at the fixture's 3 groups."""
    base = df.select(*group_cols, F.col(value_col).alias("_v"),
                     hash_sample_rank(rank_cols).alias("_rk"))
    # rank ties broken by the value (see hash_sample_bottom_k) — the
    # per-group sampled value multiset is deterministic without a
    # unique row key
    order = ["_rk", "_v"]
    salt_buckets = _resolve_salt_buckets(df, k, salt_buckets)
    if salt_buckets is not None:
        salted = base.withColumn("_salt", _rank_salt(salt_buckets))
        base = bottom_k_rows(salted, [*group_cols, "_salt"], order,
                             k).drop("_salt")
    return bottom_k_rows(base, group_cols, order, k)
