"""Deduplication suite — exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-star operators for a training-data pipeline (BASELINE.json): the
reference has no dedup surface (its closest op is the implicit
``dropDuplicates``-able trip table), so these are designed Spark-first:

  * **exact_dedup** — hash groupBy on the key; one shuffle, fully scalable.
  * **jaccard_pairs** — brute-force candidate generation via a shingle
    self-join. Exact, oracle-testable; quadratic in the worst case, so it
    takes a ``max_df`` stop-shingle cap (drop shingles appearing in more
    than ``max_df`` docs — standard trick; hot shingles produce O(df²)
    candidate pairs and carry no signal).
  * **minhash_lsh_pairs** — the 100 TB path: k min-hashes per doc from
    built-in ``xxhash64`` (JVM, no UDF), banded into LSH buckets; only
    bucket-colliding pairs are verified with exact Jaccard. Shuffle volume
    is O(docs x bands), never O(docs²).
  * **simhash64 / simhash_near_pairs** — 64-bit sign-sum sketch over
    feature hashes; near-dups = pairs within ``max_hamming`` bits, found
    via band-exact buckets (pigeonhole: d bits differ → some band of
    ``bands > d`` is identical).
  * **near_dup_production** — the registered 100 TB DEFAULT: exact
    collapse first (linear), capped LSH over representatives,
    components, per-row groups (26 s at sf10 where uncapped pairing
    takes 302 s); **dedup_group_stats** is its duplication histogram.
  * **incremental_minhash_admission / build_minhash_index** — the
    daily-increment gate: the corpus reduces to a persistable
    band-bucket index, never re-pairing against itself.
  * **lsh_recall_report** — sketch quality (recall/precision vs the
    exact pairs) as a first-class measured query.

Sketch outputs normally depend on Spark's hash functions; MinHash and
SimHash each also offer a ``portable=True`` hash family (md5-derived — see
``minhash_constants`` / ``simhash_words``) that DuckDB reproduces
bit-for-bit, so their registered queries are fully value-hash-checked
against the oracle rather than rows-only. The xxhash64 variants remain the
pure-JVM production defaults.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.functions.text import shingles, tokens
from nyctaxidatapipeline_spark.operators.indexmeta import (
    check_index_params,
    stamp_index_params,
)
from nyctaxidatapipeline_spark.plans.util import fan_out, local_frame


def exact_dedup(df: DataFrame, key_cols: list[str],
                id_col: str) -> DataFrame:
    """One representative row (min id) per distinct key + duplicate count.

    Deterministic (unlike ``dropDuplicates``, which keeps an arbitrary
    row): safe for oracle comparison and for reproducible pipelines.
    """
    return (df.groupBy(*key_cols)
              .agg(F.min(id_col).alias(id_col),
                   F.count("*").alias("n_copies")))


def doc_shingles(df: DataFrame, text_col: str, id_col: str,
                 n: int = 3) -> DataFrame:
    """Distinct (id, shingle) pairs — the set representation used by both
    the brute-force and MinHash paths.

    Tokens are materialized in their own projection: higher-order
    functions are interpreted (not codegen'd), so an inlined
    ``tokens(text)`` inside the shingle lambda re-runs the regex split
    per element — O(len²) per doc. A separate projection makes the lambda
    reference a cheap array attribute (Catalyst keeps the projection:
    CollapseProject won't duplicate a non-cheap expr referenced 3x).

    The input is fanned out to cluster parallelism first: regex tokenize +
    shingle explode is the CPU hot loop of every dedup path, and a small
    parquet input plans it as one task (no-op at real scale).
    """
    toks = fan_out(df, id_col).select(id_col, tokens(text_col).alias("_toks"))
    return (toks.select(id_col,
                        F.explode(shingles(F.col("_toks"), n))
                         .alias("shingle"))
                .distinct())


def jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                  n: int = 3, threshold: float = 0.5,
                  max_df: int | None = 100) -> DataFrame:
    """Exact n-gram Jaccard similarity for all candidate pairs.

    Candidates = pairs sharing ≥1 (non-stop) shingle; Jaccard computed
    from shared-shingle counts: J = |A∩B| / (|A| + |B| - |A∩B|).
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    # No .cache() here: the shingle frame is read by two branches, but a
    # leaked cache in a long-lived session (bench, driver) costs more in GC
    # pressure than the pipelined recompute of a split+explode. Callers
    # doing repeated near-dup sweeps can persist the input themselves.
    sh = doc_shingles(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size"))
    # Posting lists per shingle instead of a shingle self-join; the df
    # cap bounds list size AND replaces a separate hot-shingle anti-join.
    shared = (_posting_pairs(sh, ["shingle"], id_col, max_df)
              .select("p.id_a", "p.id_b")
              .groupBy("id_a", "id_b")
              .agg(F.count("*").alias("n_shared")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("set_size").alias("size_b"))
    out = (shared.join(sa, "id_a").join(sb, "id_b")
           .withColumn("jaccard",
                       F.col("n_shared") /
                       (F.col("size_a") + F.col("size_b") - F.col("n_shared")))
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return out


def _hash_expr(i: int, col: str | Column) -> Column:
    """The i-th hash function: xxhash64 with the index baked into the
    input (Spark's xxhash64 seed is fixed, so we vary the message)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.concat(F.lit(f"mh{i}:"), c))


#: modulus of the portable universal-hash family: the Mersenne prime 2^61-1
MINHASH_P = (1 << 61) - 1


def minhash_constants(i: int) -> tuple[int, int]:
    """(a_i, b_i) for the i-th portable hash h_i = (a_i*h + b_i) mod P.

    Derived from md5 of the index (plain Python, deterministic, no RNG
    state). ``a_i`` is masked to 30 bits and forced odd so ``a_i * h``
    stays under 2^62 for a 32-bit base hash — BIGINT arithmetic then
    never overflows in EITHER engine (Spark ANSI mode and DuckDB both
    raise on overflow rather than wrapping).
    """
    import hashlib

    a = (int(hashlib.md5(f"mh-a{i}".encode()).hexdigest()[:8], 16)
         & ((1 << 30) - 1)) | 1
    b = int(hashlib.md5(f"mh-b{i}".encode()).hexdigest()[:8], 16)
    return a, b


def portable_base_hash(col: str | Column) -> Column:
    """32-bit integer hash every engine reproduces bit-for-bit: the first
    8 hex chars of md5, as an integer (same idiom as ``sampling.py``;
    DuckDB: ``('0x' || substr(md5(s), 1, 8))::BIGINT``).

    32 bits is plenty below ~10^8 distinct shingles; at 100 TB corpus
    scale base-hash collisions start merging shingles (a tiny Jaccard
    bias), so the pure-JVM xxhash64 path remains the default for
    production and this one exists for cross-engine verifiability.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def portable_base_hash_wide(col: str | Column) -> Column:
    """60-bit portable hash: the first 15 hex chars of md5 as an
    integer (DuckDB: ``('0x' || substr(md5(s), 1, 15))::BIGINT``) —
    the widening path past :func:`portable_base_hash`'s ~10^8
    birthday-regime ceiling. 60 bits keeps collision bias negligible
    to ~10^12 distincts while still fitting BIGINT in every engine
    (and leaving headroom for the HLL scaled-integer register sums,
    which peak at 2^61 — see ``sketches.hll_finish``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       n: int = 3, num_hashes: int = 32,
                       portable: bool = False,
                       shingles_df: DataFrame | None = None) -> DataFrame:
    """(id, h0..h{k-1}) — k independent min-hashes over the shingle set.

    ``portable=False`` (default): k xxhash64 evaluations per shingle —
    fastest, JVM-only. ``portable=True``: ONE md5 per shingle, then k
    universal-hash derivations ``(a_i*h + b_i) mod 2^61-1`` — cheaper
    than k full hashes AND bit-reproducible in DuckDB/Python/anything,
    which lets the LSH output graduate from rows-only to a full
    value-hash oracle check (the constants are ``minhash_constants``).
    ``shingles_df`` (a precomputed ``doc_shingles`` frame) skips the
    tokenize+explode — the reuse hook ``minhash_lsh_pairs`` threads.
    """
    sh = (shingles_df if shingles_df is not None
          else doc_shingles(df, text_col, id_col, n))
    if portable:
        base = sh.select(id_col, portable_base_hash("shingle").alias("_h"))
        aggs = []
        for i in range(num_hashes):
            a, b = minhash_constants(i)
            aggs.append(F.min((F.lit(a) * F.col("_h") + F.lit(b))
                              % F.lit(MINHASH_P)).alias(f"h{i}"))
        return base.groupBy(id_col).agg(*aggs)
    aggs = [F.min(_hash_expr(i, "shingle")).alias(f"h{i}")
            for i in range(num_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def _band_buckets(sig: DataFrame, id_col: str, bands: int, r: int,
                  portable: bool) -> DataFrame:
    """(id, band, bucket) — the LSH band-bucket table of a signature
    frame. ``portable=True`` keys buckets with the concatenated hash
    tuple (DuckDB-reproducible); default packs it through xxhash64.
    Shared by the self-join (``minhash_lsh_pairs``) and the
    batch-vs-corpus (``incremental_minhash_admission``) paths."""
    rows = [[F.col(f"h{bi * r + j}") for j in range(r)]
            for bi in range(bands)]
    if portable:
        buckets = [F.concat_ws(":", *[h.cast("string") for h in hs])
                   for hs in rows]
    else:
        buckets = [F.xxhash64(*hs) for hs in rows]
    return _band_table(sig, id_col, buckets)


def _band_table(sig: DataFrame, id_col: str, buckets: list[Column],
                keep: tuple[str, ...] = ()) -> DataFrame:
    """(id, *keep, band, bucket) — one row per band of every signature
    row: ``buckets[bi]`` is band ``bi``'s bucket key over ``sig``'s
    columns, exploded from one array of (band, bucket) structs. The
    banding step of every LSH family here (MinHash, SimHash, RP-LSH);
    ``keep`` carries signature columns a caller needs past the
    banding (SimHash's words, for the Hamming check)."""
    band_cols = [F.struct(F.lit(bi).alias("band"), b.alias("bucket"))
                 for bi, b in enumerate(buckets)]
    return (sig.select(id_col, *keep,
                       F.explode(F.array(*band_cols)).alias("bb"))
               .select(id_col, *keep, "bb.band", "bb.bucket"))


def _posting_pairs(src: DataFrame, keys: list[str], entry: str | Column,
                   max_size: int | None = None,
                   pair: Callable[[Column, Column], Column] | None = None
                   ) -> DataFrame:
    """The posting-list pair expansion under every near-dup candidate
    generator: group ``src`` by ``keys``, collect each key's sorted
    distinct ``entry`` values, keep lists of 2 up to ``max_size``
    entries, and explode ``pair(x, y)`` for every x listed before y —
    one struct column ``p``. ``pair`` defaults to (id_a, id_b); sorted
    lists of unique ids emit each pair once, smaller id first.

    A groupBy and in-array combinations rather than a key self-join:
    one shuffle keyed on ``keys``, no broadcast side, so the plan holds
    at any corpus size. ``max_size`` is the overfull-list guard —
    expansion is quadratic in list size."""
    if pair is None:
        pair = lambda x, y: F.struct(  # noqa: E731
            x.alias("id_a"), y.alias("id_b"))
    lists = (src.groupBy(*keys)
                .agg(F.sort_array(F.collect_set(entry)).alias("ids"))
                .filter(F.size("ids") >= 2))
    if max_size is not None:
        lists = lists.filter(F.size("ids") <= max_size)
    ids = F.col("ids")
    pairs = F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(F.slice(ids, i + F.lit(2), F.size(ids)),
                                 lambda y: pair(x, y))))
    return lists.select(F.explode(pairs).alias("p"))


def _simhash_buckets(bands: int) -> list[Column]:
    """SimHash's pigeonhole band keys over (sh_lo, sh_hi): band ``bi``
    is bits [bi·w, (bi+1)·w) of the 64-bit signature, w = 64/bands.
    Slices must not straddle the two 32-bit words, so ``bands`` must be
    one of 2/4/8/16/32."""
    width = 64 // bands
    if width > 32 or 32 % width:
        raise ValueError(
            f"bands ({bands}) must be one of 2/4/8/16/32 so band slices "
            "align with the 32-bit signature words")
    return [F.shiftright(F.col("sh_lo") if bi * width < 32
                         else F.col("sh_hi"), (bi * width) % 32)
             .bitwiseAND(F.lit((1 << width) - 1))
            for bi in range(bands)]


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      n: int = 3, num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      portable: bool = False,
                      max_bucket: int | None = 32,
                      reuse_shingles: bool = False,
                      corpus_index: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, verified with exact Jaccard.

    ``bands`` bands of ``num_hashes/bands`` rows each: collision probability
    for similarity s is 1-(1-s^r)^b — with 32/8 the S-curve crosses ~0.5
    around s≈0.55. Verification removes false positives; false negatives
    follow the curve (raise bands for higher recall).

    ``portable=True`` switches both the min-hashes (see
    ``minhash_signatures``) and the band bucket key (the concatenated
    hash tuple instead of an xxhash64 of it) to forms DuckDB reproduces
    bit-for-bit, making the whole LSH output oracle-checkable. Bucket
    keys become strings (~r x 19 bytes instead of 8) — the small extra
    shuffle width is the price of verifiability; candidates/results are
    identical whenever no xxhash64 bucket collision occurs.

    ``max_bucket`` skips band buckets holding more than that many docs
    (the standard overfull-bucket guard): pair expansion is quadratic
    in bucket size, so a duplicate CLASS of c copies emits ~c²/2 pairs
    per band — measured 46x at a 10x scale-up on a fixture where every
    text has 100 exact copies (BENCH_SF10, PLANS.md #18). At web scale
    boilerplate classes run to millions; the production recipe is
    EXACT dedup first (``exact_dedup`` collapses copy classes to one
    representative — hash-groupBy, linear), then LSH with a cap as the
    backstop against residual hot buckets. **The cap DEFAULTS ON
    (32)** — PLANS.md #20 measured it load-bearing, so the scale-safe
    behavior is what a bare call gets; pass ``max_bucket=None`` to
    opt into the uncapped exhaustive semantics (correctness oracles,
    sample-scale recall studies). *Changed in 0.2.0* (was ``None``):
    external callers relying on exhaustive pair enumeration must now
    opt out explicitly — see CHANGELOG.md.

    ``reuse_shingles`` materializes the (id, shingle) frame once
    (``localCheckpoint(eager=False)``, which under AQE runs the
    shingle ``distinct``'s shuffle at the call and leaves only the final
    stage to the first action) and shares it between the signature and
    verification paths, which otherwise each re-run the tokenize +
    shingle explode + distinct from source. Identical results either
    way (pure physical). The checkpoint is O(corpus shingles) of
    executor-local storage — the right trade whenever the operator is
    the terminal consumer of its input (the curation pipeline, the
    exact-first production composition); default False keeps the
    storage-free recompute for callers embedding this in a larger plan.

    ``corpus_index`` takes a prebuilt :func:`build_minhash_index` frame
    for EXACTLY this ``df`` (read back from wherever the deployment
    persists it) and skips the signature + banding pass — the dominant
    cost of a cold run — leaving only the bucket→pair expansion and the
    exact-Jaccard verification (which still reads ``df``'s text).
    Identical pairs (the index stores the same (id, band, bucket) rows
    the in-query pass derives; unit-pinned through a parquet round
    trip); the (n, num_hashes, bands, portable) parameters must match
    the index's — indexes from :func:`build_minhash_index` carry a
    parameter stamp in column metadata (surviving parquet round trips)
    that is VALIDATED here, so a mismatched index raises instead of
    silently emitting wrong pairs; unstamped frames fall back to this
    docstring contract. ``max_bucket`` applies to the read-back
    buckets exactly as it does in-query.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    sh_all = (doc_shingles(df, text_col, id_col, n)
              .localCheckpoint(eager=False) if reuse_shingles else None)
    if corpus_index is not None:
        check_index_params(
            corpus_index, _minhash_params(n, num_hashes, bands, portable),
            "minhash_lsh_pairs")
        buckets = corpus_index.select(id_col, "band", "bucket")
    else:
        sig = minhash_signatures(df, text_col, id_col, n, num_hashes,
                                 portable, shingles_df=sh_all)
        buckets = _band_buckets(sig, id_col, bands, r, portable)
    cand = (_posting_pairs(buckets, ["band", "bucket"], id_col, max_bucket)
            .select("p.id_a", "p.id_b").distinct())
    # Verify ONLY the candidates (never the full O(pairs) join — that would
    # defeat LSH): join each side's distinct-shingle set and compute
    # J = |A∩B| / |A∪B| per pair. Same integers as the brute-force
    # n_shared/(sa+sb-n_shared) formula, so values match the exact path.
    sets = ((sh_all if sh_all is not None
             else doc_shingles(df, text_col, id_col, n))
            .groupBy(id_col).agg(F.collect_set("shingle").alias("sh")))
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (cand.join(sa, "id_a").join(sb, "id_b")
                .select("id_a", "id_b",
                        (F.size(F.array_intersect("sh_a", "sh_b"))
                         / F.size(F.array_union("sh_a", "sh_b")))
                        .alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))


def lsh_recall_report(df: DataFrame, text_col: str, id_col: str,
                      n: int = 3, num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      max_df: int | None = 20,
                      portable: bool = False,
                      max_bucket: int | None = None) -> DataFrame:
    """ONE-row quality report of the approximate near-dup path against
    the exact one — "measure, don't guess" as an operator: run BOTH
    ``jaccard_pairs`` (exact candidate generation, ``max_df``
    stop-shingle cap) and ``minhash_lsh_pairs`` (banded sketch) at the
    same threshold over the same corpus, full-outer-join the pair sets,
    and report

      (n_exact, n_lsh, n_common, recall, precision)

    with recall = common/exact and precision = common/lsh. This is the
    operational answer to "can I trust the sketch at this (bands,
    hashes, threshold) operating point" — the number a user checks on
    a sample BEFORE committing a 100 TB corpus to the approximate
    path. Both sides verify candidates with the same exact-Jaccard
    formula, so disagreements are pure candidate-generation effects:
    LSH misses follow the banding S-curve; 'LSH-only' pairs are real
    pairs whose shared shingles were all hotter than the exact path's
    ``max_df`` cap (the cap is the exact path's own scale concession —
    the report treats capped-exact as the reference set and surfaces
    both divergences rather than hiding either).

    ``max_bucket`` measures the CAPPED LSH operating point — pass the
    production cap (e.g. ``near_dup_production``'s 32) to answer the
    question that actually matters ("what recall does the config I
    will run deliver"), and because both sides are then
    skew-backstopped the report itself stays linear-ish and can run at
    corpus scale, not just on a sample (uncapped, both pipelines are
    deliberately quadratic in hot-class size — sample first).
    """
    exact = (jaccard_pairs(df, text_col, id_col, n=n,
                           threshold=threshold, max_df=max_df)
             .select("id_a", "id_b").withColumn("_e", F.lit(1)))
    lsh = (minhash_lsh_pairs(df, text_col, id_col, n=n,
                             num_hashes=num_hashes, bands=bands,
                             threshold=threshold, portable=portable,
                             max_bucket=max_bucket)
           .select("id_a", "id_b").withColumn("_l", F.lit(1)))
    j = exact.join(lsh, ["id_a", "id_b"], "full")
    # count semantics, not sum: an EMPTY side reads 0 (like the twin's
    # COUNT), and the ratios are NULL-guarded so a pairless corpus
    # yields (0, 0, 0, NULL, NULL) identically in both engines
    n_exact = F.coalesce(F.sum("_e"), F.lit(0)).cast("long")
    n_lsh = F.coalesce(F.sum("_l"), F.lit(0)).cast("long")
    n_common = F.coalesce(
        F.sum(F.when(F.col("_e").isNotNull()
                     & F.col("_l").isNotNull(), 1).otherwise(0)),
        F.lit(0)).cast("long")
    return j.agg(
        n_exact.alias("n_exact"),
        n_lsh.alias("n_lsh"),
        n_common.alias("n_common"),
        F.when(n_exact > 0, F.round(n_common / n_exact, 6) + F.lit(0.0))
         .alias("recall"),
        F.when(n_lsh > 0, F.round(n_common / n_lsh, 6) + F.lit(0.0))
         .alias("precision"))


def _local_union_find(rows, spark, schema) -> DataFrame:
    """Driver-side union-find over a BOUNDED edge list (path compression +
    min-root union, so comp = min id of the component). Only reached via
    ``connected_components``'s explicit edge-count guard.

    The (id, comp) result goes back as a ``local_frame``: a JVM local
    relation whose exact size the optimizer sees, so a consumer's join
    against it can plan as a broadcast, and reading it starts no
    Python worker."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            hi, lo = (ru, rv) if rv < ru else (rv, ru)
            parent[hi] = lo  # min id becomes the root
    data = [(x, find(x)) for x in parent]
    return local_frame(spark, data, schema)


def connected_components(edges: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 50,
                         local_threshold: int = 1_000_000) -> DataFrame:
    """(id, comp) for every node in ``edges``: comp = min node id in the
    node's connected component, via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond" — the public two-phase algorithm).

    This is what turns near-dup PAIRS into dedup DECISIONS: keep the row
    whose id == comp, drop the rest — without it, A~B and B~C can both
    "keep A, drop B" and "keep B, drop C", dropping B twice and keeping C.

    Each round runs two star operations (each one groupBy + join shuffle):

      * **large-star(u)**: connect every strictly-larger neighbor of u to
        m = min(Γ(u) ∪ {u}) — hooks tall chains onto their local minimum.
      * **small-star(u)**: connect u and its smaller neighbors to their
        minimum — flattens the partial trees into stars.

    The edge set converges to stars centered at each component's min id in
    **O(log² n) rounds regardless of diameter** (a 1000-node path closes
    in ~10 rounds where min-label propagation needs 1000 — unit-tested),
    so ``max_iter`` is generous slack, not a correctness knob. Edges are
    ``localCheckpoint``-ed per round to truncate lineage. Non-convergence
    inside ``max_iter`` raises instead of returning partial labels —
    a wrong grouping must never masquerade as a valid one (downstream
    ``dedup_keep_representatives`` would silently drop wrong rows).

    Iterative ⇒ not oracle-expressible as ONE SQL statement in Spark,
    but DuckDB's recursive CTE computes the same closure — see the
    ``near_dup_groups`` oracle in ``__spark_entry__``.

    **Adaptive local finish**: the distributed loop exists for edge sets
    that don't fit anywhere — but a near-dup pair graph is typically
    *minuscule* relative to the corpus that produced it (the corpus scan
    and pair generation upstream stay fully distributed either way). When
    the oriented-distinct edge COUNT (known from the first fingerprint
    job, before any loop round) is ≤ ``local_threshold``, the edges are
    collected and solved with driver-side union-find in one pass — the
    same guarded-small-side adaptivity as AQE's broadcast conversion, with
    the bound checked at runtime against the actual count, never assumed
    (1M edges = two longs each ≈ 16 MB; pass ``local_threshold=0`` to
    force the distributed loop). The labels come back as a local
    relation (``plans.util.local_frame``) of known size, so the
    consumer's join against the component table (``near_dup_production``
    and the rest of the dedup family) can plan as a broadcast rather
    than a shuffle join. Both paths produce identical labels (min-id
    component; equality unit-tested on the same graphs).
    """
    # Orient every edge high→low (u > v), the invariant both stars keep.
    # Not a lazy pin: under AQE the call runs every shuffle stage below
    # it, which for near_dup_production is the whole LSH pair pipeline
    # (7 jobs, 0.9-1.2 s per warm pass at sf0.005 on 4 cores); only the
    # final stage waits for the first action.
    e = (edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
              .filter(F.col("a") != F.col("b"))
              .select(F.greatest("a", "b").alias("u"),
                      F.least("a", "b").alias("v"))
              .distinct().localCheckpoint(False))

    def fingerprint(frame: DataFrame):
        """Order-insensitive set fingerprint (count, xor of edge hashes):
        ONE cheap agg job over already-checkpointed blocks. Used as the
        fast-path convergence probe so the loop does not pay an exceptAll
        shuffle every round; equality is CONFIRMED with exceptAll before
        exiting, so a 2^-64 xor collision can stall one probe but never
        produce a wrong early exit."""
        return frame.agg(
            F.count("*"), F.bit_xor(F.xxhash64("u", "v"))).first()

    if local_threshold > 0:
        # One limit-probe action decides the path AND delivers the edges
        # when small: CollectLimit short-circuits on a big edge set, so
        # the distributed path pays at most threshold+1 collected rows.
        probe = e.limit(local_threshold + 1).collect()
        if len(probe) <= local_threshold:
            from pyspark.sql.types import StructField, StructType

            id_type = e.schema["u"].dataType
            schema = StructType([StructField("id", id_type),
                                 StructField("comp", id_type)])
            return _local_union_find(probe, edges.sparkSession, schema)
    fp = fingerprint(e)
    for _ in range(max_iter):
        # Large-star: over the symmetrized neighborhood of u, attach every
        # neighbor v > u to m = min(Γ(u) ∪ {u}). Emitted (v, m) keeps
        # v > m because m ≤ u < v.
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        lmins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                    .select("u", F.least("u", "mn").alias("m")))
        # No distinct here: duplicate (v, m) rows cannot change the
        # min-agg below or survive sm's distinct, and skipping it saves a
        # full shuffle per round.
        lg = (sym.join(lmins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        # Small-star: edges are now all high→low; for each u attach u and
        # its smaller neighbors to m = min of those neighbors.
        smins = lg.groupBy("u").agg(F.min("v").alias("m"))
        sm = (lg.join(smins, "u")
                .filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(smins.select("u", F.col("m").alias("v")))
                # The call runs this round's shuffle stages (under AQE
                # localCheckpoint plans the subtree to its final stage);
                # the fingerprint action right below runs the final
                # stage that writes the pinned blocks, then its own
                # aggregate over them.
                .distinct().localCheckpoint(False))
        # Fixpoint ⇔ the edge set is unchanged (both sides are distinct
        # sets). Probe with the one-job fingerprint; only a match pays the
        # exceptAll confirmation — once, at exit, not per round.
        new_fp = fingerprint(sm)
        if new_fp == fp and sm.exceptAll(e).isEmpty():
            e = sm
            break
        e, fp = sm, new_fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds — refusing to return partial "
            "labels (expected O(log² n) rounds; check for pathological "
            "input such as an edge stream far beyond planned scale)")
    # At the fixpoint every edge is (node, component-min); roots map to
    # themselves.
    return (e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
             .union(e.select(F.col("v").alias("id"),
                             F.col("v").alias("comp")))
             .distinct())


def _minhash_params(n: int, num_hashes: int, bands: int,
                    portable: bool) -> dict:
    """The stamped/validated build-parameter dict for MinHash LSH
    indexes (see :mod:`indexmeta`)."""
    return {"kind": "minhash_lsh", "n": n, "num_hashes": num_hashes,
            "bands": bands, "portable": bool(portable)}


def build_minhash_index(corpus: DataFrame, text_col: str, id_col: str,
                        n: int = 3, num_hashes: int = 32,
                        bands: int = 8,
                        portable: bool = False) -> DataFrame:
    """(id, band, bucket) — the persistable LSH index of a corpus: a
    pure function of corpus text, so a deployment writes it ONCE
    (partitioned/bucketed by (band, bucket)) and each increment both
    probes it and appends its own admissions' rows — the corpus is
    never re-signed, let alone re-paired. Pass the read-back frame to
    :func:`incremental_minhash_admission` as ``corpus_index``; at sf10
    the index build is 80%+ of a cold admission's wall clock
    (PLANS.md #20), which is exactly the share persistence removes.

    The (n, num_hashes, bands, portable) build parameters are STAMPED
    into the ``band`` column's metadata (persisted through parquet, see
    :mod:`indexmeta`); every ``corpus_index=`` consumer validates the
    stamp, so probing with mismatched parameters raises instead of
    silently pairing wrong (ADVICE r10)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    sig = minhash_signatures(corpus, text_col, id_col, n, num_hashes,
                             portable)
    return stamp_index_params(
        _band_buckets(sig, id_col, bands, r, portable),
        _minhash_params(n, num_hashes, bands, portable))


def append_to_minhash_index(index: DataFrame, admitted: DataFrame,
                            text_col: str, id_col: str,
                            n: int = 3, num_hashes: int = 32,
                            bands: int = 8,
                            portable: bool = False) -> DataFrame:
    """The index-MAINTENANCE half of the incremental loop: the standing
    index plus the admitted increment's band-bucket rows — what a
    deployment appends (same ``partitionBy``/bucket layout, append
    mode) after each :func:`incremental_minhash_admission` commit, so
    tomorrow's batch probes today's admissions without any corpus
    re-signing. Pure union of pure functions, so
    index(corpus) ∪ append(admitted) == index(corpus ∪ admitted)
    exactly — the day-over-day closure is unit-pinned against the
    full rebuild. Parameters must match the index's (validated against
    the stamp when the index carries one)."""
    check_index_params(index, _minhash_params(n, num_hashes, bands,
                                              portable),
                       "append_to_minhash_index")
    return index.unionByName(
        build_minhash_index(admitted, text_col, id_col, n, num_hashes,
                            bands, portable))


def incremental_minhash_admission(new: DataFrame, corpus: DataFrame,
                                  text_col: str, id_col: str,
                                  n: int = 3, num_hashes: int = 32,
                                  bands: int = 8,
                                  threshold: float = 0.5,
                                  portable: bool = False,
                                  max_bucket: int | None = 32,
                                  corpus_index: DataFrame | None = None
                                  ) -> DataFrame:
    """NEAR-dup admission for a daily increment: keep only the NEW
    documents that are not LSH≥threshold near-duplicates of the
    existing CORPUS nor of a smaller-id document in the same batch
    (greedy first-wins, the stream-order convention
    ``incremental_fingerprint_dedup`` uses for exact duplicates).
    Returns the admitted subset of ``new`` (original columns).

    Scale shape — the reason this exists next to the self-join
    operator: running ``minhash_lsh_pairs`` over corpus ∪ batch
    re-pairs the CORPUS against itself every day (O(corpus × bands)
    shuffle plus the full pair expansion). Here the corpus side is
    reduced to its band-bucket table (a pure function of corpus text —
    a deployment persists it between increments and appends new
    admissions' buckets, exactly like the Bloom word table), candidates
    are batch×corpus and batch×batch bucket joins only, and
    verification joins shingle sets for the TOUCHED corpus docs alone
    (semi-joined by candidate id before the collect_set aggregate) —
    cost scales with |batch| and bucket overlap, never |corpus|².

    ``max_bucket`` (DEFAULT 32; ``None`` opts out) skips band buckets
    above the cap on BOTH sides — corpus buckets (a batch doc
    colliding with a million-member corpus bucket would otherwise
    verify against every member) AND the batch's own posting lists
    (a boilerplate storm arriving within one micro-batch would
    otherwise expand ~c²/2 in-batch pairs per band; an unattended
    streaming admitter must survive that too, so the cap is symmetric).
    ``portable=True`` makes the whole path bit-reproducible in
    DuckDB (the registered query's mode). Ids must be globally unique
    across corpus and batch (the usual keyed-store contract — a shared
    id would conflate the two sides' shingle sets).

    ``corpus_index`` takes a prebuilt :func:`build_minhash_index`
    frame (read back from wherever the deployment persists it) and
    skips the corpus signature pass entirely — identical results
    (unit-pinned, incl. through a parquet round trip); the (n,
    num_hashes, bands, portable) parameters must match the index's.
    Corpus TEXT is still read for verification, but only the touched
    candidate docs' shingle sets are aggregated (id-filter
    pushdown-able on a real table)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    sig_b = minhash_signatures(new, text_col, id_col, n, num_hashes,
                               portable)
    if corpus_index is not None:
        check_index_params(
            corpus_index, _minhash_params(n, num_hashes, bands, portable),
            "incremental_minhash_admission")
    bk_c = (corpus_index if corpus_index is not None
            else build_minhash_index(corpus, text_col, id_col, n,
                                     num_hashes, bands, portable))
    bk_b = (_band_buckets(sig_b, id_col, bands, r, portable)
            # read by the touched-restriction, the corpus join, AND
            # the in-batch posting lists — one materialization, not
            # three signature recomputes (batch-sized, tiny)
            .localCheckpoint(eager=False))
    # Restrict the corpus index to buckets the BATCH actually touches
    # before anything else: untouched buckets can produce no
    # candidates, so this is semantically free, and it means the cap's
    # bucket-size aggregate below runs over a |batch·bands|-bounded
    # subset instead of the whole corpus index (the uncapped r8 path
    # had no corpus-side aggregate at all; without this restriction
    # the default-on cap re-priced the admission +60% at sf0.1).
    # Bucket sizes are unchanged by the restriction — the semi join
    # keeps whole buckets.
    bk_c = bk_c.join(bk_b.select("band", "bucket").distinct(),
                     ["band", "bucket"], "left_semi")
    if max_bucket is not None:
        # Window count, NOT aggregate-and-rejoin: a keep-set semi join
        # reads bk_c twice, which in the rebuild registration re-runs
        # the whole corpus signature pass (+60% measured at sf0.1 —
        # the multiply-consumed-subplan lesson again), and breaking
        # that with a checkpoint writes a potentially index-sized
        # frame per run (measured 13-55 s variance at sf10). The
        # window is ONE pass: one exchange on (band, bucket) that the
        # candidate equi-join on the same key then REUSES.
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        bk_c = (bk_c.withColumn("_n", F.count("*").over(w))
                    .filter(F.col("_n") <= max_bucket).drop("_n"))
    # batch × corpus candidates: plain bucket equi-join (the corpus
    # bucket table is hash-partitioned on (band, bucket); the batch
    # side is small — AQE broadcasts it in practice).
    cand_cb = (bk_b.select(F.col(id_col).alias("_b"), "band", "bucket")
                   .join(bk_c.select(F.col(id_col).alias("_p"),
                                     "band", "bucket"),
                         ["band", "bucket"])
                   .select("_b", "_p").distinct())
    # batch × batch candidates: posting-list expansion within the
    # batch's own buckets; only the larger id of a pair is at risk.
    # max_bucket is the symmetric storm backstop: a hot class INSIDE
    # the batch is capped exactly like a hot corpus bucket.
    cand_bb = (_posting_pairs(bk_b, ["band", "bucket"], id_col, max_bucket,
                              lambda x, y: F.struct(y.alias("_b"),
                                                    x.alias("_p")))
               .select("p._b", "p._p").distinct())
    cand = cand_cb.union(cand_bb).distinct()
    # Verify only the touched docs' shingle sets (semi-join BEFORE the
    # collect_set aggregate keeps the corpus-side aggregate bounded by
    # the candidate set, not the corpus).
    sh_b = (doc_shingles(new, text_col, id_col, n)
            .groupBy(id_col).agg(F.collect_set("shingle").alias("sh_b"))
            .withColumnRenamed(id_col, "_b"))
    touched = cand.select(F.col("_p").alias(id_col)).distinct()
    sh_p = (doc_shingles(corpus, text_col, id_col, n)
            .join(touched, id_col, "left_semi")
            .groupBy(id_col).agg(F.collect_set("shingle").alias("sh_p"))
            .withColumnRenamed(id_col, "_p"))
    sh_bp = (doc_shingles(new, text_col, id_col, n)
             .groupBy(id_col).agg(F.collect_set("shingle").alias("sh_p"))
             .withColumnRenamed(id_col, "_p"))
    # partner sets come from whichever side the partner lives on
    verified = (cand.join(sh_b, "_b")
                    .join(sh_p.unionByName(sh_bp), "_p")
                    .filter((F.size(F.array_intersect("sh_b", "sh_p"))
                             / F.size(F.array_union("sh_b", "sh_p")))
                            >= threshold)
                    .select("_b").distinct())
    return new.join(verified.withColumnRenamed("_b", id_col),
                    id_col, "left_anti")


def exact_representatives(df: DataFrame, text_col: str,
                          id_col: str) -> DataFrame:
    """(id, text) of each exact (md5) duplicate class's min-id
    representative — stage 1 of :func:`near_dup_production` as a
    standalone frame. Pure function of the corpus text, so a
    deployment can persist it (it IS the exact-dedup output) and build
    the production LSH index over it with :func:`build_minhash_index`
    — the ``reps_index=`` input of :func:`near_dup_production`."""
    fp = F.md5(F.encode(F.col(text_col), "utf-8")).alias("_fp")
    return (df.select(F.col(id_col), F.col(text_col), fp)
              .groupBy("_fp")
              .agg(F.min(id_col).alias(id_col),
                   F.min(text_col).alias(text_col))
              .select(id_col, text_col))


def near_dup_production(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, num_hashes: int = 32, bands: int = 8,
                        threshold: float = 0.5,
                        portable: bool = False,
                        max_bucket: int | None = 32,
                        reps_index: DataFrame | None = None) -> DataFrame:
    """(id, group_id) for EVERY input row — the PRODUCTION near-dup
    composition: **exact dedup first, then banded MinHash-LSH over the
    unique texts, then connected components**, with each row's group
    inherited through its exact representative.

    Why this order is the registered production path (PLANS.md #19):
    banded LSH pair expansion is quadratic in duplicate-CLASS size — a
    class of c exact copies lands in the same bucket in every band and
    emits ~c²/2 candidate pairs per band. Web corpora have boilerplate
    classes running to millions of copies, so the uncapped
    ``minhash_lsh_pairs`` blows up 46x at a 10x scale-up on a
    100-copy-class fixture (328.9 s at sf10) while this composition —
    one LINEAR hash-groupBy collapsing every copy class to a single
    representative before LSH ever sees it — measures 31.4 s on the
    same fixture, in line with every other path's 2-5x at 10x data.

    Stages (all one-shuffle each, no stage quadratic in class size):

      1. **exact collapse** — group by ``md5(text)`` (a fixed-width
         16-byte shuffle key instead of the full document — same
         partitioner balance on 100 KB docs as on 100 B docs), rep =
         min id per class. md5-collision risk is ~n²/2¹²⁸ — at 10¹²
         docs that is ~10⁻¹⁵, far below hardware error rates.
      2. **membership map** — (id, rep) via a narrow (id, fp) join;
         document TEXT never enters this shuffle.
      3. **LSH over representatives only** — ``minhash_lsh_pairs`` on
         the collapsed reps; ``max_bucket`` (DEFAULT 32 — the backstop
         is part of the production semantics, not an opt-in; PLANS.md
         #20 measured it load-bearing on residual near-dup hot classes
         that survive the exact collapse) skips overfull band buckets;
         ``max_bucket=None`` is the explicit uncapped opt-out.
      4. **components** — ``connected_components`` over the pair graph
         (min-id labels), then every row's ``group_id`` = its rep's
         component (or the rep itself when the rep is in no pair).

    Two rows share a ``group_id`` iff they are exact copies OR their
    representatives are connected through the LSH≥threshold graph —
    identical semantics to running components over the uncapped pair
    graph of the full corpus, because exact copies have identical
    signatures and therefore identical bucket sets (their edges are
    redundant with the rep's edges plus the copy-class clique).
    ``portable=True`` makes the whole pipeline bit-reproducible in
    DuckDB (see ``minhash_signatures``), which is how the registered
    ``near_dup_production`` query is value-hash-gated end to end.

    ``reps_index`` takes a prebuilt :func:`build_minhash_index` frame
    over the REPRESENTATIVES (``build_minhash_index(
    exact_representatives(df, ...), ...)`` — note: over reps, not the
    raw corpus, or every copy class's identical signatures would
    re-inflate the buckets the exact collapse exists to deflate) and
    skips stage 3's signature pass — at scale the dominant cost of a
    cold run. The md5 collapse (stages 1-2) is recomputed in-query:
    it is one linear hash-groupBy, and reps are deterministic (min id
    per class), so the in-query reps match the index's. Identical
    grouping either way (unit-pinned through a parquet round trip);
    (n, num_hashes, bands, portable, max_bucket) must match the
    index's build parameters.
    """
    # NOTE (r16, measured, do NOT retry): rewriting this collapse as a
    # min-window over the fp partition (removing the membership join)
    # measured 1.03-1.09x SLOWER at sf0.1 AND sf1 across the whole
    # consumer family (near_dup_production/near_dup_stats/
    # dedup_savings) — the window pays a per-partition SORT of the
    # corpus by the 32-char md5 key where the groupBy is a hash
    # aggregate, and the join it saves is a broadcast of the
    # classes-sized rep table. The r15 groupBy+join shape below is the
    # measured optimum.
    fp = F.md5(F.encode(F.col(text_col), "utf-8")).alias("_fp")
    with_fp = df.select(F.col(id_col), F.col(text_col), fp)
    rep_map = (with_fp.groupBy("_fp")
               .agg(F.min(id_col).alias("_rep"),
                    # all texts in an md5 class are identical, so min ==
                    # any; min keeps the aggregate deterministic by
                    # construction rather than by argument
                    F.min(text_col).alias(text_col))
               # The collapsed table is read by THREE downstream branches
               # (membership join, LSH signature path, LSH verify path);
               # without a pipeline breaker each branch re-runs the
               # scan+collapse from source. localCheckpoint materializes
               # it once to executor-local blocks. It is not lazy: under
               # AQE the call runs the scan and the groupBy's shuffle at
               # build time, and only the final aggregate stage waits
               # for the first action. This is the natural stage
               # boundary a production run persists anyway (it IS the
               # exact-dedup output).
               .localCheckpoint(eager=False))
    members = (with_fp.select(id_col, "_fp")
               .join(rep_map.select("_fp", "_rep"), "_fp")
               .select(id_col, "_rep"))
    reps = rep_map.select(F.col("_rep").alias(id_col), text_col)
    # Shingle-frame reuse is a SMALL-corpus optimization: at sf0.1 the
    # shared checkpoint saves the duplicated tokenize+explode (2.7 vs
    # 4.1 s), but the materialization cost grows linearly with a bigger
    # constant than the codegen recompute it saves — at sf10 reuse
    # MEASURES 43.6 s vs 29.1 s without. Gate on the input scan's
    # stat-able size (plan-time analog of AQE's runtime sizing); when
    # the size is unknowable, choose the at-scale strategy.
    from nyctaxidatapipeline_spark.plans.util import input_scan_bytes

    nbytes = input_scan_bytes(df)
    pairs = minhash_lsh_pairs(reps, text_col, id_col, n=n,
                              num_hashes=num_hashes, bands=bands,
                              threshold=threshold, portable=portable,
                              max_bucket=max_bucket,
                              # still pays off with an index: the
                              # verification shingle frame has two
                              # consumers (the id_a and id_b sides)
                              reuse_shingles=(nbytes is not None
                                              and nbytes < 32 << 20),
                              corpus_index=reps_index)
    comp = connected_components(pairs)
    return (members.join(comp, members["_rep"] == comp["id"], "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("comp"), F.col("_rep"))
                     .alias("group_id")))


def dedup_group_stats(mapping: DataFrame,
                      group_col: str = "group_id") -> DataFrame:
    """(group_size, n_groups, n_docs) — the duplication histogram of a
    (row, group) mapping such as ``near_dup_production``'s output: how
    many duplicate groups exist at each size and how many documents
    they hold. THE corpus-health report a curation run reads first
    ("what fraction of my crawl is 1000-copy boilerplate?") and the
    direct estimate of post-dedup corpus size (= total n_groups). Two
    count aggregates, both map-side combined; the second runs over the
    group table, which is already no larger than the corpus."""
    sizes = mapping.groupBy(group_col).agg(
        F.count("*").alias("group_size"))
    return sizes.groupBy("group_size").agg(
        F.count("*").alias("n_groups"),
        F.sum("group_size").alias("n_docs"))


def dedup_keep_representatives(df: DataFrame, pairs: DataFrame,
                               id_col: str) -> DataFrame:
    """Drop every row that belongs to a near-dup component but is not its
    min-id representative (the end-to-end near-dedup: pairs → components
    → filter). Rows in no pair are kept untouched."""
    drop = (connected_components(pairs)
            .filter(F.col("id") != F.col("comp"))
            .select(F.col("id").alias(id_col)))
    return df.join(drop, id_col, "left_anti")


def _sign_sum_words(feats: DataFrame, id_col: str) -> DataFrame:
    """(id, sh_lo, sh_hi) from per-feature 32-bit words ``h_lo``/``h_hi``:
    per-bit ±1 sign sums (64 agg expressions — wide but columnar), then
    each word reassembled from its 32 sign bits. Both words are
    non-negative (< 2^32), so arithmetic vs logical shifts agree in every
    engine."""
    def bit_sums(word: str, prefix: str) -> list[Column]:
        h = F.col(word)
        return [
            F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1)
                   .otherwise(-1)).alias(f"{prefix}{j}")
            for j in range(32)]

    sums = feats.groupBy(id_col).agg(*bit_sums("h_lo", "bl"),
                                     *bit_sums("h_hi", "bh"))

    def word_of(prefix: str) -> Column:
        fp = None
        for j in range(32):
            bit = F.when(F.col(f"{prefix}{j}") > 0,
                         F.shiftleft(F.lit(1).cast("long"), j)).otherwise(0)
            fp = bit if fp is None else fp.bitwiseOR(bit)
        return fp

    return sums.select(id_col, word_of("bl").alias("sh_lo"),
                       word_of("bh").alias("sh_hi"))


def simhash_words(df: DataFrame, feature_col: Column, id_col: str,
                  portable: bool = False) -> DataFrame:
    """64-bit SimHash per id as TWO 32-bit words (id, sh_lo, sh_hi),
    entirely in Catalyst.

    The word-pair form (instead of one packed 64-bit long) exists for
    cross-engine parity: assembling bit 63 needs a left shift into the
    sign bit, which DuckDB's overflow-checked ``<<`` rejects — two
    non-negative words sidestep it, and banding/Hamming work the same
    (``bit_count(xor(lo)) + bit_count(xor(hi))``).

    ``portable=False``: words = the two halves of ``xxhash64(feat)`` —
    fastest, JVM-only. ``portable=True``: ONE md5 per feature, words =
    hex chars 1-8 / 9-16 (same idiom as ``portable_base_hash``) — bit-
    reproducible in DuckDB, which upgrades SimHash output from rows-only
    to a full value-hash oracle check.
    """
    base = (fan_out(df, id_col)
            .select(id_col, F.explode(feature_col).alias("feat")))
    # Hash once per feature row in its own projection — inlining the hash
    # into each of the 64 aggregate expressions would recompute it 64x.
    if portable:
        feats = (base.select(id_col, F.md5(F.col("feat")).alias("m"))
                     .select(id_col,
                             F.conv(F.substring("m", 9, 8), 16, 10)
                              .cast("long").alias("h_lo"),
                             F.conv(F.substring("m", 1, 8), 16, 10)
                              .cast("long").alias("h_hi")))
    else:
        mask = F.lit((1 << 32) - 1)
        feats = (base.select(id_col, F.xxhash64(F.col("feat")).alias("h"))
                     .select(id_col,
                             F.col("h").bitwiseAND(mask).alias("h_lo"),
                             F.shiftright(F.col("h"), 32).bitwiseAND(mask)
                              .alias("h_hi")))
    return _sign_sum_words(feats, id_col)


def simhash64(df: DataFrame, feature_col: Column, id_col: str) -> DataFrame:
    """64-bit SimHash per id over an array-of-features column, packed into
    one long (bit 63 may set the sign). Kept as the compact storage form;
    ``simhash_words`` is the banding/oracle-friendly two-word variant."""
    w = simhash_words(df, feature_col, id_col)
    return w.select(
        id_col,
        F.shiftleft(F.col("sh_hi"), 32).bitwiseOR(F.col("sh_lo"))
         .alias("simhash"))


def simhash_near_pairs(df: DataFrame, feature_col: Column, id_col: str,
                       max_hamming: int = 3, bands: int = 4,
                       portable: bool = False,
                       max_bucket: int | None = 32) -> DataFrame:
    """Pairs within ``max_hamming`` bits of SimHash distance.

    Pigeonhole banding: split 64 bits into ``bands`` equal slices; any pair
    within d < bands bits must agree exactly on ≥1 slice — candidates are
    bucket collisions, then the true Hamming distance filters.

    Band slices must not straddle the two signature words, so ``bands``
    must be in {2, 4, 8, 16, 32}. ``portable=True`` runs the md5-derived
    hash family (see ``simhash_words``) whose output DuckDB reproduces
    bit-for-bit.

    ``max_bucket`` (DEFAULTS ON at 32, the same storm backstop and the
    same contract as ``minhash_lsh_pairs``): band buckets holding more
    than ``max_bucket`` docs emit NO pairs — pair expansion is
    quadratic in bucket size, and simhash buckets are exactly where
    boilerplate/near-identical corpora pile up (the r14 sf10 census
    caught this operator's pair records growing ×65 at ×10 data on the
    fixture's 100-copy duplicate classes — the one uncapped quadratic
    left on a registered path). Recall cost on NEAR-dup pairs only
    (exact copies belong in ``exact_dedup``/``near_dup_production``'s
    collapse-first composition, which is also the production answer
    for the dropped hot buckets); ``max_bucket=None`` opts into the
    exhaustive semantics for correctness oracles and recall studies.
    """
    buckets = _band_table(simhash_words(df, feature_col, id_col, portable),
                          id_col, _simhash_buckets(bands),
                          keep=("sh_lo", "sh_hi"))
    # Same posting-list expansion as MinHash LSH over (id, lo, hi)
    # entries: structs sort by id (unique), so pairs come out
    # id_a < id_b and carry both signatures for the Hamming distance.
    entry = F.struct(F.col(id_col).alias("id"), F.col("sh_lo").alias("lo"),
                     F.col("sh_hi").alias("hi"))

    def hamming_pair(x: Column, y: Column) -> Column:
        return F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                        (F.bit_count(x["lo"].bitwiseXOR(y["lo"]))
                         + F.bit_count(x["hi"].bitwiseXOR(y["hi"])))
                        .alias("hamming"))

    return (_posting_pairs(buckets, ["band", "bucket"], entry, max_bucket,
                           hamming_pair)
            .select("p.id_a", "p.id_b", "p.hamming")
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def bucket_cap_audit(buckets: DataFrame, id_col: str,
                     max_bucket: int) -> DataFrame:
    """The recall bill of a ``max_bucket`` storm backstop, as ONE
    stats row over an (id, band, bucket) LSH banding table — the
    observability side of the cap that ``minhash_lsh_pairs`` /
    ``simhash_near_pairs`` apply silently (VERDICT r14 task 4: a
    100 TB operator needs to SEE what the cap pays, not just trust
    the default):

      * ``multi_buckets`` — band buckets holding ≥ 2 docs (the
        candidate-emitting population);
      * ``dropped_buckets`` — buckets over the cap (emit NO pairs);
      * ``max_bucket_size`` — the hottest bucket's doc count (how far
        past the cap the corpus actually runs);
      * ``cand_pairs_dropped`` — Σ c·(c−1)/2 over dropped buckets:
        the per-band candidate expansions the cap skipped. This is
        the COST the backstop avoided (the quadratic the r14 sf10
        census caught), an upper bound on distinct pairs lost (the
        same pair can collide in several bands);
      * ``docs_banded`` / ``docs_dropped`` / ``doc_share_dropped`` —
        distinct docs in the banding table, distinct docs appearing
        in ≥ 1 dropped bucket, and their ratio (6 dp): the recall
        exposure — every missed near-dup pair has BOTH ends in
        ``docs_dropped``, so the share bounds the corpus fraction
        whose near-dup edges the cap can have cut.

    Scale shape: the same one-shuffle groupBy on (band, bucket) as
    the pair expansion, then two scalar aggregates (bucket-count-,
    not corpus-sized) cross-joined as 1-row broadcasts — the
    established runtime-scalar pattern; no collect, no all-pairs.
    A zero-row ``buckets`` input yields the all-zeros row.

    r16 (guide §1.2/§2.4): both doc counts derive from the GROUPED
    bucket table (one explode, then each doc's largest bucket by one
    ``groupBy(_id)``) instead of ``docs_banded`` re-aggregating the
    raw banding table — that aggregate shared no exchange with the
    grouped subtree, so the whole upstream signature pass executed a
    second time (a full corpus tokenize+hash at 100 TB). The union of
    bucket member sets IS the banded doc set, so the values are
    identical; the grouped exchange is runtime-reused between the two
    remaining aggregates."""
    mb = int(max_bucket)
    sized = (buckets.groupBy("band", "bucket")
                    .agg(F.collect_set(id_col).alias("ids"))
                    .select(F.size("ids").alias("_c"), "ids"))
    c = F.col("_c").cast("long")
    stats = sized.agg(
        F.coalesce(F.sum((c >= 2).cast("long")),
                   F.lit(0)).alias("multi_buckets"),
        F.coalesce(F.sum((c > mb).cast("long")),
                   F.lit(0)).alias("dropped_buckets"),
        F.coalesce(F.max(c), F.lit(0)).alias("max_bucket_size"),
        F.coalesce(F.sum(F.when(c > mb, c * (c - 1) / 2)
                          .otherwise(0)).cast("long"),
                   F.lit(0)).alias("cand_pairs_dropped"))
    # Per doc, its hottest bucket: a doc is dropped iff that bucket is
    # over the cap. Two count_distincts over different children would
    # plan as an Expand whose projection order follows session-wide
    # exprIds, so the plan would depend on earlier queries.
    doc_stats = (sized.select(c.alias("_c"), F.explode("ids").alias("_id"))
                      .groupBy("_id").agg(F.max("_c").alias("_mc"))
                      .agg(F.count("*").alias("docs_banded"),
                           F.coalesce(
                               F.sum((F.col("_mc") > mb).cast("long")),
                               F.lit(0)).alias("docs_dropped")))
    return (stats.join(doc_stats)
                 .select("multi_buckets", "dropped_buckets",
                         "max_bucket_size", "cand_pairs_dropped",
                         "docs_banded", "docs_dropped",
                         (F.when(F.col("docs_banded") > 0,
                                 F.round(F.col("docs_dropped")
                                         / F.col("docs_banded"), 6))
                           .otherwise(0.0) + F.lit(0.0))
                         .alias("doc_share_dropped")))


def minhash_cap_audit(df: DataFrame, text_col: str, id_col: str,
                      n: int = 3, num_hashes: int = 32, bands: int = 8,
                      portable: bool = False,
                      max_bucket: int = 32,
                      corpus_index: DataFrame | None = None) -> DataFrame:
    """:func:`bucket_cap_audit` over the EXACT banding table
    ``minhash_lsh_pairs`` builds at these parameters (same signatures,
    same band buckets, same optional prebuilt index short-cut) — run
    it beside a capped LSH job to price the cap's recall bill before
    trusting (or raising) it. Costs the signature pass plus one
    bucket-keyed shuffle; never expands a single pair."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    if corpus_index is not None:
        check_index_params(
            corpus_index, _minhash_params(n, num_hashes, bands, portable),
            "minhash_cap_audit")
        buckets = corpus_index.select(id_col, "band", "bucket")
    else:
        sig = minhash_signatures(df, text_col, id_col, n, num_hashes,
                                 portable)
        buckets = _band_buckets(sig, id_col, bands, r, portable)
    return bucket_cap_audit(buckets, id_col, max_bucket)


def simhash_cap_audit(df: DataFrame, feature_col: Column, id_col: str,
                      bands: int = 4, portable: bool = False,
                      max_bucket: int = 32) -> DataFrame:
    """:func:`bucket_cap_audit` over ``simhash_near_pairs``'s
    pigeonhole banding table at these parameters — the same slice
    arithmetic (64/bands-bit words, band slices never straddle the
    two 32-bit signature words), so the audited buckets are exactly
    the ones the capped operator reads."""
    buckets = _band_table(simhash_words(df, feature_col, id_col, portable),
                          id_col, _simhash_buckets(bands))
    return bucket_cap_audit(buckets, id_col, max_bucket)


def keep_latest(df: DataFrame, key_cols: list[str], ts_col: str,
                tiebreak_col: str) -> DataFrame:
    """Upsert-style dedup: the newest row per key (``row_number = 1``
    over (key, ts DESC)) — what every CDC-compacted ingest needs.
    ``tiebreak_col`` is REQUIRED and must not be a key column: key
    columns are constant within a window partition, so ordering by one
    is a no-op and timestamp ties would resolve nondeterministically.
    One window shuffle on the key; Spark plans it as a WindowGroupLimit
    (bounded per-group state, no full partition sort materialization)."""
    from pyspark.sql import Window

    if not tiebreak_col or tiebreak_col in key_cols:
        raise ValueError(
            "keep_latest needs a tiebreak_col outside key_cols "
            "(a key column is constant per window partition, so it "
            "cannot break timestamp ties deterministically); got "
            f"tiebreak_col={tiebreak_col!r}, key_cols={key_cols}")
    w = (Window.partitionBy(*key_cols)
         .orderBy(F.col(ts_col).desc(), F.col(tiebreak_col).desc()))
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .drop("_rn"))


def incremental_fingerprint_dedup(new: DataFrame, corpus: DataFrame,
                                  text_col: str, id_col: str) -> DataFrame:
    """Admit only NEW documents that are not normalized-exact duplicates
    of the existing corpus (nor of each other — min-id wins within the
    batch). The daily-increment production pattern: the corpus side is
    reduced to its fingerprint set (one narrow aggregate over an
    append-only store at scale), the new batch anti-joins against it —
    corpus text is never reshuffled, and cost scales with |new|, not
    |corpus|.

    Output: the admitted subset of ``new`` (original columns).
    """
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        fingerprint,
    )

    corpus_fps = (fingerprint(corpus, text_col, id_col)
                  .select("fingerprint").distinct())
    new_fp = fingerprint(new, text_col, id_col)
    batch_reps = (new_fp.groupBy("fingerprint")
                  .agg(F.min(id_col).alias(id_col)))
    admitted = (batch_reps.join(corpus_fps, "fingerprint", "left_anti")
                .select(id_col))
    return new.join(admitted, id_col, "left_semi")


def bloom_words(keys: DataFrame, key_col: str, num_bits: int,
                n_hashes: int = 2) -> DataFrame:
    """Build a Bloom filter as a RELATION: (w, bits) — the non-zero
    64-bit words of an ``num_bits``-bit array with ``n_hashes``
    positions set per key (position_i = pmod(xxhash64(key, i),
    num_bits)). One explode + one bit_or aggregate, fully mergeable
    (appending keys just ORs in more words); the result is at most
    ``num_bits/64`` rows regardless of key count — the broadcastable
    sketch of an arbitrarily large key set.

    Spark's internal ``bloom_filter_agg``/``might_contain`` expressions
    are not exposed through the public function registry, so this is
    the same data structure expressed relationally — which also makes
    the probe side a plain broadcast hash join instead of an opaque
    binary blob.
    """
    pos = [F.pmod(F.xxhash64(F.col(key_col), F.lit(i)),
                  F.lit(num_bits)) for i in range(n_hashes)]
    return (keys.select(F.explode(F.array(*pos)).alias("_pos"))
                .select(F.expr("_pos div 64").alias("w"),
                        F.expr("shiftleft(1L, cast(_pos % 64 as int))")
                         .alias("_b"))
                .groupBy("w").agg(F.expr("bit_or(_b)").alias("bits")))


def bloom_maybe_contains(df: DataFrame, key_col: str,
                         words: DataFrame, num_bits: int,
                         n_hashes: int = 2,
                         alias: str = "_maybe") -> DataFrame:
    """Tag each row with whether the Bloom relation MIGHT contain its
    key (no false negatives; false-positive rate ~(1-e^(-jn/m))^j).
    ``n_hashes`` broadcast hash joins against the tiny word table —
    no Python, no driver traffic."""
    out = df
    checks = []
    for i in range(n_hashes):
        p = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)),
                   F.lit(num_bits))
        out = (out.withColumn(f"_p{i}", p)
                  .withColumn(f"_w{i}", F.expr(f"_p{i} div 64"))
                  .join(F.broadcast(
                      words.select(F.col("w").alias(f"_w{i}"),
                                   F.col("bits").alias(f"_bits{i}"))),
                      f"_w{i}", "left"))
        checks.append(
            F.expr(f"coalesce(_bits{i}, 0L) & "
                   f"shiftleft(1L, cast(_p{i} % 64 as int))") != 0)
    cond = checks[0]
    for c in checks[1:]:
        cond = cond & c
    drop = [c for i in range(n_hashes)
            for c in (f"_p{i}", f"_w{i}", f"_bits{i}")]
    return out.withColumn(alias, cond).drop(*drop)


def incremental_fingerprint_dedup_bloom(new: DataFrame, corpus: DataFrame,
                                        text_col: str, id_col: str,
                                        num_bits: int = 1 << 23,
                                        n_hashes: int = 2) -> DataFrame:
    """``incremental_fingerprint_dedup`` with a Bloom-filter pre-pass —
    EXACT same output (value-hash-gated against the same oracle), but
    the shuffled anti-join only sees the batch rows the filter cannot
    rule out.

    The corpus fingerprint set folds into the ``bloom_words`` relation
    (<= ``num_bits/64`` rows no matter the corpus size) and broadcasts;
    ``bloom_maybe_contains`` splits the batch executor-side:

      * filter-negative rows are DEFINITELY new (Bloom filters have no
        false negatives) — admitted with no shuffled join at all;
      * filter-positive rows (true duplicates + ~fpp of the rest) take
        the exact anti-join, so only that sliver shuffles.

    At 100 TB the batch-side shuffle shrinks from |batch| to
    ~|dups| + fpp*|batch|; a production deployment persists the word
    table between increments instead of re-aggregating (bit_or is
    mergeable, so appends just OR in the new partials). Size
    ``num_bits ~= 16x expected corpus keys`` for ~1.4% fpp at the
    default two hashes. Both this and the plain variant keep corpus
    TEXT out of every shuffle; they differ only in how much of the
    BATCH shuffles.
    """
    from nyctaxidatapipeline_spark.operators.text_analysis import (
        fingerprint,
    )

    corpus_fps = (fingerprint(corpus, text_col, id_col)
                  .select("fingerprint").distinct())
    words = bloom_words(corpus_fps, "fingerprint", num_bits, n_hashes)
    new_fp = fingerprint(new, text_col, id_col)
    batch_reps = (new_fp.groupBy("fingerprint")
                  .agg(F.min(id_col).alias(id_col)))
    tagged = bloom_maybe_contains(batch_reps, "fingerprint", words,
                                  num_bits, n_hashes)
    fresh = tagged.filter(~F.col("_maybe")).select(id_col)
    checked = (tagged.filter(F.col("_maybe"))
               .join(corpus_fps, "fingerprint", "left_anti")
               .select(id_col))
    return new.join(fresh.union(checked), id_col, "left_semi")


def cross_signal_dedup(docs: DataFrame, emb: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       vec_id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       jaccard_threshold: float = 0.5,
                       cosine_threshold: float = 0.95,
                       num_hashes: int = 32, bands: int = 8,
                       lsh_planes: int | None = None,
                       lsh_bands: int = 4,
                       target_recall: float = 0.9,
                       max_bands: int = 8,
                       dim: int | None = None,
                       portable: bool = False,
                       max_bucket: int | None = 32,
                       lex_index: DataFrame | None = None,
                       emb_index: DataFrame | None = None) -> DataFrame:
    """(id, group_id) over the UNION of the lexical and semantic
    near-dup graphs — multi-signal dedup, the shape production
    curation actually runs: paraphrases/translations that sail past
    shingle overlap fall to the EMBEDDING edge, boilerplate whose
    noisy embeddings sit below the cosine bar falls to the TEXT edge,
    and one connected-components closure folds both into a single
    grouping. ``emb`` carries each document's embedding under the
    documents' id space (``vec_id == doc_id`` — the fixtures'
    convention; pass a pre-joined frame otherwise).

    Both edge generators are the SCALE paths, not the exact ones:
    text = ``near_dup_production`` (exact md5-collapse first, capped
    banded MinHash over representatives — its (id, group) mapping
    enters the union as star edges, which preserve its components
    exactly), embeddings = ``rp_lsh_near_dup_auto`` by default
    (corpus-size-aware (planes, bands) — band width ceil(log2 n) pins
    candidate volume LINEAR in the corpus, the fix for the
    fixed-parameter 11.6x-at-10x curve; pass ``lsh_planes``/
    ``lsh_bands`` explicitly to pin an operating point instead). Each
    is individually oracle-gated; ``portable=True`` makes the whole
    composition value-hash-reproducible in SQL. Every stage is
    linear-ish in the corpus (bucket caps and band bucketing bound
    the pair expansions) — nothing here is all-pairs.

    ``lex_index`` / ``emb_index`` take the two arms' PERSISTED index
    structures — ``build_minhash_index(exact_representatives(docs))``
    for the lexical arm (see ``near_dup_production``'s ``reps_index``)
    and ``build_rp_lsh_index(emb)`` at this call's (threshold,
    target_recall, max_bands) operating point for the embedding arm
    (auto mode only — an explicit ``lsh_planes`` operating point takes
    no index) — skipping both signature passes, the dominant cost of a
    cold run. The grouping is index-representation-independent
    (identical edges → identical components; unit-pinned), so the same
    oracle gates both registrations."""
    from nyctaxidatapipeline_spark.operators.similarity import (
        rp_lsh_near_dup,
        rp_lsh_near_dup_auto,
    )

    if emb_index is not None and lsh_planes is not None:
        raise ValueError("emb_index is the auto operating point's "
                         "index; it cannot serve an explicit "
                         "lsh_planes configuration")

    def _lex_arm() -> DataFrame:
        mapping = near_dup_production(docs, text_col, id_col, n=3,
                                      num_hashes=num_hashes, bands=bands,
                                      threshold=jaccard_threshold,
                                      portable=portable,
                                      max_bucket=max_bucket,
                                      reps_index=lex_index)
        return (mapping.filter(F.col(id_col) != F.col("group_id"))
                .select(F.col(id_col).alias("id_a"),
                        F.col("group_id").alias("id_b")))

    def _emb_arm() -> DataFrame:
        if lsh_planes is not None:
            return rp_lsh_near_dup(emb, threshold=cosine_threshold,
                                   planes=lsh_planes, bands=lsh_bands,
                                   id_col=vec_id_col, vec_col=vec_col,
                                   dim=dim, portable=portable)
        return rp_lsh_near_dup_auto(emb,
                                    threshold=cosine_threshold,
                                    target_recall=target_recall,
                                    max_bands=max_bands,
                                    id_col=vec_id_col,
                                    vec_col=vec_col, dim=dim,
                                    corpus_index=emb_index)

    # The two arms are independent plan builds whose construction runs
    # ACTIONS on the driver (lineage-pin localCheckpoints, the auto
    # operating point's corpus count, the components probe inside
    # near_dup_production) — overlap them on two driver threads
    # (guide §2.6; r16). The resulting plans (and therefore the
    # grouping) are identical — only plan-construction wall changes.
    from nyctaxidatapipeline_spark.plans.util import build_concurrently

    text_edges, emb_pairs = build_concurrently(
        docs.sparkSession, _lex_arm, _emb_arm)
    emb_edges = emb_pairs.select("id_a", "id_b")
    edges = text_edges.unionByName(emb_edges).distinct()
    comp = connected_components(edges)
    return (docs.select(F.col(id_col))
            .join(comp, docs[id_col] == comp["id"], "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("comp"), F.col(id_col))
                     .alias("group_id")))
