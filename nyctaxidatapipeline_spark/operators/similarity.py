"""Similarity search over embedding columns (``array<float>``).

North-star operator (BASELINE.json): nearest-neighbor search and
near-duplicate detection over the ``embeddings`` fixture. Entry points:

  * **brute_force_topk / hard_negatives** — exact cosine top-k:
    broadcast the query set, cross-join the corpus, fold the dot product
    with ``F.aggregate`` / ``F.zip_with`` (JVM-side lambda expressions —
    no Python, no UDF), rank with a per-query window. The arithmetic is
    sequential-fold double math, bitwise-identical to DuckDB's
    ``list_dot_product`` on DOUBLE[] — which makes it oracle-testable.
  * **embedding_near_dup / embedding_near_dup_blocked** — exact
    all-pairs cosine ≥ threshold: the Catalyst fold (oracle-testable),
    and the block-pair BLAS kernel, which ships every vector to the
    block pairs it belongs to and collects nothing on the driver.
  * **rp_lsh_near_dup / rp_lsh_near_dup_auto** — the scale path for
    near-dups: random-hyperplane LSH. Pseudo-random planes (md5-derived
    literals, or per-row xxhash64 components when the dimension is
    unknown), per-band signature buckets, candidates = bucket
    collisions, exact rerank of candidates only. Shuffle volume
    O(n·bands), never O(n²). ``_auto`` derives (planes, bands) from the
    corpus count; ``build_rp_lsh_index`` persists its buckets.
  * **ivf_topk / knn_graph_ivf** — IVF (k-means coarse quantizer):
    probe the ``nprobe`` nearest lists, score probed lists only.
  * **knn_graph** — the exact kNN graph over the block-pair layout.
  * **incremental_semantic_admission(_auto)** — the daily-increment
    semantic near-dup gate against a standing corpus.

The banding and posting-list pair expansion are
``dedup._band_table`` / ``dedup._posting_pairs``, shared with the
MinHash and SimHash operators. Norms are precomputed once per side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.dedup import (
    _band_table,
    _posting_pairs,
    bucket_cap_audit,
)
from nyctaxidatapipeline_spark.operators.indexmeta import (
    check_index_params,
    stamp_index_params,
)
from nyctaxidatapipeline_spark.operators.windows import top_k_per_group
from nyctaxidatapipeline_spark.plans.util import fan_out

def _zero() -> Column:
    # lazy: F.lit needs an active session, so no module-level Column
    return F.lit(0.0).cast("double")


def as_double(vec: str | Column) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product (deterministic order → oracle-stable).

    With ``dim`` the sum is statically unrolled into a plain arithmetic
    expression. Addition order (left to right from 0.0) is identical
    either way, so the doubles are bitwise the same and the two forms
    are freely interchangeable for oracle parity.

    CHOOSE THE FOLD near joins/filters: all in-repo cosine call sites
    use the fold form, because a 64-dim unrolled dot that Catalyst
    pushes into a join condition (cosine >= threshold after a join) or
    folds into a wide projection de-codegens the operator (janino's
    64 KB method limit) — measured 4.2 s vs 1.7 s for the LSH rerank at
    bench scale. The unrolled path is kept for narrow standalone
    projections where it measurably wins; re-measure before using it.
    """
    if dim is None:
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           _zero(), lambda acc, x: acc + x)
    expr = _zero()
    for i in range(1, dim + 1):
        expr = expr + F.element_at(a, i) * F.element_at(b, i)
    return expr


def l2_norm(a: Column, dim: int | None = None) -> Column:
    if dim is None:
        return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                                  _zero(), lambda acc, x: acc + x))
    expr = _zero()
    for i in range(1, dim + 1):
        expr = expr + F.element_at(a, i) * F.element_at(a, i)
    return F.sqrt(expr)


def embedding_dim(df: DataFrame, vec_col: str = "embedding") -> int | None:
    """Static dimension probe (reads one row) — enables the unrolled fast
    path. Returns None on an empty frame (callers fall back to the fold)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row is not None else None


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     dim: int | None = None) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for every query vector.

    Output: (query_id, vec_id, cosine, rank) — rank 1..k per query,
    ties broken by vec_id (deterministic).
    """
    q = queries.select(F.col(id_col).alias(query_id_col),
                       as_double(vec_col).alias("q_vec"),
                       l2_norm(as_double(vec_col), dim).alias("q_norm"))
    c = fan_out(corpus, id_col).select(
        F.col(id_col), as_double(vec_col).alias("c_vec"),
        l2_norm(as_double(vec_col), dim).alias("c_norm"))
    scored = (c.join(F.broadcast(q))
               .select(query_id_col, id_col,
                       F.round(dot(F.col("q_vec"), F.col("c_vec"))
                               / (F.col("q_norm") * F.col("c_norm")), 6)
                        .alias("cosine")))
    return top_k_per_group(
        scored, [query_id_col],
        [F.col("cosine").desc(), F.col(id_col).asc()],
        k=k, desc=False, rank_col="rank")


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   query_id_col: str = "query_id",
                   dim: int | None = None) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-``k`` most-similar corpus vectors with a DIFFERENT
    label (and a different id) — the negatives that sit closest to the
    decision boundary, which is what embedding-model training loops
    actually sample (random negatives are trivially easy; hard ones
    carry the gradient).

    Output: (query_id, query_label, vec_id, label, cosine, rank) —
    rank 1..k per query, ties broken by vec_id (deterministic).

    Same exact-scoring shape as ``brute_force_topk`` (broadcast query
    side, one fold per vector, windowed partial top-k —
    WindowGroupLimit keeps per-group state bounded); the label filter
    runs before ranking so negatives never displace into the k. At
    100 TB the scale path is the same composition over ``ivf_topk``'s
    list-pruned candidates — this brute variant is the exact,
    oracle-checkable baseline."""
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(label_col).alias("query_label"),
                       as_double(vec_col).alias("q_vec"),
                       l2_norm(as_double(vec_col), dim).alias("q_norm"))
    c = fan_out(corpus, id_col).select(
        F.col(id_col), F.col(label_col),
        as_double(vec_col).alias("c_vec"),
        l2_norm(as_double(vec_col), dim).alias("c_norm"))
    scored = (c.join(F.broadcast(q))
               .filter((F.col(label_col) != F.col("query_label"))
                       & (F.col(id_col) != F.col(query_id_col)))
               .select(query_id_col, "query_label", id_col, label_col,
                       F.round(dot(F.col("q_vec"), F.col("c_vec"))
                               / (F.col("q_norm") * F.col("c_norm")), 6)
                        .alias("cosine")))
    return top_k_per_group(
        scored, [query_id_col, "query_label"],
        [F.col("cosine").desc(), F.col(id_col).asc()],
        k=k, desc=False, rank_col="rank")


def with_norm(df: DataFrame, id_col: str, vec_col: str,
              prefix: str, dim: int | None = None) -> DataFrame:
    """(id, vec, norm) — the norm fold runs ONCE per row here instead of
    once per pair in the O(n²) join (3x fewer folds; identical doubles, so
    oracle parity is preserved: cosine stays dot/(na*nb)). Fanned out to
    cluster parallelism: the per-vector fold is the CPU hot loop and a
    small scan plans as one task (no-op at real scale)."""
    return fan_out(df, id_col).select(
        F.col(id_col).alias(f"id_{prefix}"),
        as_double(vec_col).alias(f"vec_{prefix}"),
        l2_norm(as_double(vec_col), dim).alias(f"norm_{prefix}"))


def embedding_near_dup(df: DataFrame, threshold: float = 0.95,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       dim: int | None = None) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).

    Brute-force O(n²/2) — exact and oracle-testable at test SF; the LSH
    variant below is the scale path (same output contract, approximate
    recall). Norms precomputed per side (one fold per pair, not three).
    """
    a = with_norm(df, id_col, vec_col, "a", dim)
    b = with_norm(df, id_col, vec_col, "b", dim)
    return (a.join(b, F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(dot(F.col("vec_a"), F.col("vec_b"))
                             / (F.col("norm_a") * F.col("norm_b")), 6)
                      .alias("cosine"))
             .filter(F.col("cosine") >= threshold))


def _round6_half_away(sims, tmp):
    """In-place ROUND(x, 6) with SQL half-AWAY-from-zero ties (DuckDB /
    Spark ROUND semantics). ``np.round`` is half-to-EVEN: a cosine whose
    BLAS sum lands exactly on a 6-dp halfway boundary would flip the last
    digit vs the oracle — a data-dependent flake this rule removes.
    ``tmp`` is a caller-preallocated scratch buffer of the same shape."""
    import numpy as np

    np.abs(sims, out=tmp)
    tmp *= 1e6
    tmp += 0.5
    np.floor(tmp, out=tmp)
    # divide, don't multiply by 1e-6: 1e-6 is not exactly representable,
    # so x*1e-6 lands one ulp off the correctly-rounded x/1e6 (the double
    # DuckDB's ROUND produces) — enough to break bitwise hash parity.
    tmp /= 1e6
    np.copysign(tmp, sims, out=sims)


def embedding_near_dup_blocked(df: DataFrame, threshold: float = 0.95,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               n_blocks: int = 8) -> DataFrame:
    """Distributed all-pairs cosine near-dup: the block-pair BLAS kernel.

    Same output contract as ``embedding_near_dup`` — (id_a, id_b, cosine)
    with id_a < id_b, cosine ≥ threshold, rounded 6 dp half-away — with
    **no driver-side collect anywhere**: every vector is replicated to
    exactly the block PAIRS it participates in (``_block_pairs``), and
    each of the n_blocks·(n_blocks+1)/2 groups computes one |A|x|B| BLAS
    matmul inside ``applyInPandas``. Values can differ from the fold
    path in the last ulp (BLAS reorders the sum); both round
    half-away-from-zero to 6 dp (SQL ROUND). A zero vector divides to
    NaN here and never pairs.

    Scale: shuffle volume is O(n·(n_blocks+1)) vector copies; per-task
    memory is two blocks (~2n/n_blocks vectors), so ``n_blocks`` is the
    knob that keeps tasks inside executor memory at any corpus size. The
    O(n²d) flops are inherent to the exact contract and spread over
    independent tasks. The kernel tiles the similarity matrix through
    small PREALLOCATED buffers (``out=``): first-touch page faults
    dominate fresh large allocations on virtualized kernels, and reuse
    keeps per-task memory flat.
    """
    def kernel(pdf):
        import numpy as np
        import pandas as pd

        diagonal = pdf["_pa"].iat[0] == pdf["_pb"].iat[0]
        a_pdf = pdf[pdf["_side"] == "a"]
        b_pdf = a_pdf if diagonal else pdf[pdf["_side"] == "b"]
        empty = pd.DataFrame({"id_a": pd.array([], dtype="int64"),
                              "id_b": pd.array([], dtype="int64"),
                              "cosine": pd.array([], dtype="float64")})
        if not len(a_pdf) or not len(b_pdf):
            return empty
        a_ids = a_pdf["_id"].to_numpy()
        a_mat = np.stack(a_pdf["_vec"].to_numpy()).astype(np.float64)
        a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
        if diagonal:
            b_ids, b_mat = a_ids, a_mat
        else:
            b_ids = b_pdf["_id"].to_numpy()
            b_mat = np.stack(b_pdf["_vec"].to_numpy()).astype(np.float64)
            b_mat /= np.linalg.norm(b_mat, axis=1, keepdims=True)
        bt = np.ascontiguousarray(b_mat.T)
        n, tile = len(b_ids), 256
        width = min(tile, len(a_ids))
        sim_buf = np.empty((width, n))
        tmp_buf = np.empty((width, n))
        keep_buf = np.empty((width, n), dtype=bool)
        out_a, out_b, out_c = [], [], []
        for s in range(0, len(a_ids), tile):
            t_ids = a_ids[s:s + tile]
            m = len(t_ids)
            sims = sim_buf[:m]
            np.dot(a_mat[s:s + tile], bt, out=sims)
            _round6_half_away(sims, tmp_buf[:m])
            keep = keep_buf[:m]
            np.greater_equal(sims, threshold, out=keep)
            if diagonal:
                # A == B: every unordered pair appears as (x,y) AND (y,x)
                keep &= np.less.outer(t_ids, b_ids)
            ai, bi = np.nonzero(keep)
            if not len(ai):
                continue
            ia, ib = t_ids[ai], b_ids[bi]
            # Cross-block pairs appear once but in block order, not id
            # order — orient to the id_a < id_b contract.
            out_a.append(np.minimum(ia, ib))
            out_b.append(np.maximum(ia, ib))
            out_c.append(sims[ai, bi])
        if not out_a:
            return empty
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "cosine": np.concatenate(out_c)})

    return (_block_pairs(df, id_col, vec_col, n_blocks)
            .groupBy("_pa", "_pb").applyInPandas(
                kernel, schema="id_a long, id_b long, cosine double"))


def _block_pairs(df: DataFrame, id_col: str, vec_col: str,
                 n_blocks: int) -> DataFrame:
    """(_pa, _pb, _side, _id, _vec) — the block-pair layout of the exact
    all-pairs kernels: each vector gets block pmod(xxhash64(id),
    n_blocks) and is copied to every block PAIR it belongs to, as side
    'a' of pairs (blk, blk..n_blocks-1) and side 'b' of pairs
    (0..blk-1, blk). A diagonal pair (blk, blk) holds one copy; its
    kernel uses it as both operands. Grouping by (_pa, _pb) gives
    n_blocks·(n_blocks+1)/2 groups that together cover every pair once."""
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                 F.lit(n_blocks)).cast("int")
    base = df.select(F.col(id_col).alias("_id"),
                     F.col(vec_col).alias("_vec"), blk.alias("_blk"))
    side_a = (base.withColumn("_pb",
                              F.explode(F.sequence(F.col("_blk"),
                                                   F.lit(n_blocks - 1))))
                  .select(F.col("_blk").alias("_pa"), "_pb",
                          F.lit("a").alias("_side"), "_id", "_vec"))
    side_b = (base.filter(F.col("_blk") > 0)
                  .withColumn("_pa", F.explode(F.sequence(F.lit(0),
                                                          F.col("_blk") - 1)))
                  .select("_pa", F.col("_blk").alias("_pb"),
                          F.lit("b").alias("_side"), "_id", "_vec"))
    return side_a.unionByName(side_b)


def _unit_rows(part, *cols):
    """(ids, unit-row matrix, *cols) of a kernel group, sorted by id:
    float64 rows scaled to unit norm. Ascending ids make a stable
    argsort over the similarity columns break ties to the lowest id.
    The norm is clamped at 1e-12, so an all-zero vector scores cosine
    0.0 against everything instead of NaN (a NaN row would drop out of
    the `> -inf` filters and its anchor vanish from the output, where
    the oracle still ranks it)."""
    import numpy as np

    ids = part["_id"].to_numpy()
    order = np.argsort(ids)
    mat = np.stack(part["_vec"].to_numpy())[order].astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return (ids[order], mat, *(part[c].to_numpy()[order] for c in cols))


def _topk_rows(anchor_ids, anchor_mat, cand_ids, cand_mat, k: int,
               exclude_self: bool):
    """(anchor ids, candidate ids, cosines) of each anchor's top-``k``
    candidates by cosine, the per-group partial top-k of the kNN
    kernels. Cosines are rounded 6 dp half-away first: they are OUTPUT
    (hash-compared), so np.round's half-even would break parity at a
    midpoint. Candidate columns must be id-ascending (``_unit_rows``),
    so the stable argsort resolves equal cosines to the lowest id.
    ``exclude_self`` drops anchor == candidate."""
    import numpy as np

    sims = anchor_mat @ cand_mat.T
    _round6_half_away(sims, np.empty_like(sims))
    if exclude_self:
        sims[np.equal.outer(anchor_ids, cand_ids)] = -np.inf
    kk = min(k, sims.shape[1])
    idx = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
    rows = np.repeat(anchor_ids, kk)
    cols = cand_ids[idx.ravel()]
    vals = np.take_along_axis(sims, idx, axis=1).ravel()
    keep = vals > -np.inf
    return rows[keep], cols[keep], vals[keep]


def _plane_component(plane: int, i: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from xxhash64(plane, dim-index) — identical on every executor
    with zero state shipped."""
    h = F.xxhash64(F.concat_ws(":", F.lit(f"rp{plane}"), i.cast("string")))
    return (F.pmod(h, F.lit(20001)).cast("double") - 10000.0) / 10000.0


def rp_signature(vec: Column, planes: int = 16) -> Column:
    """P-bit random-projection signature (bit j = sign of <v, r_j>).

    Empty/degenerate vectors are guarded: ``sequence(0, size-1)`` counts
    DOWN for size 0 (same gotcha ``functions.text.shingles`` documents),
    which would NULL the projection and silently collapse every such
    vector into signature 0 — they get an explicit NULL signature instead
    (dropped from bucketing by the grouping, never false-matched).
    """
    sig = None
    for p in range(planes):
        proj = F.aggregate(
            F.zip_with(vec,
                       F.transform(F.sequence(F.lit(0), F.size(vec) - 1),
                                   lambda i: _plane_component(p, i)),
                       lambda x, r: x * r),
            _zero(), lambda acc, x: acc + x)
        bit = F.when(proj >= 0,
                     F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return F.when(F.size(vec) > 0, sig)


def rp_plane_components_portable(dim: int, planes: int) -> list[list[float]]:
    """Pseudo-random plane matrix derived from md5 in PURE PYTHON — no
    Spark job, no engine-specific hash. Same range mapping as
    ``_plane_component`` ((h mod 20001 - 10000)/10000 ∈ [-1, 1]) but the
    base hash is the first 8 hex chars of md5, so the exact same decimal
    literals can be embedded in a DuckDB oracle query: both engines parse
    one decimal string to the one nearest double, making the whole
    signature→band→candidate→rerank pipeline value-hash-checkable."""
    import hashlib

    return [[(int(hashlib.md5(f"rp{p}:{i}".encode()).hexdigest()[:8], 16)
              % 20001 - 10000) / 10000.0
             for i in range(dim)]
            for p in range(planes)]


def rp_signature_static(vec_name: str,
                        components: list[list[float]]) -> Column:
    """Signature with literal plane components, built as ONE SQL string.

    Composing ~planes x dim Column ops in Python costs a Py4J round-trip
    per operator (~7 s for 24x64 — paid at plan-build time, every query);
    a single ``F.expr`` ships the whole unrolled projection in one call
    and parses JVM-side in milliseconds. Left-to-right sum from 0.0
    matches the ``rp_signature`` fold order, so bits are identical
    (``repr`` round-trips each double exactly).
    """
    bits = []
    for p, comp in enumerate(components):
        arr = "array(" + ", ".join(f"{c!r}D" for c in comp) + ")"
        # zip_with+aggregate fold, NOT an unrolled sum: a planes x dim
        # unrolled projection exceeds Janino's 64 KB method limit and
        # wedges whole-stage codegen; the higher-order fold is interpreted
        # per element but references only a literal array (no per-row hash
        # derivation), which is the actual win.
        proj = (f"aggregate(zip_with({vec_name}, {arr}, (x, r) -> x * r), "
                f"0.0D, (acc, x) -> acc + x)")
        bits.append(f"IF(({proj}) >= 0.0D, SHIFTLEFT(1L, {p}), 0L)")
    return F.expr("(" + " | ".join(bits) + ")")


def ivf_seed_centroids(df: DataFrame, n_centroids: int = 16,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic IVF coarse-quantizer centroids: the ``n_centroids``
    corpus vectors with the smallest ``xxhash64(id)``, L2-normalized.

    Hash-order sampling is a one-pass distributed TakeOrdered (no RNG
    state, same result on any cluster layout). For production-grade
    centroids, run a few Lloyd iterations over a hash-sample with
    ``ivf_assign`` + ``groupBy(list_id).avg`` — the index/search shape
    below is unchanged; seeds alone are adequate for recall smoke tests.
    """
    rows = (df.select(F.col(id_col).alias("i"),
                      as_double(vec_col).alias("v"),
                      F.xxhash64(F.col(id_col).cast("string")).alias("h"))
              .orderBy("h", "i").limit(n_centroids).collect())
    cents = []
    for r in rows:
        v = r["v"]
        nrm = sum(x * x for x in v) ** 0.5 or 1.0
        cents.append([x / nrm for x in v])
    return cents


def ivf_seed_centroids_portable(df: DataFrame, n_centroids: int = 16,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> list[list[float]]:
    """Cross-engine-reproducible IVF seeds: the ``n_centroids`` non-zero
    corpus vectors with the smallest ``(md5(id), id)``, L2-normalized.

    md5 is bit-identical in Spark / DuckDB / hashlib (xxhash64, the
    default seeding above, is Spark-only), and the norm fold below is
    the explicit sequential 0.0-seeded loop — bitwise equal to DuckDB's
    ``x / sqrt(list_dot_product(v, v))`` — so a SQL oracle can rebuild
    the exact centroid doubles from the same parquet and the whole IVF
    probe→rerank pipeline becomes value-hash-checkable. Same bounded
    TakeOrdered collect as ``ivf_seed_centroids`` (k rows, never the
    corpus)."""
    rows = (df.select(F.col(id_col).alias("i"),
                      as_double(vec_col).alias("v"))
              .filter(l2_norm(as_double(vec_col)) > 0)
              .orderBy(F.md5(F.col("i").cast("string")), "i")
              .limit(n_centroids).collect())
    cents = []
    for r in rows:
        v = [float(x) for x in r["v"]]
        acc = 0.0
        for x in v:
            acc = acc + x * x
        nrm = acc ** 0.5
        cents.append([x / nrm for x in v])
    return cents


def ivf_kmeans_centroids(df: DataFrame, n_centroids: int = 16,
                         iters: int = 2, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         sample_mod: int | None = None,
                         dim: int | None = None,
                         max_sample_rows: int = 1 << 17) -> list[list[float]]:
    """Lloyd-refined (spherical k-means) IVF centroids, trained on a
    bounded sample — the FAISS/ScaNN coarse-quantizer recipe.

    Seeds with the deterministic hash-min picks, then collects a BOUNDED
    training sample to the driver (``max_sample_rows`` rows via
    TakeOrdered on ``xxhash64(id)`` — deterministic on any cluster
    layout; ``sample_mod`` optionally thins the candidate pool first) and
    runs ``iters`` spherical-k-means steps as one NumPy matmul each.
    Driver traffic is capped at ``max_sample_rows × dim`` doubles
    (~128 MB at the default with dim=128) no matter the corpus size; at
    100 TB the quantizer trains on the sample and the corpus is assigned
    ONCE, distributed, with the final centroids (``ivf_assign``).

    Distributed per-iteration Lloyd (assign + posexplode/avg per step)
    was measured 2-3× slower at bench scale purely on per-job fixed cost
    — each step re-analyzes the ``n_centroids × dim``-literal dot
    expression and pays two shuffles — while producing the same
    centroids; driver-side training is the standard design, not a
    shortcut (FAISS trains IVF quantizers on ≤256k sampled vectors).

    Empty lists keep their previous centroid (standard Lloyd guard).
    Refinement moves centroids toward the data's actual cluster modes,
    which is what makes ``nprobe``-pruned recall meaningful — hash-seeded
    picks on clustered data leave some clusters split/starved.
    """
    import numpy as np

    cents = ivf_seed_centroids(df, n_centroids, id_col, vec_col)
    if not iters or not cents:
        return cents
    sample = df
    if sample_mod:
        sample = df.filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                   F.lit(sample_mod)) == 0)
    rows = (sample.select(as_double(vec_col).alias("v"),
                          F.xxhash64(F.col(id_col).cast("string")).alias("h"),
                          F.col(id_col).alias("i"))
                  .filter(F.size("v") > 0)
                  .orderBy("h", "i")           # TakeOrderedAndProject —
                  .limit(max_sample_rows)      # one pass, no full sort
                  .collect())
    if not rows:
        return cents
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    mat /= nrm
    cmat = np.array(cents, dtype=np.float64)
    for _ in range(iters):
        assign = (mat @ cmat.T).argmax(axis=1)
        for j in range(len(cents)):
            members = mat[assign == j]
            if not len(members):
                continue                        # Lloyd guard: keep old
            m = members.mean(axis=0)
            n = np.linalg.norm(m)
            if n > 0.0:
                cmat[j] = m / n
    return cmat.tolist()


def _centroid_dots(vec_name: str, centroids: list[list[float]]) -> Column:
    """array<double> of <vec, c_j> for every centroid, as ONE ``F.expr``
    (literal centroid arrays; one Py4J call — see ``rp_signature_static``
    for why folds, not unrolled sums)."""
    folds = []
    for c in centroids:
        arr = "array(" + ", ".join(f"{x!r}D" for x in c) + ")"
        folds.append(f"aggregate(zip_with({vec_name}, {arr}, "
                     f"(x, c) -> x * c), 0.0D, (acc, x) -> acc + x)")
    return F.expr("array(" + ", ".join(folds) + ")")


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int | None = None) -> DataFrame:
    """(id, vec, norm, list_id) — each vector assigned to its nearest
    centroid (argmax dot against L2-normalized centroids ≡ argmax cosine,
    since the vector's own norm is constant across centroids). This is the
    index build: at 100 TB, write the output bucketed/partitioned by
    ``list_id`` so searches prune to probed lists at the scan."""
    vec_d = as_double(F.col(vec_col))
    return (fan_out(df, id_col)
              .select(F.col(id_col), vec_d.alias("vec"),
                      l2_norm(vec_d, dim).alias("norm"))
              .withColumn("_dots", _centroid_dots("vec", centroids))
              .withColumn("list_id",
                          (F.expr("array_position(_dots, array_max(_dots))")
                            - 1).cast("int"))
              .drop("_dots"))


def ivf_occupancy_audit(df: DataFrame, centroids: list[list[float]],
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dim: int | None = None) -> DataFrame:
    """ONE stats row pricing the routing skew of an IVF coarse
    quantizer — the ANN sibling of ``dedup.bucket_cap_audit`` (r15):
    the auto-sizers (``knn_graph_ivf_n_centroids``,
    ``rp_lsh_near_dup_auto``) claim bounded per-list occupancy, and
    probe cost is ``Σ probed-list sizes``, so a hot list is the ANN
    analogue of a hot LSH bucket — this makes the claim observable
    instead of trusted:

      * ``n_lists`` / ``vecs_routed`` / ``nonempty_lists`` — the
        quantizer's width, the corpus routed through it, and how many
        lists actually received vectors (empty lists waste probes);
      * ``max_list`` / ``min_list`` — the hottest and coldest
        nonempty list;
      * ``mean_occupancy`` — vecs/lists (6 dp), the balanced ideal;
      * ``imbalance`` — max_list / mean (6 dp): 1.0 is perfectly
        balanced; an nprobe probe set containing the hot list scans
        ~imbalance× its fair share.

    Plan shape: the same O(n·k·d) codegen assignment pass the index
    build runs (``ivf_assign``), one list-keyed shuffle of ≤ n_lists
    groups, then a single scalar aggregate — list-count-sized, never
    corpus-sized, no pair expansion. Zero-row input yields the
    all-zeros row."""
    n_lists = len(centroids)
    sizes = (ivf_assign(df, centroids, id_col, vec_col, dim)
             .groupBy("list_id").agg(F.count("*").alias("_c")))
    c = F.col("_c").cast("long")
    vecs = F.coalesce(F.sum(c), F.lit(0))
    mx = F.coalesce(F.max(c), F.lit(0))
    return sizes.agg(
        F.lit(n_lists).cast("long").alias("n_lists"),
        vecs.alias("vecs_routed"),
        F.count("*").cast("long").alias("nonempty_lists"),
        mx.alias("max_list"),
        F.coalesce(F.min(c), F.lit(0)).alias("min_list"),
        (F.round(vecs.cast("double") / F.lit(float(n_lists)), 6)
         + F.lit(0.0)).alias("mean_occupancy"),
        (F.when(vecs > 0,
                F.round(mx.cast("double") * F.lit(float(n_lists))
                        / vecs.cast("double"), 6))
          .otherwise(0.0) + F.lit(0.0)).alias("imbalance"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             dim: int | None = None, kmeans_iters: int = 2,
             centroids: list[list[float]] | None = None,
             corpus_index: DataFrame | None = None) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest inverted lists
    per query, exact-rerank only vectors in probed lists.

    Same output contract as ``brute_force_topk`` (query_id, vec_id,
    cosine, rank); with ``nprobe == n_centroids`` the search is exhaustive
    and the results are identical (unit-tested parity, independent of
    centroid quality). Scan cost per query is ~``nprobe/n_centroids`` of
    the corpus — the standard recall/latency knob. Shuffle shape: corpus
    hash-partitioned once on ``list_id``; queries explode to ``nprobe``
    rows and join on it. ``kmeans_iters`` Lloyd steps refine the coarse
    quantizer (see ``ivf_kmeans_centroids``); 0 = raw hash seeds.
    ``centroids`` overrides seeding entirely (pass
    ``ivf_seed_centroids_portable(...)`` to make the output
    SQL-oracle-reproducible).

    ``corpus_index`` takes a prebuilt :func:`ivf_assign` frame —
    (id, vec, norm, list_id), read back from wherever the deployment
    persists it — and skips the corpus assignment pass entirely:
    identical results when the index was built with the SAME
    ``centroids`` (unit-pinned, incl. through a parquet round trip).
    THE deployment shape: assignment is the O(n·k·d) corpus-side cost
    a search service pays once at ingest, not per query batch, and an
    index written ``partitionBy('list_id')`` turns the probe join into
    dynamic partition pruning — probed lists are the only partitions
    READ (plan-gated in ``tests/test_similarity.py``). ``corpus`` may
    then be None.
    """
    if corpus_index is not None:
        if centroids is None:
            raise ValueError(
                "corpus_index requires the centroids it was built "
                "with (the index stores assignments, not the coarse "
                "quantizer)")
        cents = centroids
        c = corpus_index.select(id_col, "vec", "norm",
                                F.col("list_id").cast("int"))
    else:
        if centroids is not None:
            cents = centroids
        else:
            cents = ivf_kmeans_centroids(corpus, n_centroids,
                                         kmeans_iters,
                                         id_col, vec_col, dim=dim) \
                if kmeans_iters else \
                ivf_seed_centroids(corpus, n_centroids, id_col, vec_col)
        c = ivf_assign(corpus, cents, id_col, vec_col, dim)
    probes = F.expr(
        f"transform(slice(array_sort(zip_with(_dots, "
        f"sequence(0, {len(cents) - 1}), (d, i) -> struct(-d AS nd, i AS "
        f"cid))), 1, {min(nprobe, len(cents))}), s -> s.cid)")
    vec_d = as_double(F.col(vec_col))
    q = (queries.select(F.col(id_col).alias(query_id_col),
                        vec_d.alias("q_vec"),
                        l2_norm(vec_d, dim).alias("q_norm"))
                .withColumn("_dots", _centroid_dots("q_vec", cents))
                .withColumn("_probe", F.explode(probes))
                .withColumn("list_id", F.col("_probe").cast("int"))
                .drop("_dots", "_probe"))
    scored = (c.join(F.broadcast(q), "list_id")
               .select(query_id_col, id_col,
                       F.round(dot(F.col("q_vec"), F.col("vec"))
                               / (F.col("q_norm") * F.col("norm")), 6)
                        .alias("cosine")))
    return top_k_per_group(
        scored, [query_id_col],
        [F.col("cosine").desc(), F.col(id_col).asc()],
        k=k, desc=False, rank_col="rank")


def knn_graph_ivf_n_centroids(n: int, nprobe: int = 4) -> int:
    """Corpus-size-aware list count for ``knn_graph_ivf``:
    ``ceil(sqrt(nprobe·n))`` balances the two cost terms — assignment
    is n·k centroid dots, probed scanning is n·nprobe·(n/k) pair dots —
    for a total of Θ(n^1.5·d) (vs Θ(n²·d) exact). A pure function of
    the count (IEEE sqrt is correctly rounded, so the SQL twin's
    CEIL(SQRT(...)) lands on the identical integer)."""
    import math

    if n < 1:
        return 1
    return max(1, math.ceil(math.sqrt(nprobe * n)))


def knn_graph_ivf(df: DataFrame, k: int = 5,
                  n_centroids: int | None = None,
                  nprobe: int = 4, id_col: str = "vec_id",
                  vec_col: str = "embedding", dim: int | None = None,
                  centroids: list[list[float]] | None = None) -> DataFrame:
    """Approximate kNN graph — IVF with queries = corpus and the
    self-match excluded: the sublinear scale path ``knn_graph``'s
    contract names (its exact kernel is O(n²d) by contract; this scans
    ~nprobe/n_centroids of the corpus per anchor).

    Same output contract as ``knn_graph``: (query_id, vec_id, cosine,
    rank), rank 1..k per anchor, ties by cosine desc then id asc.
    Recall < 1 by construction (neighbors in unprobed lists are
    invisible) — gated against the exact graph in ``tests/test_recall``.

    Execution is NOT ``ivf_topk``'s expression path: with queries =
    corpus the probed-candidate volume is n·nprobe·(n/n_centroids)
    pairs, and an interpreted per-pair fold measured 13x slower than
    the exact graph's BLAS kernel at bench scale. Instead the scoring
    reuses ``knn_graph``'s proven shape keyed by LIST: both sides
    shuffle once on ``list_id`` (never broadcast — the query side IS
    the corpus), one |queries|x|members| matmul per list in
    ``applyInPandas`` emits per-(query, list) partial top-k with the
    same half-away 6 dp rounding, and an anchor-keyed window merges the
    ≤ nprobe partials per anchor (window input O(n·nprobe·k)). The
    probed lists partition each anchor's candidate set, so the merge
    provably returns the IVF top-k. ``n_centroids`` defaults to the
    corpus-size-aware ``knn_graph_ivf_n_centroids`` sizing
    (ceil(sqrt(nprobe·n)) — balances assignment vs scan for a total of
    Θ(n^1.5·d) vs Θ(n²·d) exact; a fixed list count would leave the
    per-list pair volume quadratic)."""
    if dim is None:
        dim = embedding_dim(df, vec_col)
    if n_centroids is None:
        n_centroids = len(centroids) if centroids is not None else \
            knn_graph_ivf_n_centroids(df.count(), nprobe)
    cents = centroids if centroids is not None else \
        ivf_kmeans_centroids(df, n_centroids, 2, id_col, vec_col, dim=dim)
    # Routing (corpus assignment + query probes) runs in ONE Arrow
    # kernel pass over the corpus, not the literal-centroid fold
    # expressions: with the auto-sized k ~ sqrt(n), n·k interpreted
    # dots (and a 2·k·d-literal expression tree) measured as the
    # dominant term at 10x bench scale — the same lesson as
    # semantic_dedup's BLAS assignment. Routing dots are rounded to
    # 6 dp (half-away, mirrored by ROUND(...,6) in the DuckDB twin's
    # assigned/probes ranking) BEFORE argmax / stable top-nprobe:
    # BLAS reorders the sum vs the twin's sequential fold, so
    # near-tied raw dots could route a vector to a different list on
    # the two engines — a data-dependent value-hash flake. Ties at
    # 6 dp break to the lowest cid on both sides. Zero-norm vectors
    # are dropped up front (the twin's corpus CTE filters them too;
    # cosine against a zero vector is undefined — the SemDeDup paths
    # set the same convention).
    cm_list = [list(map(float, c)) for c in cents]
    tagged = (df.select(F.col(id_col).alias("_id"),
                        as_double(F.col(vec_col)).alias("_vec"))
                .mapInPandas(_ivf_router(cm_list, min(nprobe, len(cents)),
                                         True, "c"),
                             schema=_IVF_ROUTED_SCHEMA))

    def kernel(pdf):
        import pandas as pd

        cand = pdf[pdf["_side"] == "c"]
        qs = pdf[pdf["_side"] == "q"]
        if not len(cand) or not len(qs):
            return pd.DataFrame({"query_id": pd.array([], dtype="int64"),
                                 "vec_id": pd.array([], dtype="int64"),
                                 "cosine": pd.array([], dtype="float64")})
        c_ids, c_mat = _unit_rows(cand)
        q_ids, q_mat = _unit_rows(qs)
        rows, cols, vals = _topk_rows(q_ids, q_mat, c_ids, c_mat, k, True)
        return pd.DataFrame({"query_id": rows, "vec_id": cols,
                             "cosine": vals})

    partial = tagged.groupBy("list_id").applyInPandas(
        kernel, schema="query_id long, vec_id long, cosine double")
    return top_k_per_group(
        partial, ["query_id"],
        [F.col("cosine").desc(), F.col("vec_id").asc()],
        k=k, desc=False, rank_col="rank")


def rp_lsh_params(n: int, threshold: float = 0.95,
                  target_recall: float = 0.9,
                  max_bands: int = 128) -> tuple[int, int]:
    """Corpus-size-aware (planes, bands) for ``rp_lsh_near_dup`` — the
    textbook S-curve parameterization, addressing the fixed-parameter
    scaling law measured in PLANS.md #12 (ann_lsh 11.6x at 10x data):

    * band width ``w = ceil(log2 n)`` pins the EXPECTED random
      collisions per band at ``~n²·(1/2)^w ≈ n`` on isotropic data, so
      candidate volume grows linearly with the corpus instead of
      quadratically;
    * a true pair at cosine ``threshold`` agrees on one plane with
      ``p = 1 - acos(threshold)/π``, on a whole band with ``p^w``, and
      is recalled by ≥1 of ``b`` bands with ``1 - (1-p^w)^b`` — so
      ``b = ceil(ln(1-target_recall) / ln(1-p^w))``, capped at
      ``max_bands`` (the cap trades recall for bounded signature
      cost; hit only at extreme n·threshold combinations).

    Pure function of (n, threshold, target) — callers at 100 TB feed
    it the corpus count and pass the result through; the REGISTERED
    ann_lsh query keeps its fixed operating point for oracle
    reproducibility.
    """
    import math

    if n < 2:
        return 4, 1
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not (0.0 < target_recall < 1.0):
        raise ValueError("target_recall must be in (0, 1), got "
                         f"{target_recall}")
    w = max(4, math.ceil(math.log2(n)))
    p = 1.0 - math.acos(threshold) / math.pi
    p_band = p ** w
    if p_band >= 1.0:
        bands = 1
    else:
        bands = math.ceil(math.log(1.0 - target_recall)
                          / math.log(1.0 - p_band))
    bands = max(1, min(bands, max_bands))
    return w * bands, bands


def rp_lsh_near_dup(df: DataFrame, threshold: float = 0.95,
                    planes: int = 16, bands: int = 4,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    dim: int | None = None,
                    portable: bool = False) -> DataFrame:
    """LSH-bucketed near-dup: candidates collide on ≥1 signature band,
    then exact cosine filters. Same output contract as
    ``embedding_near_dup`` with approximate recall (P(collision) =
    1-(1-(1-θ/π)^r)^b for angle θ).

    ``portable=True`` (requires ``dim``) derives the plane matrix from
    md5 in pure Python (``rp_plane_components_portable``) instead of a
    Spark xxhash64 job; the identical literals embed in a DuckDB oracle,
    so the output is fully value-hash-checkable. Plane quality is
    equivalent (both are uniform pseudo-random components); xxhash64
    stays the default purely to keep the non-oracle path self-contained
    JVM-side."""
    if planes % bands:
        raise ValueError(
            f"planes ({planes}) must divide evenly into bands ({bands}); "
            "indivisible settings would silently ignore the high bits")
    if portable and dim is None:
        raise ValueError("portable plane literals require a known dim")
    width = planes // bands
    # Static plane literals when the dimension is known (the fast path);
    # per-row derived components otherwise (identical bits either way).
    # ``vec`` is materialized in its own projection so the (wide) sig
    # expression references a cheap attribute, not the cast-transform.
    vec_d = as_double(F.col(vec_col))
    # Degenerate (empty) vectors are excluded up front: the static-literal
    # signature path zero-fills their projection (zip_with pads with NULL,
    # IF(NULL>=0,...) takes the else arm), which would collide every empty
    # vector into bucket 0 of every band; they carry no cosine signal.
    base = (fan_out(df, id_col)
              .filter(F.size(F.col(vec_col)) > 0)
              .select(F.col(id_col), vec_d.alias("vec"),
                      l2_norm(vec_d, dim).alias("norm")))
    if dim is not None:
        # The static-literal path always uses the md5-derived matrix:
        # the components are baked into the plan as decimal literals
        # either way, so deriving them with a Spark xxhash64 job
        # (rp_plane_components) bought nothing and cost a full job +
        # 24-column collect per call (~1.6 s of pure fixed overhead at
        # bench scale, measured). md5-in-Python is job-free AND embeds
        # identically in the DuckDB oracle — the "portability tax" was
        # negative. ``portable`` is kept as an API no-op for the
        # dim-known path; dim-unknown falls back to the per-row
        # xxhash64 fold, which cannot be oracle-twinned.
        comps = rp_plane_components_portable(dim, planes)
        sig_expr = rp_signature_static("vec", comps)
    else:
        # (portable with dim=None already rejected above)
        sig_expr = rp_signature(F.col("vec"), planes)
    # The signature projection (planes x dim fold per row) is the CPU
    # hot loop, and this lazy plan is referenced by the bucket branch
    # AND both rerank sides — so the sig expression lives ONLY in the
    # bucket branch, and the rerank sides re-derive just (vec, norm)
    # from the scan (a dim-sized fold, ~planes x cheaper). Before this
    # split the rerank sides replayed the full signature per reference:
    # 3x the fold cost for bits they never read.
    buckets = _band_table(
        base.select(id_col, sig_expr.alias("sig")), id_col,
        [F.shiftright(F.col("sig"), bi * width)
          .bitwiseAND(F.lit((1 << width) - 1)) for bi in range(bands)])
    return _posting_list_rerank(base, buckets, threshold, id_col)


def _posting_list_rerank(base: DataFrame, buckets: DataFrame,
                         threshold: float, id_col: str) -> DataFrame:
    """Shared LSH tail: (band, bucket) posting lists → distinct candidate
    id pairs → exact cosine rerank against ``base`` (id, vec, norm).

    Candidates are id-only (posting-list pair expansion per bucket), so
    vectors shuffle once per rerank side — not once per band through a
    bucket self-join."""
    cand = (_posting_pairs(buckets, ["band", "bucket"], id_col)
            .select("p.id_a", "p.id_b").distinct())
    va = base.select(F.col(id_col).alias("id_a"),
                     F.col("vec").alias("vec_a"),
                     F.col("norm").alias("norm_a"))
    vb = base.select(F.col(id_col).alias("id_b"),
                     F.col("vec").alias("vec_b"),
                     F.col("norm").alias("norm_b"))
    return (cand.join(va, "id_a").join(vb, "id_b")
                .select("id_a", "id_b",
                        F.round(dot(F.col("vec_a"), F.col("vec_b"))
                                / (F.col("norm_a") * F.col("norm_b")), 6)
                         .alias("cosine"))
                .filter(F.col("cosine") >= threshold))


def rp_band_buckets_static(vec_name: str, components: list[list[float]],
                           bands: int) -> list[F.Column]:
    """Per-band bucket integers from literal plane components — one
    expression per band, each packing only its own ``width`` sign bits.

    Unlike ``rp_signature_static``'s single packed long (which caps the
    total plane budget at 63 bits), per-band buckets support any
    ``planes = width * bands`` — the shape ``rp_lsh_params`` produces at
    corpus scale, where the band width grows as ceil(log2 n)."""
    planes = len(components)
    if planes % bands:
        raise ValueError(f"planes ({planes}) must divide into bands "
                         f"({bands})")
    width = planes // bands
    out = []
    for bi in range(bands):
        bits = []
        for local in range(width):
            comp = components[bi * width + local]
            arr = "array(" + ", ".join(f"{c!r}D" for c in comp) + ")"
            proj = (f"aggregate(zip_with({vec_name}, {arr}, "
                    f"(x, r) -> x * r), 0.0D, (acc, x) -> acc + x)")
            bits.append(f"IF(({proj}) >= 0.0D, {1 << local}L, 0L)")
        out.append(F.expr("(" + " + ".join(bits) + ")"))
    return out


def build_rp_lsh_index(df: DataFrame, threshold: float = 0.95,
                       target_recall: float = 0.9,
                       max_bands: int = 128,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       dim: int | None = None,
                       n: int | None = None) -> DataFrame:
    """(id, band, bucket) — the persistable random-hyperplane LSH index
    of a corpus at :func:`rp_lsh_params`'s corpus-size-aware operating
    point: the signature projection (planes × dim fold per vector, the
    CPU hot loop of a cold :func:`rp_lsh_near_dup_auto` run) computed
    ONCE, to be written ``partitionBy('band')`` (or bucketed on (band,
    bucket)) and read back via that function's ``corpus_index=``. Pure
    function of (corpus, threshold, target_recall, max_bands) — the
    same md5-portable plane matrix both sides derive — so index ∘
    persist ∘ read-back yields bit-identical buckets to the in-query
    pass (unit-pinned). ``n`` (the corpus count the parameterization
    keys on) defaults to ``df.count()``; a deployment passes the count
    it sized the index with.

    The operating point — including the DERIVED (planes, bands), which
    is what actually shapes the buckets — is STAMPED into the ``band``
    column's metadata (persisted through parquet, see
    :mod:`indexmeta`); ``rp_lsh_near_dup_auto`` validates the stamp on
    its ``corpus_index=`` path, so probing with a mismatched index
    raises instead of silently pairing wrong (ADVICE r10)."""
    if n is None:
        n = df.count()
    if dim is None:
        dim = embedding_dim(df, vec_col)
    planes, bands = rp_lsh_params(n, threshold, target_recall, max_bands)
    comps = rp_plane_components_portable(dim, planes)
    vec_d = as_double(F.col(vec_col))
    base = (fan_out(df, id_col)
              .filter(F.size(F.col(vec_col)) > 0)
              .select(F.col(id_col), vec_d.alias("vec")))
    return stamp_index_params(
        _band_table(base, id_col,
                    rp_band_buckets_static("vec", comps, bands)),
        _rp_lsh_index_params(threshold, target_recall, max_bands, n,
                             dim, planes, bands))


def _rp_lsh_index_params(threshold: float, target_recall: float,
                         max_bands: int, n: int | None,
                         dim: int | None, planes: int | None = None,
                         bands: int | None = None) -> dict:
    """The stamped/validated operating-point dict for RP-LSH indexes.
    ``threshold``/``target_recall`` are normalized through ``float``
    so 0.95 and .95 stringify identically on both sides; probe-side
    unknowns (None) are omitted and therefore not compared."""
    p = {"kind": "rp_lsh", "threshold": float(threshold),
         "target_recall": float(target_recall), "max_bands": max_bands,
         "n": n, "dim": dim, "planes": planes, "bands": bands}
    return {k: v for k, v in p.items() if v is not None}


def rp_lsh_cap_audit(df: DataFrame, threshold: float = 0.95,
                     target_recall: float = 0.9,
                     max_bands: int = 128,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     dim: int | None = None,
                     n: int | None = None,
                     max_bucket: int = 32) -> DataFrame:
    """:func:`~nyctaxidatapipeline_spark.operators.dedup.bucket_cap_audit`
    over the EXACT (id, band, bucket) banding
    :func:`rp_lsh_near_dup_auto` reads at these parameters
    (:func:`build_rp_lsh_index` — same auto-derived (planes, bands),
    same md5 plane literals), completing the audit family across
    every candidate generator (r15): unlike the capped
    MinHash/SimHash/fuzzy paths, RP-LSH controls occupancy by
    PARAMETERIZATION (``rp_lsh_params`` grows planes with the corpus
    so expected bucket width stays bounded) — this row is how an
    operator checks that the derived operating point actually
    delivered (hottest bucket, Σ c·(c−1)/2 candidate expansions the
    posting-list rerank is about to pay, doc share in over-
    ``max_bucket`` buckets). Costs the signature pass plus one
    bucket-keyed shuffle; never expands a pair."""
    buckets = build_rp_lsh_index(df, threshold, target_recall,
                                 max_bands, id_col, vec_col, dim, n)
    return bucket_cap_audit(buckets, id_col, max_bucket)


def rp_lsh_near_dup_auto(df: DataFrame, threshold: float = 0.95,
                         target_recall: float = 0.9,
                         max_bands: int = 128,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         dim: int | None = None,
                         n: int | None = None,
                         corpus_index: DataFrame | None = None
                         ) -> DataFrame:
    """Corpus-size-aware LSH near-dup — ``rp_lsh_near_dup`` with
    (planes, bands) derived from the corpus count via ``rp_lsh_params``
    instead of fixed by the caller.

    ``n`` defaults to ``df.count()`` — a bounded driver scalar feeding
    the plan, the same two-phase shape as the reference's
    approxQuantile threshold (yellow_taxi_etl.py:121). Band width
    ``ceil(log2 n)`` pins expected random collisions per band at ~n, so
    candidate volume is LINEAR in the corpus at every scale (the fix
    for the fixed-parameter super-linear curve measured in PLANS.md
    #12); signature cost grows O(n log n · bands). Buckets come from
    ``rp_band_buckets_static`` (per-band integers), so the plane budget
    is not capped at the packed-long 63 bits. Always uses the portable
    md5 plane matrix — oracle-twinnable at any operating point.

    ``corpus_index`` takes a prebuilt :func:`build_rp_lsh_index` frame
    for EXACTLY this ``df`` (read back from wherever the deployment
    persists it) and skips the signature projection entirely — the
    rerank sides re-derive only (vec, norm) from the scan, a
    single dim-sized fold per vector (~planes× cheaper than the
    signature). Identical pairs (same bucket rows → same candidates →
    same exact-cosine rerank; unit-pinned through a parquet round
    trip); the index must have been built at the same (threshold,
    target_recall, max_bands, n) operating point — indexes from
    :func:`build_rp_lsh_index` carry a parameter stamp (column
    metadata, parquet-persistent) that is VALIDATED here on every key
    this call knows (n only when the caller passes it), so a
    mismatched index raises instead of silently pairing wrong;
    unstamped frames fall back to this docstring contract.
    """
    if dim is None:
        dim = embedding_dim(df, vec_col)
    vec_d = as_double(F.col(vec_col))
    base = (fan_out(df, id_col)
              .filter(F.size(F.col(vec_col)) > 0)
              .select(F.col(id_col), vec_d.alias("vec"),
                      l2_norm(vec_d, dim).alias("norm")))
    if corpus_index is not None:
        check_index_params(
            corpus_index,
            _rp_lsh_index_params(threshold, target_recall, max_bands,
                                 n, dim),
            "rp_lsh_near_dup_auto")
        buckets = corpus_index.select(id_col, "band", "bucket")
    else:
        if n is None:
            n = df.count()
        planes, bands = rp_lsh_params(n, threshold, target_recall,
                                      max_bands)
        comps = rp_plane_components_portable(dim, planes)
        buckets = _band_table(base, id_col,
                              rp_band_buckets_static("vec", comps, bands))
    return _posting_list_rerank(base, buckets, threshold, id_col)


def knn_graph(df: DataFrame, k: int = 5, id_col: str = "vec_id",
              vec_col: str = "embedding",
              n_blocks: int = 8) -> DataFrame:
    """Exact k-nearest-neighbor graph: for EVERY vector, its top-k
    neighbors by cosine (self excluded) — the all-corpus analogue of
    ``brute_force_topk`` and the substrate for kNN-graph clustering,
    SemDeDup-style curation and hard-negative mining.

    Same distribution strategy as ``embedding_near_dup_blocked`` (no
    driver collect, no broadcast of the corpus): vectors replicate to
    deterministic block PAIRS, each of the n_blocks·(n_blocks+1)/2
    groups computes one |A|x|B| BLAS matmul in ``applyInPandas`` — but
    instead of thresholding, each group emits ONLY its per-anchor
    partial top-k (both orientations of a cross-block pair). Because
    the block pairs PARTITION each anchor's candidate set, the union
    of partials provably contains the global top-k, which one ordinary
    (anchor-keyed, never single-partition) window then extracts. The
    window input is O(n·n_blocks·k) rows — independent of corpus size
    per anchor — versus O(n²) had the kernel emitted full rows.

    The O(n²d) flops are inherent to the EXACT contract; the sublinear
    scale paths are ``ivf_topk`` / ``pq.ivfpq_topk`` with
    queries=corpus. Ties break by candidate id (rounded-6dp cosine
    desc, id asc) — deterministic and oracle-comparable.

    Output: (query_id, vec_id, cosine, rank), rank 1..k per anchor.
    """
    def kernel(pdf):
        import numpy as np
        import pandas as pd

        diagonal = pdf["_pa"].iat[0] == pdf["_pb"].iat[0]
        a_pdf = pdf[pdf["_side"] == "a"]
        b_pdf = a_pdf if diagonal else pdf[pdf["_side"] == "b"]
        if not len(a_pdf) or not len(b_pdf):
            return pd.DataFrame({"query_id": pd.array([], dtype="int64"),
                                 "vec_id": pd.array([], dtype="int64"),
                                 "cosine": pd.array([], dtype="float64")})
        a_ids, a_mat = _unit_rows(a_pdf)
        b_ids, b_mat = (a_ids, a_mat) if diagonal else _unit_rows(b_pdf)
        rows, cols, vals = _topk_rows(a_ids, a_mat, b_ids, b_mat, k,
                                      diagonal)
        if not diagonal:
            # a cross-block pair is scored once: read it both ways
            rb, cb, vb = _topk_rows(b_ids, b_mat, a_ids, a_mat, k, False)
            rows = np.concatenate([rows, rb])
            cols = np.concatenate([cols, cb])
            vals = np.concatenate([vals, vb])
        return pd.DataFrame({"query_id": rows, "vec_id": cols,
                             "cosine": vals})

    partial = (_block_pairs(df, id_col, vec_col, n_blocks)
               .groupBy("_pa", "_pb").applyInPandas(
                   kernel, schema="query_id long, vec_id long, cosine double"))
    return top_k_per_group(
        partial, ["query_id"],
        [F.col("cosine").desc(), F.col("vec_id").asc()],
        k=k, desc=False, rank_col="rank")


def incremental_semantic_admission(new: DataFrame, corpus: DataFrame,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   threshold: float = 0.85,
                                   n_centroids: int = 16,
                                   nprobe: int = 4,
                                   dim: int | None = None,
                                   centroids: list[list[float]]
                                   | None = None,
                                   corpus_index: DataFrame | None = None
                                   ) -> DataFrame:
    """SEMANTIC near-dup admission for a daily increment — the
    embedding-side sibling of ``dedup.incremental_minhash_admission``:
    keep only the NEW vectors that are not cosine≥threshold neighbors
    of the standing CORPUS (within the IVF-probed lists) nor of a
    smaller-id vector in the same batch (greedy first-wins). Returns
    the admitted subset of ``new`` (original columns).

    Scale shape — the deployment loop this registers: the corpus is
    reduced to its IVF inverted index (``ivf_assign`` output, a pure
    function of (corpus, centroids) a deployment persists
    ``partitionBy('list_id')`` and probes via ``corpus_index=`` —
    probed lists become the only partitions read, exactly the
    ``ivf_topk`` contract); a batch vector compares against the
    ~nprobe/n_centroids of the corpus its probes touch, never all of
    it, and cost scales with |batch|, never |corpus|². The in-batch
    arm mirrors index insertion: a later (larger-id) vector sees an
    earlier one iff the earlier one's TOP-1 list is among its probed
    lists — the list it would have been inserted under.

    Like every IVF path, recall < 1 by construction (a neighbor whose
    list was not probed is invisible) — the S-curve knob is
    ``nprobe``, and the exact reference for recall gating is
    ``embedding_near_dup`` at the same threshold. Cosines are rounded
    to 6 dp BEFORE the threshold compare (cross-engine boundary
    stability); zero-norm vectors have no cosine — they are always
    admitted and never block others (both sides filter norm > 0).
    ``centroids`` must be passed when ``corpus_index`` is (the index
    stores assignments, not the coarse quantizer).
    """
    if corpus_index is not None and centroids is None:
        raise ValueError(
            "corpus_index requires the centroids it was built with")
    cents = centroids if centroids is not None else \
        ivf_seed_centroids(corpus, n_centroids, id_col, vec_col)
    c = (corpus_index.select(id_col, "vec", "norm",
                             F.col("list_id").cast("int"))
         if corpus_index is not None
         else ivf_assign(corpus, cents, id_col, vec_col, dim))
    c = (c.filter(F.col("norm") > 0)
          .select(F.col(id_col).alias("_p"), F.col("vec").alias("p_vec"),
                  F.col("norm").alias("p_norm"), "list_id"))
    probes = F.expr(
        f"transform(slice(array_sort(zip_with(_dots, "
        f"sequence(0, {len(cents) - 1}), (d, i) -> struct(-d AS nd, i AS "
        f"cid))), 1, {min(nprobe, len(cents))}), s -> s.cid)")
    vec_d = as_double(F.col(vec_col))
    b = (fan_out(new, id_col)
         .select(F.col(id_col).alias("_b"), vec_d.alias("b_vec"),
                 l2_norm(vec_d, dim).alias("b_norm"))
         .filter(F.col("b_norm") > 0)
         .withColumn("_dots", _centroid_dots("b_vec", cents)))
    bp = (b.withColumn("_probe", F.explode(probes))
           .select("_b", "b_vec", "b_norm",
                   F.col("_probe").cast("int").alias("list_id")))
    cos = F.round(dot(F.col("b_vec"), F.col("p_vec"))
                  / (F.col("b_norm") * F.col("p_norm")), 6)
    # batch x corpus: probe join against the inverted lists
    rej_c = (bp.join(c, "list_id")
               .filter(cos >= threshold)
               .select("_b"))
    # batch x batch: a larger id probes the list a smaller id would be
    # INSERTED under (its argmax top-1 assignment)
    b1 = b.select(
        F.col("_b").alias("_p"), F.col("b_vec").alias("p_vec"),
        F.col("b_norm").alias("p_norm"),
        (F.expr("array_position(_dots, array_max(_dots))") - 1)
         .cast("int").alias("list_id"))
    rej_b = (bp.join(b1, "list_id")
               .filter((F.col("_b") > F.col("_p")) & (cos >= threshold))
               .select("_b"))
    rejected = rej_c.union(rej_b).distinct() \
                    .withColumnRenamed("_b", id_col)
    return new.join(rejected, id_col, "left_anti")


_IVF_ROUTED_SCHEMA = "list_id int, _side string, _id long, " \
                     "_vec array<double>"


def _ivf_router(cm_list: list[list[float]], npr: int,
                emit_probes: bool, side_top1: str):
    """Arrow-batched IVF routing kernel (one BLAS matmul per batch,
    routing dots rounded 6 dp half-away BEFORE argmax/top-nprobe so
    BLAS-vs-fold last-ulp drift cannot flip a near-tied assignment
    against the SQL twin). Emits each vector's top-1 row tagged
    ``side_top1`` and, when ``emit_probes``, its top-``npr`` probe
    rows tagged ``'q'``. Zero-norm vectors drop (admitted, never
    blocking — the sibling paths' convention)."""
    def route(batches):
        import numpy as np
        import pandas as pd

        cm = np.array(cm_list, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
            ids = pdf["_id"].to_numpy()
            nz = np.einsum("ij,ij->i", vm, vm) > 0.0
            vm, ids = vm[nz], ids[nz]
            if not len(ids):
                continue
            dots = vm @ cm.T
            _round6_half_away(dots, np.empty_like(dots))
            best = np.argmax(dots, axis=1)  # first max = lowest cid
            vecs = [list(v) for v in vm]
            out = {
                "list_id": [best.astype("int32")],
                "_side": [np.full(len(ids), side_top1)],
                "_id": [ids], "_vec": [vecs]}
            if emit_probes:
                order = np.argsort(-dots, axis=1,
                                   kind="stable")[:, :npr]
                out["list_id"].append(order.ravel().astype("int32"))
                out["_side"].append(np.full(len(ids) * npr, "q"))
                out["_id"].append(np.repeat(ids, npr))
                out["_vec"].append(
                    [v for v in vecs for _ in range(npr)])
            yield pd.DataFrame({
                "list_id": np.concatenate(out["list_id"]),
                "_side": np.concatenate(out["_side"]),
                "_id": np.concatenate(out["_id"]),
                "_vec": sum(out["_vec"], [])})
    return route


def _semantic_routing_params(cm_list: list[list[float]]) -> dict:
    """Stamp/validation dict for routed-corpus semantic indexes: the
    identity of such an index IS its centroid matrix, so the stamp
    carries an md5 of the (rounded-routing-precision) centroid doubles
    — a probe with different centroids (even the same count) raises
    instead of silently mis-routing."""
    import hashlib
    import json

    payload = json.dumps([[round(x, 6) for x in c] for c in cm_list])
    return {"kind": "semantic_routed", "n_centroids": len(cm_list),
            "centroids_md5": hashlib.md5(payload.encode()).hexdigest()}


def build_semantic_routing_index(corpus: DataFrame,
                                 centroids: list[list[float]],
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding"
                                 ) -> DataFrame:
    """(list_id, _id, _vec) — the persistable ROUTED corpus for
    :func:`incremental_semantic_admission_auto`: every corpus vector's
    top-1 IVF list assignment (the one corpus-sized BLAS routing pass
    a cold admission pays every day), computed ONCE to be written
    ``partitionBy('list_id')`` and read back via that function's
    ``corpus_routed=``. Pure function of (corpus, centroids) — same
    rounded-dot argmax both paths run — so index ∘ persist ∘ read-back
    yields the identical admitted set (unit-pinned). The centroid
    matrix identity is stamped into column metadata and validated on
    probe (see :func:`_semantic_routing_params`)."""
    cm_list = [list(map(float, c)) for c in centroids]
    routed = (fan_out(corpus, id_col)
              .select(F.col(id_col).alias("_id"),
                      as_double(F.col(vec_col)).alias("_vec"))
              .mapInPandas(_ivf_router(cm_list, 1, False, "c"),
                           schema=_IVF_ROUTED_SCHEMA)
              .select("list_id", "_id", "_vec"))
    # stamped on _id, NOT list_id: a partitionBy('list_id') persist
    # turns list_id into a partition column, which does not carry
    # schema metadata through the round trip
    return stamp_index_params(routed, _semantic_routing_params(cm_list),
                              col="_id")


def append_to_semantic_routing_index(index: DataFrame,
                                     admitted: DataFrame,
                                     centroids: list[list[float]],
                                     id_col: str = "vec_id",
                                     vec_col: str = "embedding"
                                     ) -> DataFrame:
    """The index-MAINTENANCE half of the semantic admission loop — the
    embedding-side sibling of ``dedup.append_to_minhash_index``: the
    standing routed corpus plus the admitted increment's routed rows.
    Because routing is a pure PER-ROW function of (vector, centroids),
    route(corpus ∪ admitted) == route(corpus) ∪ route(admitted)
    exactly — a deployment appends (same ``partitionBy('list_id')``
    layout, append mode) after each admission commit instead of ever
    re-routing the corpus. Centroid identity is validated against the
    index's stamp; NOTE the centroid matrix is frozen by the standing
    index — growing the corpus past the sizing the matrix was derived
    for degrades per-list balance, and the re-center/re-route decision
    is the deployment's (the stamp makes a stale probe loud)."""
    check_index_params(index, _semantic_routing_params(
        [list(map(float, c)) for c in centroids]),
        "append_to_semantic_routing_index", col="_id")
    return index.unionByName(
        build_semantic_routing_index(admitted, centroids, id_col,
                                     vec_col))


def incremental_semantic_admission_auto(new: DataFrame,
                                        corpus: DataFrame | None,
                                        id_col: str = "vec_id",
                                        vec_col: str = "embedding",
                                        threshold: float = 0.85,
                                        nprobe: int = 4,
                                        n_centroids: int | None = None,
                                        centroids: list[list[float]]
                                        | None = None,
                                        corpus_routed: DataFrame | None
                                        = None) -> DataFrame:
    """The 100 TB operating point of
    :func:`incremental_semantic_admission` — same admission contract
    (probed-corpus arm + greedy insertion-list in-batch arm, cosines
    rounded 6 dp before the threshold), but with the two things the
    fixed-k expression path cannot scale past:

    * ``n_centroids`` defaults to the corpus-size-aware
      ``knn_graph_ivf_n_centroids`` sizing (ceil(sqrt(nprobe·n)) — a
      FIXED list count leaves per-probe candidate volume growing
      linearly with the corpus, so the admission cost curve bends
      quadratic: measured 12.0 s at sf1 for the 16-list registered
      point vs sub-linear here);
    * routing and verification run in the ``knn_graph_ivf`` Arrow/BLAS
      kernels (one matmul per routing pass, one |probes|x|members|
      matmul per list) — the literal-centroid expression tree
      de-codegens past ~10⁴ centroid doubles (PLANS.md; the janino
      method-size cliff), and routing dots are rounded 6 dp half-away
      BEFORE argmax/top-nprobe so BLAS-vs-fold last-ulp drift cannot
      flip a near-tied list assignment against the SQL twin.

    Shuffle shape: both sides route map-side, one hash exchange on
    ``list_id``, per-list kernel emits only REJECTED batch ids —
    output is O(|batch|), the aggregate input O(batch·nprobe +
    corpus). Zero-norm vectors are admitted and never block (dropped
    in routing, exactly like the sibling paths).

    ``corpus_routed`` takes a prebuilt
    :func:`build_semantic_routing_index` frame (read back from
    wherever the deployment persists it, ``partitionBy('list_id')``)
    and skips the corpus routing pass — the remaining per-increment
    cost is batch routing plus the probed lists' kernels; the
    read-back corpus is semi-joined to the batch's probed list_ids
    first, so untouched lists (and their files, on a partitioned
    persist) are never read. Requires ``centroids`` (the matrix the
    index was built with — a deployment persists it alongside);
    identity is validated against the index's centroid-md5 stamp, and
    the admitted set is INDEX-REPRESENTATION-INDEPENDENT (unit-pinned
    through a parquet round trip). ``corpus`` may be None then."""
    import pandas as pd  # noqa: F401  (driver-side availability check)

    if corpus_routed is None and corpus is None:
        raise ValueError("need a corpus (to route in-query) or a "
                         "corpus_routed index (plus its centroids)")
    if corpus_routed is not None and centroids is None:
        raise ValueError(
            "corpus_routed requires the centroids it was built with "
            "(a deployment persists the matrix alongside the index); "
            "re-deriving them from a corpus here could silently "
            "diverge from the index's routing")
    if n_centroids is None and centroids is None:
        n_centroids = knn_graph_ivf_n_centroids(corpus.count(), nprobe)
    cents = centroids if centroids is not None else \
        ivf_seed_centroids(corpus, n_centroids, id_col, vec_col)
    cm_list = [list(map(float, c)) for c in cents]
    npr = min(nprobe, len(cents))

    schema = _IVF_ROUTED_SCHEMA
    b_tagged = (fan_out(new, id_col)
                .select(F.col(id_col).alias("_id"),
                        as_double(F.col(vec_col)).alias("_vec"))
                .mapInPandas(_ivf_router(cm_list, npr, True, "s"),
                             schema=schema))
    if corpus_routed is not None:
        check_index_params(
            corpus_routed, _semantic_routing_params(cm_list),
            "incremental_semantic_admission_auto", col="_id")
        # the batch routing feeds both the probed-list restriction and
        # the kernel union — materialize it once (batch-sized, tiny)
        b_tagged = b_tagged.localCheckpoint(eager=False)
        # Restrict the read-back routed corpus to lists the batch
        # actually probes: every q row's top-1 list is among its
        # probes, so distinct batch list_ids cover every list where a
        # corpus row could block anything — untouched lists (and, on a
        # list_id-partitioned persist, their FILES) are never read.
        probed = b_tagged.select("list_id").distinct()
        c_tagged = (corpus_routed
                    .join(probed, "list_id", "left_semi")
                    .select("list_id", F.lit("c").alias("_side"),
                            "_id", "_vec"))
    else:
        c_tagged = (fan_out(corpus, id_col)
                    .select(F.col(id_col).alias("_id"),
                            as_double(F.col(vec_col)).alias("_vec"))
                    .mapInPandas(_ivf_router(cm_list, npr, False, "c"),
                                 schema=schema))

    thr = float(threshold)

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"_b": pd.array([], dtype="int64")})
        cand = pdf[pdf["_side"] != "q"]
        qs = pdf[pdf["_side"] == "q"]
        if not len(cand) or not len(qs):
            return empty

        c_ids, c_mat, c_side = _unit_rows(cand, "_side")
        q_ids, q_mat = _unit_rows(qs)
        sims = q_mat @ c_mat.T
        _round6_half_away(sims, np.empty_like(sims))
        blockable = ((c_side == "c")[None, :]
                     | (c_ids[None, :] < q_ids[:, None]))
        hit = (sims >= thr) & blockable
        return pd.DataFrame({"_b": q_ids[hit.any(axis=1)]})

    rejected = (c_tagged.unionByName(b_tagged)
                .groupBy("list_id").applyInPandas(kernel, schema="_b long")
                .distinct().withColumnRenamed("_b", id_col))
    return new.join(rejected, id_col, "left_anti")
