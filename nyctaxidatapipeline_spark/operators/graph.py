"""Graph operators over edge-list DataFrames: PageRank, label
propagation, triangle counting.

Web-corpus curation ranks pages/domains by link authority (Common Crawl
releases harmonic/PageRank centrality per domain; quality filters use it
as a prior), and the same primitive ranks any entity graph an analytics
user has lying around. Companion to ``dedup.connected_components`` (the
other standard edge-list algorithm in this engine).

Formulation: the classic power iteration
    rank'(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank(u) / outdeg(u)
with a fixed iteration count. Dangling mass is NOT redistributed (the
simple formulation — a node with no out-edges just stops contributing);
the oracle twin defines the same semantics, so the differential gate
pins it.

Determinism discipline: every rank is rounded to 6 dp at every
iteration boundary — in-neighbor sums are floating-point and
order-sensitive, so without the per-round rounding, ulp drift would
compound across iterations and the cross-engine value hash would flake.
All scalars ((1-d)/N, the initial 1/N) are computed IN-ENGINE with
Spark's ROUND (half-away-from-zero, matching DuckDB) — not with
Python's ``round`` (half-to-even).

Scale shape (100 TB edge lists): the out-degree-annotated edge table is
built once, hash-partitioned by src, and pinned (localCheckpoint) — the
Pregel-on-dataframes equivalent of persisting the partitioned edge
table. Under AQE a pin runs its subtree's shuffle stages when it is
called, during plan construction, not at the first action. Each
iteration is then exactly ONE shuffle (the contribution aggregate by
dst): the edges⋈ranks join reuses the pinned src partitioning and only
moves the ranks side, and the nodes⋈sums join reuses the node-set
partitioning. ``checkpoint_every`` truncates the ranks lineage every
~2 rounds so deep iteration counts don't grow the plan superlinearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iters: int = 3, damping: float = 0.85,
             checkpoint_every: int = 2) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Output: (node, rank) for every node appearing as src or dst.
    Duplicate edges contribute once each — pre-``distinct()`` the input
    if multi-edges should not add weight.

    ``checkpoint_every`` truncates the loop-state lineage mid-loop;
    each un-checkpointed round nests another join+agg into ONE plan,
    and at deep iteration counts Catalyst's analysis/optimization time
    on that nested plan grows superlinearly (the classic
    iterative-algorithm trap). The default fires every 2 rounds, so it
    engages even at the default ``iters=3``; a 20-iteration run is
    regression-tested for bounded wall-clock in ``tests/test_graph.py``.
    """
    # Loop invariants are materialized ONCE (localCheckpoint truncates
    # lineage and pins the computed partitions — the single-query
    # equivalent of persisting the partitioned edge table); without the
    # pins, lazy evaluation would replay the upstream edge derivation
    # (scan + distinct + ...) once per reference per round — measured
    # 3-4x the whole query's cost at 3 iterations.
    #
    # r16 restructure (guide §2.4 "remove shuffles outright", §1.2
    # "don't compute things twice"), measured against the r15 shape:
    #   * out-degree comes from a COUNT WINDOW over the src partition,
    #     not a groupBy+self-join — same src-hash exchange the join
    #     needed anyway, minus the join and its broadcast build, and
    #     the raw edge table no longer needs its own checkpoint (one
    #     edge-table materialization instead of two).
    #   * the loop carries the per-round CONTRIBUTION SUMS, not
    #     materialized ranks: rank(u) = (1-d)/N + d·coalesce(s(u), 0)
    #     is a closed form over the previous round's sums, so it is
    #     evaluated INSIDE the next round's edge join (and once at the
    #     end over the full node set). This removes the per-round
    #     O(nodes) join against ``nodes`` — one join + one node-sized
    #     exchange + one broadcast build per round less, identical
    #     values (the same ROUND(·, 6) expressions at the same
    #     boundaries; pinned against a pure-Python twin in
    #     tests/test_graph.py).
    # Each iteration keeps EXACTLY ONE EDGE-SIZED shuffle (the
    # contribution aggregate by dst, map-side combined — pinned
    # structurally by test_pagerank_one_edge_sized_shuffle_per_round;
    # localCheckpoint does not preserve outputPartitioning, so the plan
    # still shows the pinned edge table's src exchange per round, but
    # it is computed once and AQE-reused across rounds).
    #
    # The pins are not lazy. Under AQE, localCheckpoint(eager=False)
    # runs every shuffle stage of the pinned subtree at the call (the
    # plan is adapted down to its final stage); only the final stage
    # waits for the first action. Per warm pass at sf0.005 (4 cores)
    # the edge pin fires 2 jobs at build time and the mid-loop sums
    # pin 5.
    # NOTE (measured, do NOT retry): dropping the pins does not pay.
    # One A/B ran each arm for 4 warm passes, in 2 rounds, on the
    # sf0.005 tables at 4 cores: identical outputs, and pagerank took
    # 1.70-2.17 s without pins against 1.35-1.86 s with them
    # (shortest_paths: 1.73-1.76 s against 0.99-1.20 s). Dropping only
    # the mid-loop sums pin was neutral.
    w_deg = Window.partitionBy("src")
    ew = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
               .withColumn("_deg", F.count("*").over(w_deg))
               .localCheckpoint(eager=False))
    nodes = (ew.select(F.col("src").alias("node"))
               .union(ew.select(F.col("dst").alias("node")))
               .distinct()
               .localCheckpoint(eager=False))
    n1 = F.broadcast(nodes.agg(F.count("*").alias("_n")))
    # rank expression over the PREVIOUS round's sums (s = NULL for
    # nodes that received no contributions); round 0 is the uniform
    # initial rank. Same rounding discipline as the module docstring.
    init_rank = F.round(1.0 / F.col("_n"), 6)

    def rank_expr(s: F.Column) -> F.Column:
        return F.round((1.0 - damping) / F.col("_n")
                       + damping * F.coalesce(s, F.lit(0.0)), 6)

    sums = None
    for i in range(iters):
        if sums is None:
            contribs = (ew.crossJoin(n1)
                          .select("dst", (init_rank / F.col("_deg"))
                                  .alias("_c")))
        else:
            contribs = (ew.join(sums.withColumnRenamed("dst", "src"),
                                "src", "left")
                          .crossJoin(n1)
                          .select("dst",
                                  (rank_expr(F.col("_s")) / F.col("_deg"))
                                  .alias("_c")))
        sums = (contribs.groupBy("dst")
                        .agg(F.round(F.sum("_c"), 6).alias("_s")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            sums = sums.localCheckpoint(eager=False)
    if sums is None:   # iters=0: the uniform initial ranks
        return (nodes.crossJoin(n1)
                     .select("node", init_rank.alias("rank")))
    return (nodes.join(sums.withColumnRenamed("dst", "node"),
                       "node", "left")
            .crossJoin(n1)
            .select("node", rank_expr(F.col("_s")).alias("rank")))


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", iters: int = 2,
                      checkpoint_every: int = 2) -> DataFrame:
    """Synchronous label propagation (community detection) over a
    directed edge list — pass a symmetrized list for the usual
    undirected semantics.

    Every node starts in its own community (label = node id). Each
    round, a node adopts the most frequent label among its in-
    neighbors, ties broken by the LARGEST label (a total order, so the
    update is deterministic — the classic async-LPA coin-flip tie is
    exactly what a differential oracle cannot pin); nodes with no
    in-neighbors keep their label. Output: (node, label) after
    ``iters`` rounds.

    Scale shape: the edge table is pinned hash-partitioned by src (the
    per-round labels join reuses it, only the labels side moves); each
    round then pays the (dst, label) frequency aggregate and the
    per-dst argmax — count tables bounded by the distinct labels per
    node, not corpus size. Same checkpoint cadence as ``pagerank``.
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
              .repartition(F.col("src"))
              .localCheckpoint(eager=False))
    nodes = (e.select(F.col("src").alias("node"))
              .union(e.select(F.col("dst").alias("node")))
              .distinct()
              .localCheckpoint(eager=False))
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(iters):
        if i == 0:
            # Round 1 shortcut (r16, guide §2.4): labels start as the
            # IDENTITY map (label(src) == src), so joining the label
            # table in is a no-op projection — read the label straight
            # off the edge row and skip the join + broadcast build.
            cnts = (e.groupBy("dst", F.col("src").alias("label"))
                     .agg(F.count("*").alias("_cnt")))
        else:
            cnts = (e.join(labels.withColumnRenamed("node", "src"),
                           "src")
                     .groupBy("dst", "label")
                     .agg(F.count("*").alias("_cnt")))
        best = (cnts.groupBy("dst")
                    .agg(F.max_by(
                        "label",
                        F.struct(F.col("_cnt"), F.col("label")))
                        .alias("_new")))
        labels = (labels.join(best.withColumnRenamed("dst", "node"),
                              "node", "left")
                  .select("node",
                          F.coalesce(F.col("_new"), F.col("label"))
                           .alias("label")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            labels = labels.localCheckpoint(eager=False)
    return labels


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    (input direction ignored; self-loops and duplicate edges dropped).
    Output: (node, triangles) for every node in >= 1 triangle.

    Implementation is the degree-ordered compact-forward algorithm:
    direct every canonical edge from the endpoint that is LOWER in the
    (degree, node) total order to the higher one, enumerate wedges by
    self-joining the out-adjacency on its source, and close each wedge
    with one semi-join back to the directed edge set. Directing by
    degree bounds every node's out-degree by O(sqrt(m)) — the classic
    result that keeps the wedge join at O(m^1.5) worst case instead of
    sum-of-degrees-squared, which is what dies on power-law graphs at
    100 TB (a celebrity node with degree 10^7 would otherwise emit
    10^14 wedges). The count itself is enumeration-order-independent,
    so the DuckDB twin can use the simple id-ordered formulation.
    """
    uv = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                       F.greatest(F.col(src), F.col(dst)).alias("v"))
               .filter(F.col("u") != F.col("v"))
               .distinct())
    deg = (uv.select(F.col("u").alias("node"))
             .union(uv.select(F.col("v").alias("node")))
             .groupBy("node").agg(F.count("*").alias("_deg")))
    du = deg.select(F.col("node").alias("u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("node").alias("v"), F.col("_deg").alias("_dv"))
    ku = F.struct(F.col("_du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("_dv").alias("d"), F.col("v").alias("n"))
    # direct low -> high in (degree, id) order; carry the target's key
    # so the wedge join can order its two legs without re-joining deg
    o = (uv.join(du, "u").join(dv, "v")
           .select(F.when(ku < kv, F.col("u")).otherwise(F.col("v"))
                    .alias("a"),
                   F.when(ku < kv, F.col("v")).otherwise(F.col("u"))
                    .alias("b"),
                   F.when(ku < kv, kv).otherwise(ku).alias("kb"))
           .localCheckpoint(eager=False))
    o1 = o.select(F.col("a"), F.col("b").alias("v"),
                  F.col("kb").alias("kv"))
    o2 = o.select(F.col("a"), F.col("b").alias("w"),
                  F.col("kb").alias("kw"))
    wedges = (o1.join(o2, "a")
                .filter(F.col("kv") < F.col("kw"))
                .select(F.col("a").alias("t_u"), "v", "w"))
    closed = wedges.join(
        o.select(F.col("a").alias("v"), F.col("b").alias("w")),
        ["v", "w"], "left_semi")
    tri_nodes = (closed.select(F.explode(
        F.array("t_u", "v", "w")).alias("node")))
    return tri_nodes.groupBy("node").agg(
        F.count("*").alias("triangles"))


def top_ranked(edges: DataFrame, k: int = 20, **kwargs) -> DataFrame:
    """Top-k nodes by PageRank (ties broken by node id for a
    deterministic cut)."""
    r = pagerank(edges, **kwargs)
    return (r.orderBy(F.col("rank").desc(), F.col("node"))
             .limit(k))


def shortest_paths(edges: DataFrame, sources: DataFrame,
                   src: str = "src", dst: str = "dst",
                   node_col: str = "node", iters: int = 4,
                   checkpoint_every: int = 2) -> DataFrame:
    """Fixed-iteration BFS (unweighted single/multi-source shortest
    paths): ``iters`` rounds of distance relaxation over a directed
    edge list. Output: (node, dist) for every node REACHED within
    ``iters`` hops (unreached nodes are absent — the frontier
    semantics an oracle can pin without an infinity sentinel).

    Scale shape mirrors ``pagerank``: the edge table is pinned
    hash-partitioned by src once; each round is one join that reuses
    that layout (only the distance side moves) plus one min-aggregate
    by node. The distance table only ever holds reached nodes, so
    early rounds are as small as the frontier — the Pregel BFS cost
    profile, not |V| per round.
    """
    # Pins as in ``pagerank``, and just as eager under AQE: the edge pin
    # fires 2 jobs and the mid-loop distance pin 6 per warm pass at
    # sf0.005. Dropping them measured slower (see the NOTE there).
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
              .repartition(F.col("src"))
              .localCheckpoint(eager=False))
    d = (sources.select(F.col(node_col).alias("node"))
                .distinct()
                .select("node", F.lit(0).alias("dist")))
    for i in range(iters):
        # Frontier-only relaxation (r16, guide §1.2): in unweighted BFS
        # a node's distance equals its first-reach round and never
        # improves afterwards, so only the FRONTIER (nodes first
        # reached last round, dist == i) can relax anything new — a
        # non-frontier node u (dist < i) already emitted dist(u)+1 to
        # its neighbors the round it WAS the frontier, and the min-agg
        # kept it. Joining the whole distance table per round re-derived
        # those same contributions; the filter makes the per-round join
        # input the frontier, which shrinks to nothing as the reachable
        # set saturates (the Pregel BFS cost profile).
        frontier = d if i == 0 else d.filter(F.col("dist") == i)
        relaxed = (e.join(frontier.withColumnRenamed("node", "src"),
                          "src")
                    .select(F.col("dst").alias("node"),
                            (F.col("dist") + 1).alias("dist")))
        d = (d.unionByName(relaxed)
              .groupBy("node").agg(F.min("dist").alias("dist")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            d = d.localCheckpoint(eager=False)
    return d
