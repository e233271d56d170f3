"""Graph operators — hand-checked micro-graphs and pure-Python
reference twins (fixture-scale values are pinned by the `pagerank`
differential oracle)."""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import Row

from nyctaxidatapipeline_spark.operators.graph import pagerank, top_ranked


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def test_two_node_cycle_is_stationary(spark):
    # symmetric 2-cycle: 1/2 each is the fixed point and survives
    # rounding at every iteration
    e = _edges(spark, [("a", "b"), ("b", "a")])
    out = {r["node"]: r["rank"] for r in pagerank(e, iters=4).collect()}
    assert out == {"a": 0.5, "b": 0.5}


def test_star_sink_collects_rank(spark):
    # a -> c, b -> c: after 1 iteration c = (1-d)/3 + d*(1/3 + 1/3);
    # a and b have no in-edges -> (1-d)/3. No dangling redistribution.
    e = _edges(spark, [("a", "c"), ("b", "c")])
    out = {r["node"]: r["rank"]
           for r in pagerank(e, iters=1, damping=0.85).collect()}
    third = round(1.0 / 3, 6)
    assert out["a"] == out["b"] == round(0.15 / 3, 6)
    assert out["c"] == round(0.15 / 3 + 0.85 * round(2 * third, 6), 6)
    assert out["c"] > out["a"]


def test_more_inlinks_rank_higher(spark):
    # hub-and-spoke: everyone links to h, h links back to a only
    pairs = [(x, "h") for x in "abcd"] + [("h", "a")]
    out = {r["node"]: r["rank"]
           for r in pagerank(_edges(spark, pairs), iters=5).collect()}
    assert out["h"] == max(out.values())
    assert out["a"] > out["b"] == out["c"] == out["d"]


def test_top_ranked_deterministic_cut(spark):
    pairs = [(x, "h") for x in "abcd"] + [("h", "a")]
    rows = top_ranked(_edges(spark, pairs), k=3, iters=5).collect()
    assert [r["node"] for r in rows] == ["h", "a", "b"]  # b<c<d tie->id


def test_deep_iteration_bounded_and_converged(spark):
    """20 Lloyd^W power-iteration rounds must stay cheap (the default
    checkpoint_every=2 truncates the nested join+agg lineage — without
    it, Catalyst analysis time grows superlinearly with rounds) and
    reach the true fixpoint on a strongly-connected graph."""
    import time

    # 24-node ring + chords: strongly connected, no dangling nodes, so
    # the no-redistribution semantics equal classic PageRank and the
    # stationary distribution sums to 1.
    n = 24
    pairs = [(f"n{i:02d}", f"n{(i + 1) % n:02d}") for i in range(n)]
    pairs += [(f"n{i:02d}", f"n{(i + 7) % n:02d}") for i in range(0, n, 3)]
    e = _edges(spark, pairs)

    t0 = time.monotonic()
    out = {r["node"]: r["rank"] for r in pagerank(e, iters=20).collect()}
    elapsed = time.monotonic() - t0
    assert elapsed < 120, f"20 iterations took {elapsed:.0f}s — lineage blowup"

    # pure-Python twin of the exact per-round semantics (6 dp
    # half-away-from-zero rounding at every boundary)
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        return float(Decimal(x).quantize(Decimal("0.000001"),
                                         rounding=ROUND_HALF_UP))

    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    outdeg = {}
    for a, _ in pairs:
        outdeg[a] = outdeg.get(a, 0) + 1
    ranks = {v: r6(1.0 / len(nodes)) for v in nodes}
    for _ in range(20):
        sums = {v: 0.0 for v in nodes}
        for a, b in pairs:
            sums[b] += ranks[a] / outdeg[a]
        ranks = {v: r6(0.15 / len(nodes) + 0.85 * r6(sums[v]))
                 for v in nodes}
    for v in nodes:
        assert abs(out[v] - ranks[v]) <= 2e-6, (v, out[v], ranks[v])

    # converged: one more round moves nothing beyond rounding noise
    out21 = {r["node"]: r["rank"]
             for r in pagerank(e, iters=21).collect()}
    assert all(abs(out[v] - out21[v]) <= 2e-6 for v in nodes)

    # independent twin: UNROUNDED full-precision power iteration to a
    # 1e-12 fixpoint (classic PageRank — valid on this dangling-free
    # graph). The 6 dp-rounded engine result must sit within rounding
    # accumulation distance of the true stationary distribution.
    # (networkx.pagerank needs scipy, absent in this container.)
    true = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(500):
        sums = {v: 0.0 for v in nodes}
        for a, b in pairs:
            sums[b] += true[a] / outdeg[a]
        nxt = {v: 0.15 / len(nodes) + 0.85 * sums[v] for v in nodes}
        delta = max(abs(nxt[v] - true[v]) for v in nodes)
        true = nxt
        if delta < 1e-12:
            break
    assert sum(true.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(abs(out[v] - true[v]) < 5e-5 for v in nodes)


# --- label propagation ----------------------------------------------------

def test_lpa_two_cliques_converge(spark):
    from nyctaxidatapipeline_spark.operators.graph import (
        label_propagation,
    )
    # two triangles joined by one bridge edge; symmetrize
    pairs = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"),
             ("c", "x")]
    sym = pairs + [(b, a) for a, b in pairs]
    out = {r["node"]: r["label"]
           for r in label_propagation(_edges(spark, sym),
                                      iters=4).collect()}
    # deterministic max-label tie-break: each triangle's nodes share a
    # label; both cliques end up labeled from the bridge-side maxima
    assert out["a"] == out["b"]
    assert out["x"] == out["y"] == out["z"]


def test_lpa_isolated_direction_keeps_label(spark):
    from nyctaxidatapipeline_spark.operators.graph import (
        label_propagation,
    )
    # directed edge a->b only: a has no in-neighbors and must keep its
    # own label; b adopts a's
    out = {r["node"]: r["label"]
           for r in label_propagation(_edges(spark, [("a", "b")]),
                                      iters=1).collect()}
    assert out == {"a": "a", "b": "a"}


# --- triangle counting ----------------------------------------------------

def test_triangle_count_known_graph(spark):
    from nyctaxidatapipeline_spark.operators.graph import triangle_count
    # K4 on {1,2,3,4}: every node is in C(3,2)=3 triangles; node 5
    # hangs off node 1 and is in none
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)]
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])
    out = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_ignores_direction_dupes_loops(spark):
    from nyctaxidatapipeline_spark.operators.graph import triangle_count
    pairs = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])
    out = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


# --- BFS shortest paths ---------------------------------------------------

def test_bfs_distances_path_graph(spark):
    from nyctaxidatapipeline_spark.operators.graph import shortest_paths
    # a -> b -> c -> d chain plus shortcut a -> c
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    src = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["dist"]
           for r in shortest_paths(e, src, iters=4).collect()}
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_frontier_is_bounded_by_iters(spark):
    from nyctaxidatapipeline_spark.operators.graph import shortest_paths
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    src = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["dist"]
           for r in shortest_paths(e, src, iters=2).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}   # d is beyond 2 hops -> absent


def test_pagerank_one_edge_sized_shuffle_per_round(spark):
    """Structural pin of the scale claim (VERDICT r4 item 5): each
    PageRank round shuffles the EDGE-sized contribution stream exactly
    once — the groupBy(dst) aggregate, map-side combined. The plan also
    re-exchanges the pinned edge table (computed once, AQE-reused
    across rounds — localCheckpoint does not preserve
    outputPartitioning) and the node-sized previous-round sums into the
    src join; the r16 sums-carrying loop removed the third per-round
    exchange (the O(nodes) join against the node set — the rank closed
    form is evaluated inside the edge join instead, so the node set is
    joined exactly once, at the end). If a refactor un-folds the
    out-degree into the loop, re-adds the per-round nodes join, or adds
    any second edge-sized shuffle, the per-round deltas below jump and
    this test fails."""
    import re

    from nyctaxidatapipeline_spark.plans import explain_str

    edges = _edges(spark, [(i, (i * 3 + 1) % 20) for i in range(40)])

    def counts(iters):
        p = explain_str(pagerank(edges, iters=iters, checkpoint_every=0),
                        "simple")
        dst = len(re.findall(r"Exchange hashpartitioning\(dst#", p))
        total = len(re.findall(
            r"Exchange (?:hashpartitioning|SinglePartition)", p))
        return dst, total

    (d1, t1), (d2, t2), (d3, t3) = counts(1), counts(2), counts(3)
    # exactly ONE edge-sized (dst) shuffle per round
    assert (d1, d2, d3) == (1, 2, 3)
    # per-round total is a pinned constant: 1 edge-sized (dst agg)
    # + the AQE-reused edge-table src exchange + 1 node-sized (sums
    # into the src join). r15 shape was 4 (the per-round nodes join).
    assert t2 - t1 == t3 - t2 == 3, (t1, t2, t3)


def _r6(x: float) -> float:
    # Decimal(repr(x)), not Decimal(x): Spark's ROUND goes through
    # BigDecimal.valueOf(double) = Double.toString's SHORTEST repr,
    # which is what Python's repr produces too — full binary expansion
    # (Decimal(x)) rounds 0.0411714999... cases the other way.
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def test_pagerank_sums_loop_matches_reference_with_dangling(spark):
    from nyctaxidatapipeline_spark.operators.graph import pagerank

    rng = random.Random(160)
    n = 40
    pairs = sorted({(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
                    for _ in range(90)})
    pairs = [(a, b) for a, b in pairs if a != b]
    # force both dangling shapes: a pure sink (no out-edges) and a pure
    # source (no in-edges)
    pairs += [("n0", "sink_only"), ("source_only", "n1")]
    e = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])

    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    outdeg: dict[str, int] = {}
    for a, _ in pairs:
        outdeg[a] = outdeg.get(a, 0) + 1
    for iters in (1, 3, 4):
        out = {r["node"]: r["rank"]
               for r in pagerank(e, iters=iters).collect()}
        ranks = {v: _r6(1.0 / len(nodes)) for v in nodes}
        for _ in range(iters):
            sums = {v: 0.0 for v in nodes}
            for a, b in pairs:
                sums[b] += ranks[a] / outdeg[a]
            ranks = {v: _r6(0.15 / len(nodes) + 0.85 * _r6(sums[v]))
                     for v in nodes}
        assert set(out) == set(nodes)
        # 4e-6, not ulp-exact: the twin sums in-neighbor contributions
        # in edge order while Spark sums in partition order, so a sum
        # landing ON a 0.5e-6 rounding boundary can step 1e-6 per
        # rounded stage (sum + rank = 2 stages/round). Exactness of the
        # ENGINE's own value is pinned by the differential oracle at
        # fixture scale; this gate pins the algorithm.
        for v in nodes:
            assert abs(out[v] - ranks[v]) <= 4e-6, (iters, v)
        # the no-in-edge node must sit at exactly (1-d)/N after round 1+
        assert abs(out["source_only"] - _r6(0.15 / len(nodes))) <= 1e-9


def test_lpa_identity_round_matches_reference(spark):
    from nyctaxidatapipeline_spark.operators.graph import (
        label_propagation,
    )

    rng = random.Random(161)
    n = 25
    pairs = sorted({(f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
                    for _ in range(70)})
    pairs = [(a, b) for a, b in pairs if a != b]
    e = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])

    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    for iters in (1, 2, 3):
        out = {r["node"]: r["label"]
               for r in label_propagation(e, iters=iters).collect()}
        labels = {v: v for v in nodes}
        for _ in range(iters):
            cnt: dict[str, dict[str, int]] = {}
            for a, b in pairs:
                cnt.setdefault(b, {}).setdefault(labels[a], 0)
                cnt[b][labels[a]] += 1
            nxt = dict(labels)
            for v, c in cnt.items():
                # most frequent, ties to LARGEST label
                nxt[v] = max(c, key=lambda lb: (c[lb], lb))
            labels = nxt
        assert out == labels, iters


def test_bfs_frontier_relaxation_matches_reference(spark):
    """The r16 frontier-only relaxation (only nodes first reached last
    round join the edge table) must reproduce whole-table relaxation
    exactly — pinned against a pure-Python multi-source BFS on a random
    graph with cycles, unreachable nodes, and back-edges into sources."""
    from nyctaxidatapipeline_spark.operators.graph import shortest_paths

    rng = random.Random(163)
    n = 35
    pairs = sorted({(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
                    for _ in range(70)})
    pairs = [(a, b) for a, b in pairs if a != b]
    e = spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])
    srcs = ["n1", "n2"]
    sdf = spark.createDataFrame([(s,) for s in srcs], "node string")

    adj: dict[str, list[str]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
    for iters in (1, 2, 4, 7):
        out = {r["node"]: r["dist"]
               for r in shortest_paths(e, sdf, iters=iters).collect()}
        dist = {s: 0 for s in srcs}
        frontier = set(srcs)
        for step in range(1, iters + 1):
            nxt = {v for u in frontier for v in adj.get(u, ())
                   if v not in dist}
            for v in nxt:
                dist[v] = step
            frontier = nxt
        assert out == dist, iters
