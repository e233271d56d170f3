"""BENCH harness — one JSON line with per-query wall-clock at $SPARK_GRAFT_SF_DIR.

Mirrors the reference's staged-timing shape (``new_etl.py:10-14``) but fixes
its attribution subtlety (SURVEY.md §3 EP3): the shared input is cached and
explicitly materialized BEFORE the per-query timers, so each timer brackets
that query's compute only. Queries are forced with the noop sink (full
materialization of every column — ``.count()`` would let Catalyst prune the
aggregate expressions). Each query is timed ``SPARK_GRAFT_RUNS`` times
(default 3) and the MEDIAN reported, so one-time codegen/JIT cost landing in
any single run cannot masquerade as a regression (the r5 rotation showed the
warmup alone leaves 2-3.5x ordering artifacts on the front positions).

r13: every query's plan-fingerprint sha (tools/plan_fingerprints.py
normalizer, pre-execution plan) is embedded in the artifact's
``fingerprints`` map — ``python tools/plan_fingerprints.py --diff
PLAN_FINGERPRINTS.json BENCH_FULL.json`` adjudicates every wall move in
one command — plus a single ``fp_digest`` in the stdout line (equal
digests between two bench lines ⇒ no plan changed between them). The
``queries`` map stays name→seconds floats: the driver contract and
merge_sf10 sum its values. ``codegen_compiles`` maps each query to the
generated classes compiled during its timed runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from nyctaxidatapipeline_spark import get_spark
from nyctaxidatapipeline_spark.sources import load_table
from tools.plan_fingerprints import fingerprint_df

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    spark = get_spark("bench")

    t0 = time.perf_counter()
    # Stage 0 (reference "Load + feature-engineering"): materialize the two
    # fact tables into the page cache so per-query timers measure compute.
    for t in ("events", "lineitem"):
        _force(load_table(spark, SF_DIR, t))
    load_sec = round(time.perf_counter() - t0, 3)

    qset = entrymod.queries()
    # Optional subset run (e.g. the sf1 scale validation):
    # SPARK_GRAFT_QUERIES="pagerank,ann_ivfpq" limits the timed set.
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        qset = {n: qset[n] for n in names}
    elif sf is not None and sf > 0.1:
        # Deliberately-quadratic exact recall oracles bench at sf<=0.1
        # only (where tests/test_recall gates their auto/scale twins
        # against them); at 10x data they are known-O(n^2) re-measures
        # that bury the production numbers (r6: 64 s of a 512 s sf1
        # suite). Their registered scale twins (knn_graph_ivf,
        # ann_lsh_auto, semantic_dedup_auto) stay in every suite.
        # An explicit SPARK_GRAFT_QUERIES listing still benches them.
        demoted = {"knn_graph", "ann_lsh", "semantic_dedup",
                   "embedding_near_dup"}
        qset = {n: fn for n, fn in qset.items() if n not in demoted}

    # Session warmup (r4 postmortem): the "unexplained regressions"
    # (line_dedup 0.71→2.91 s, vocab 0.97→3.11 s, image_features
    # 1.30→2.43 s) were pure ORDERING artifacts — whichever queries run
    # first in the JVM pay the one-time codegen/JIT/Arrow-init cost.
    # The r5 rotation moved all three out of the front and they fell
    # back to 0.53/0.65/0.75 s with no code change, while the new
    # front-runners inherited the inflation. Run a few cheap,
    # shape-diverse queries untimed (agg, window, text-kernel, Arrow
    # batch) so per-query timers measure steady-state compute
    # regardless of dict order.
    t0 = time.perf_counter()
    for wname in ("demand_heatmap", "moving_avg", "token_stats",
                  "image_features"):
        if wname in qset:
            _force(qset[wname](spark, SF_DIR))
    spark.catalog.clearCache()
    spark._jvm.System.gc()  # noqa: SLF001
    warmup_sec = round(time.perf_counter() - t0, 3)

    # Per-query MEDIAN-of-N (default 3): the r5 rotation proved the
    # shape-diverse warmup alone is NOT sufficient — queries moved to
    # the front of the dict inflated 2-3.5x with zero code change
    # (resample_hourly 0.62→2.15 s) because whichever plans run first
    # still pay residual codegen/JIT for their specific shapes. A
    # median over repeated runs is robust to that one-time cost landing
    # in any single run, so round-over-round per-query comparisons stop
    # manufacturing phantom regressions from CORRECTNESS-window
    # rotation. SPARK_GRAFT_RUNS=1 restores the old single-shot mode.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_RUNS", "3")))
    # SPARK_GRAFT_RECYCLE=N restarts the SparkSession (full JVM
    # teardown) every N queries — the accretion probe for VERDICT r10
    # item 3: a 187-query single-JVM suite accumulates codegen-cache /
    # broadcast-cleanup / GC pressure that a real deployment (one job
    # per application) never sees. If a recycled run's common-set total
    # is materially below the single-session artifact, the suite total
    # is measuring session accretion, not the queries. Default off —
    # the single-session number remains the round-over-round tripwire.
    recycle_n = int(os.environ.get("SPARK_GRAFT_RECYCLE", "0"))
    times: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    fingerprints: dict[str, str] = {}
    # Generated classes Janino compiled during each query's timed runs
    # (CodegenMetrics is JVM-wide): a query that keeps compiling after
    # its first run is paying codegen, not query work.
    compiles = (spark._jvm.org.apache.spark.metrics.source  # noqa: SLF001
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    codegen_compiles: dict[str, int] = {}
    n_done = 0
    for name, fn in qset.items():
        if recycle_n and n_done and n_done % recycle_n == 0:
            spark.stop()
            spark = get_spark("bench")
            for t in ("events", "lineitem"):   # re-warm the page cache
                _force(load_table(spark, SF_DIR, t))
        n_done += 1
        # Per-query plan fingerprint (VERDICT r12 task 2): the SAME
        # normalizer as tools/plan_fingerprints.py, off the
        # PRE-execution plan (post-execution explain shows the AQE
        # final stages and would hash differently). Computed on a
        # SEPARATELY-built frame BEFORE the timed runs (ADVICE r13:
        # fingerprinting run 0's own frame cached that frame's
        # physical planning, so run 0 excluded planning time while
        # runs 1-2 included it — with SPARK_GRAFT_RUNS=1 every
        # reported time was biased low). Explain on a distinct
        # DataFrame shares no plan cache with the timed frames, so
        # all N runs now pay identical planning cost. The artifact is
        # thereby self-adjudicating — a wall drift on an unchanged
        # hash is environmental by construction (PLANS.md #31).
        try:
            fingerprints[name] = fingerprint_df(fn(spark, SF_DIR))[0]
        except Exception:  # noqa: BLE001 — never fail the bench
            fingerprints[name] = "error"
        runs = []
        c0 = compiles.getCount()
        for i in range(n_runs):
            t = time.perf_counter()
            _force(fn(spark, SF_DIR))
            runs.append(round(time.perf_counter() - t, 3))
            # Isolation GC: drop cached frames and force a JVM GC —
            # Spark's ContextCleaner reclaims shuffle files / broadcast
            # blobs only when the JVM collects the dropped references,
            # and a backlog slows later heavy queries 3-6x. The forced
            # GC costs ~1.4 s, so between REPEATS of the same query it
            # runs only when the run was heavy enough to both need it
            # and amortize it (>1 s: unreclaimed state made
            # dsir_weights climb 3.8→6.1→8.9 s across back-to-back
            # runs); sub-second queries skip it and pay one GC after
            # their last run, keeping the median-of-N harness within
            # ~1.5x of single-shot wall clock.
            if i == n_runs - 1 or runs[-1] > 1.0:
                spark.catalog.clearCache()
                spark._jvm.System.gc()  # noqa: SLF001
        codegen_compiles[name] = compiles.getCount() - c0
        times[name] = sorted(runs)[len(runs) // 2]
        all_runs[name] = runs

    total = round(sum(times.values()), 3)
    # Deployment-total vs lesson-total (VERDICT r11 item 2): the
    # deliberate scale-lesson rows (LESSON_QUERIES — each correct,
    # each twinned by a registered deployment shape) are separated out
    # so the headline a reader should track is visible without
    # re-deriving it from the artifact notes. "value" stays the full
    # total for round-over-round continuity.
    totals = entrymod.lesson_totals(times)
    # Exact/scale twins: the "exact" member is the brute-force
    # correctness oracle for the same semantics; the "scale" member is
    # the sketch/index path that survives 100 TB. The scale number is the
    # headline for that operator class; the exact twin is kept primarily
    # as its correctness reference.
    paths = {
        "near_dup_text": {"exact": "ngram_jaccard",
                          "scale": "minhash_dedup"},
        "near_dup_embedding": {"exact": "embedding_near_dup",
                               "scale": "ann_lsh"},
        "ann_topk": {"exact": "ann_topk", "scale": "ann_ivf"},
        "ann_compressed": {"exact": "ann_topk", "scale": "ann_ivfpq"},
        "near_dup_semantic": {"exact": "embedding_near_dup",
                              "scale": "semantic_dedup"},
        "incremental_dedup": {"exact": "incremental_dedup",
                              "scale": "incremental_dedup_bloom"},
        # r9 deployment shapes: the "exact" member is the in-query
        # rebuild/assignment registration (the parity surface), the
        # "scale" member probes the persisted index / auto-sized lists
        "incremental_near_dup": {"exact": "incremental_minhash",
                                 "scale": "incremental_minhash_indexed"},
        "ann_ivf_index": {"exact": "ann_ivf",
                          "scale": "ann_ivf_indexed"},
        "semantic_admission": {"exact": "incremental_semantic",
                               "scale": "incremental_semantic_auto"},
    }
    # Mechanically-trackable headline per path class: regressions on the
    # scale members must be visible round-over-round without re-deriving
    # the sums from the per-query map.
    path_totals = {
        "exact_total_sec": round(sum(times[p["exact"]] for p in
                                     paths.values() if p["exact"] in times),
                                 3),
        "scale_total_sec": round(sum(times[p["scale"]] for p in
                                     paths.values() if p["scale"] in times),
                                 3),
    }
    full = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "timing": {"runs_per_query": n_runs, "stat": "median",
                   **({"recycle_every": recycle_n} if recycle_n else {})},
        "runs": all_runs,
        "queries": times,
        "codegen_compiles": codegen_compiles,
        "paths": paths,
        "path_totals": path_totals,
        "totals": totals,
        "experiments": {
            # SPARK_GRAFT_EXPERIMENTS=fare_acc runs the fare-anomaly
            # GK-accuracy A/B even in subset mode (how the BENCH_SF10
            # production-point row is produced reproducibly)
            **(_fare_accuracy_experiment(spark)
               if "fare_acc" in os.environ.get("SPARK_GRAFT_EXPERIMENTS",
                                               "") else {}),
            **({} if only else {**_skew_experiment(spark),
                                **_quantile_mode_experiment(spark)}),
        },
        # Per-query plan-fingerprint hashes (same normalizer as
        # tools/plan_fingerprints.py) — `python tools/plan_fingerprints.py
        # --diff PLAN_FINGERPRINTS.json <this file>` adjudicates every
        # wall move in this artifact in one command.
        "fingerprints": fingerprints,
        "sf_dir": SF_DIR,
        "load_sec": load_sec,
        "warmup_sec": warmup_sec,
        "sf": sf,
        # Same-instrument provenance (VERDICT r11 task 2): one session,
        # one instrument — cross-scale ratios are only trustworthy when
        # both scales' tables carry the same stamp shape.
        "session": {"date": time.strftime("%Y-%m-%d"),
                    "pid": os.getpid(),
                    "runs_per_query": n_runs, "stat": "median"},
    }
    # Surface the committed scale validations (BENCH_SF1.json — the
    # 10x sweep from tools/make_sf1.py; BENCH_SF10.json — the serial
    # 100x subset, tools/merge_sf10.py) in the per-round FULL artifact,
    # so it carries the scale evidence without re-running the fixtures.
    # r14: these summary blocks moved OUT of the stdout line — they
    # were a third of the bytes that pushed the r13 line past the
    # driver's 2,000-char tail capture (BENCH_r13.json parsed: null).
    here = os.path.dirname(os.path.abspath(__file__))
    for scale, fname, note in (
            ("sf1", "BENCH_SF1.json",
             "full 10x sweep, one session, median-of-3 (same "
             "instrument as the sf0.1 table); full table in "
             "BENCH_SF1.json"),
            ("sf10", "BENCH_SF10.json",
             "serial subset at 100x sf0.1; deployment vs lesson "
             "split in 'totals' (LESSON_QUERIES); table in "
             "BENCH_SF10.json / PLANS.md #19-23")):
        # An sf1 run WRITES BENCH_SF1.json — embedding the prior
        # committed sweep's summary into its own replacement would
        # ship a stale self-reference (r14 review finding). Only the
        # sf1/BENCH_SF1.json pair needs the skip: sf10 runs write
        # BENCH_FULL_sf10.json / BENCH_SUBSET.json (merged into
        # BENCH_SF10.json by tools/merge_sf10.py, never directly), so
        # their artifacts keep the committed sf10 block (ADVICE r14).
        if scale == "sf1" and sf is not None and abs(1.0 - sf) < 1e-9:
            continue
        try:
            with open(os.path.join(here, fname)) as f:
                blk = json.load(f)
            full[scale] = {"total_sec": blk.get("value"),
                           "n_queries": len(blk.get("queries", {})),
                           **({"totals": blk["totals"]}
                              if "totals" in blk else {}),
                           **({"session": blk["session"]}
                              if "session" in blk else {}),
                           "note": note}
        except (OSError, ValueError):
            pass
    full["slowest15"] = dict(sorted(times.items(),
                                    key=lambda kv: -kv[1])[:15])
    # The driver records only a ~2 KB tail of stdout, and the full
    # per-query map (100+ queries) no longer fits — round 3's official
    # artifact was an unparseable truncated string. Persist the full
    # object to BENCH_FULL.json and keep stdout to ONE compact line
    # that fits the capture. Full sf1 runs land in the committed
    # same-session artifact (BENCH_SF1.json — VERDICT r11 task 2);
    # sf0.1 full runs stay the per-round BENCH_FULL.json. Any OTHER
    # scale gets its own file — never BENCH_SF10.json, which is
    # assembled from SERIAL subset runs via tools/merge_sf10.py
    # (PLANS.md #20: a single-JVM full suite at sf10 self-contaminates)
    # and must not be clobbered.
    if only:
        out_name = "BENCH_SUBSET.json"
    elif sf is not None and abs(sf - 1.0) < 1e-9:
        out_name = "BENCH_SF1.json"
    elif sf is None or abs(sf - 0.1) < 1e-9:
        out_name = "BENCH_FULL.json"
    else:
        out_name = f"BENCH_FULL_sf{sf:g}.json"
    with open(os.path.join(here, out_name), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(stdout_line(full, out_name)))
    spark.stop()


def stdout_line(full: dict, out_name: str) -> dict:
    """The ONE driver-captured stdout line, built by WHITELIST.

    The driver keeps only the last ~2,000 characters of stdout; the
    r13 line overflowed it (the self-adjudication round added
    ``path_totals``/``experiments``/``fp_digest`` plus the sf1/sf10
    summary blocks to a line already carrying a top-15 query map, and
    the driver's own artifact came back ``parsed: null`` with the head
    truncated mid-key — VERDICT r13 task 1). An exclusion list regrows
    silently every time a field lands in the FULL artifact, so this is
    now an explicit whitelist with a pinned budget
    (tests/test_bench_line.py asserts < 1,800 chars on a 190-query
    map): headline totals + provenance + the fp digest on stdout;
    everything per-query (the full map, runs, fingerprints, paths,
    experiments, codegen compile counts, scale summaries, the top-15)
    lives only in ``BENCH_FULL.json``. ``queries`` stays present — the
    driver contract names it — but carries only the 5 slowest entries.
    """
    fingerprints = full.get("fingerprints", {})
    times = full.get("queries", {})
    return {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "timing": full.get("timing"),
        "queries": dict(sorted(times.items(),
                               key=lambda kv: -kv[1])[:5]),
        "n_queries": len(times),
        "totals": full.get("totals"),
        "queries_full": out_name,
        # One digest over the per-query fingerprint map (the full map
        # lives in the artifact file — 190 hashes would blow the
        # capture): equal digests between two bench lines mean NO
        # query's plan changed between them.
        "fp_digest": hashlib.sha256(
            "\n".join(f"{n}:{h}" for n, h in
                      sorted(fingerprints.items())).encode()
        ).hexdigest(),
        "sf": full.get("sf"),
        "sf_dir": full.get("sf_dir"),
        "load_sec": full.get("load_sec"),
        "warmup_sec": full.get("warmup_sec"),
        "session": full.get("session"),
    }


def _skew_experiment(spark) -> dict[str, float]:
    """Planted-skew A/B: a 20x-exploded fact side whose key collapses to
    ONE hot value on ~85% of rows, shuffle-joined to a per-key dim —
    plain vs ``salted_join``. AQE's skew-join splitter and broadcast are
    disabled for BOTH arms so the timing isolates what salting buys when
    AQE can't help (the regime it exists for: sort/window ops AQE can't
    split, or a single key past executor memory); a small warmup join
    runs first so neither arm pays one-time codegen. Results land in the
    bench JSON as ``skew_plain_sec`` / ``skew_salted_sec``.
    """
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.operators.joins import salted_join

    conf = spark.conf
    saved = {k: conf.get(k) for k in
             ("spark.sql.adaptive.skewJoin.enabled",
              "spark.sql.autoBroadcastJoinThreshold")}
    out: dict[str, float] = {}
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ev = load_table(spark, SF_DIR, "events").select("user_id", "ts")
        fact = (ev.withColumn("_rep", F.explode(F.sequence(F.lit(1),
                                                           F.lit(20))))
                  .withColumn("k", F.when(F.pmod(F.xxhash64("user_id",
                                                            "_rep"),
                                                 F.lit(20)) < 17, F.lit(0))
                                    .otherwise(F.col("user_id")))
                  .drop("_rep"))
        dim = (ev.select(F.col("user_id").alias("k")).distinct()
                 .union(spark.range(1).select(F.lit(0).alias("k")))
                 .distinct()
                 .withColumn("payload",
                             F.repeat(F.md5(F.col("k").cast("string")),
                                      8)))
        # codegen/JIT warmup on the same plan shapes, tiny input
        _force(fact.limit(1000).join(dim, "k"))
        _force(salted_join(fact.limit(1000), dim, "k", salt_buckets=32))
        for name, run in (
                ("skew_plain_sec", lambda: fact.join(dim, "k")),
                ("skew_salted_sec",
                 lambda: salted_join(fact, dim, "k", salt_buckets=32))):
            spark.catalog.clearCache()
            spark._jvm.System.gc()  # noqa: SLF001
            t = time.perf_counter()
            _force(run())
            out[name] = round(time.perf_counter() - t, 3)
    finally:
        for k, v in saved.items():
            conf.set(k, v)
        spark.catalog.clearCache()
        spark._jvm.System.gc()  # noqa: SLF001
    return out


def _fare_accuracy_experiment(spark) -> dict[str, float]:
    """GK-sketch operating-point A/B for the fare-anomaly threshold
    (VERDICT r8 task 5): accuracy=1e6 is the ORACLE-PARITY point the
    registered ``fare_anomalies_approx`` runs (sketch == exact rank
    statistic, DuckDB-pinnable); accuracy=1e4 is the documented
    PRODUCTION point (rank error <= 1e-4 — far tighter than the
    reference's 0.01 at `yellow_taxi_etl.py:121`). This times both on
    the bench fixture so the 'production point is ~13x cheaper at
    100x scale' claim stays measured, not asserted (PLANS.md #20).
    Median of 3 per arm after a shared warmup."""
    from nyctaxidatapipeline_spark.operators.analytics import (
        threshold_anomalies,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    cols = ["l_orderkey", "l_linenumber", "l_partkey",
            "l_extendedprice", "l_quantity"]
    out: dict[str, float] = {}
    _force(threshold_anomalies(li.limit(10_000), "l_extendedprice", cols,
                               q=0.99, mode="approx", accuracy=10_000))
    for name, acc in (("fare_acc1e4_sec", 10_000),
                      ("fare_acc1e6_sec", 1_000_000)):
        runs = []
        for _ in range(3):
            spark.catalog.clearCache()
            spark._jvm.System.gc()  # noqa: SLF001
            t = time.perf_counter()
            _force(threshold_anomalies(li, "l_extendedprice", cols,
                                       q=0.99, mode="approx",
                                       accuracy=acc))
            runs.append(round(time.perf_counter() - t, 3))
        out[name] = sorted(runs)[1]
    return out


def _quantile_mode_experiment(spark) -> dict[str, float]:
    """Percentile mode A/B: exact (whole-group ObjectHashAggregate
    buffer) vs the GK sketch at its PRODUCTION accuracy (100) and at
    the ORACLE-PARITY accuracy (1e6, uncompressed at correctness
    scale). Registered queries run the parity point so the DuckDB twin
    can hash-check them; this experiment tracks what the production
    point actually costs so the 'sketch is the 100 TB mode' claim is
    measured, not asserted (PLANS.md #15). Warmup run first, best of 2
    reported per arm."""
    from nyctaxidatapipeline_spark.operators.reshape import (
        grouped_percentiles,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    out: dict[str, float] = {}
    arms = (("quantile_exact_sec", "exact", 0),
            ("quantile_sketch100_sec", "approx", 100),
            ("quantile_sketch1e6_sec", "approx", 1_000_000))
    for name, mode, acc in arms:
        runs = []
        for i in range(3):
            t = time.perf_counter()
            _force(grouped_percentiles(li, ["l_returnflag"],
                                       "l_extendedprice", (0.5, 0.95),
                                       mode=mode, accuracy=acc))
            runs.append(time.perf_counter() - t)
        out[name] = round(min(runs[1:]), 3)   # drop the warmup run
    return out


if __name__ == "__main__":
    main()
