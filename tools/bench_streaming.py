"""Throughput micro-bench for the streaming admission front doors.

VERDICT r10 task 7: the front doors (exact fingerprint, MinHash
near-dup, IVF semantic, cross-signal) are e2e-gated for correctness
(drained == batch, replay no-op) but had no throughput datum. This
times the exact per-batch code path ``streaming.jobs.drain`` runs — the
``*_admit_fn`` foreachBatch functions, invoked per epoch the way
``foreachBatch`` invokes them — over K successive increments of the
fixture's documents(+embeddings) table, so the datum shows BOTH
per-batch cost and how that cost moves as the admitted corpus grows
(the design claim is batch-proportional, never corpus²).

Writes BENCH_STREAMING.json at the repo root and prints one JSON line:
per-arm totals, per-epoch seconds, and admitted-rows/s.

Usage: python tools/bench_streaming.py [sf_dir] [n_batches]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nyctaxidatapipeline_spark import get_spark  # noqa: E402
from nyctaxidatapipeline_spark.sources import load_table  # noqa: E402
from nyctaxidatapipeline_spark.streaming.jobs import (  # noqa: E402
    cross_signal_admit_fn,
    cross_signal_admit_indexed_fn,
    dedup_admit_fn,
    near_dup_admit_fn,
    near_dup_admit_indexed_fn,
    semantic_admit_fn,
    semantic_admit_indexed_fn,
)

from plan_metrics import stage_movement_totals as _stage_totals  # noqa: E402,E501

SF_DIR = (sys.argv[1] if len(sys.argv) > 1
          else os.environ.get("SPARK_GRAFT_SF_DIR",
                              "/root/testdata/sf0.1"))
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 5


def main() -> None:
    spark = get_spark("bench_streaming",
                      extra_conf={"spark.ui.retainedStages": "100000"})
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = (load_table(spark, SF_DIR, "embeddings")
           .select(F.col("vec_id").alias("doc_id"), "embedding"))
    joined = docs.join(emb, "doc_id")
    total_rows = joined.count()
    # K successive increments; localCheckpoint so each epoch's timer
    # measures admission, not re-reading/re-joining the source
    batches = [
        joined.filter(F.col("doc_id") % N_BATCHES == i)
              .localCheckpoint()
        for i in range(N_BATCHES)
    ]
    batch_rows = [b.count() for b in batches]

    scratch = f"/tmp/bench_streaming_{os.getpid()}"
    arms = {
        "exact": lambda d: dedup_admit_fn(d, "text", "doc_id"),
        "near_dup": lambda d: near_dup_admit_fn(d, "text", "doc_id",
                                                threshold=0.5,
                                                max_bucket=32),
        "semantic": lambda d: semantic_admit_fn(d, "embedding",
                                                "doc_id",
                                                threshold=0.85,
                                                n_centroids=16,
                                                nprobe=4),
        "cross_signal": lambda d: cross_signal_admit_fn(
            d, "text", "doc_id", "embedding", jaccard_threshold=0.5,
            cosine_threshold=0.85, max_bucket=32, n_centroids=16,
            nprobe=4),
        # both standing indexes maintained (r11)
        "cross_signal_indexed": lambda d: cross_signal_admit_indexed_fn(
            d, d + "_index", jaccard_threshold=0.5,
            cosine_threshold=0.85, max_bucket=32, n_centroids=16,
            nprobe=4),
        # maintained persisted LSH index: corpus never re-signed (r11)
        "near_dup_indexed": lambda d: near_dup_admit_indexed_fn(
            d, d + "_index", "text", "doc_id", threshold=0.5,
            max_bucket=32),
        # maintained persisted routed index: frozen centroids,
        # epoch-append, corpus never re-routed (r11)
        "semantic_indexed": lambda d: semantic_admit_indexed_fn(
            d, d + "_index", "embedding", "doc_id", threshold=0.85,
            n_centroids=16, nprobe=4),
    }
    cols = {"exact": ["doc_id", "text"],
            "near_dup": ["doc_id", "text"],
            "near_dup_indexed": ["doc_id", "text"],
            "semantic": ["doc_id", "embedding"],
            "semantic_indexed": ["doc_id", "embedding"],
            "cross_signal": ["doc_id", "text", "embedding"],
            "cross_signal_indexed": ["doc_id", "text", "embedding"]}
    out: dict[str, dict] = {}
    for name, make in arms.items():
        corpus_dir = os.path.join(scratch, name)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        os.makedirs(corpus_dir, exist_ok=True)
        fn = make(corpus_dir)
        epoch_sec, admitted = [], 0
        epoch_movement: list[dict[str, float]] = []
        census_valid = True
        t_arm = time.perf_counter()
        snap = _stage_totals(spark)
        for i, b in enumerate(batches):
            t = time.perf_counter()
            fn(b.select(*cols[name]), i)
            epoch_sec.append(round(time.perf_counter() - t, 3))
            after = _stage_totals(spark)
            delta = {k: after[k] - snap[k] for k in snap}
            if any(v < 0 for v in delta.values()):
                census_valid = False     # store eviction mid-run
            epoch_movement.append({
                "input_mb": round(delta["input_bytes"] / 1e6, 2),
                "shuffle_write_mb":
                    round(delta["shuffle_write_bytes"] / 1e6, 2),
                "spill_mb": round(delta["spill_bytes"] / 1e6, 2),
                "n_stages": delta["n_stages"],
            })
            snap = after
        arm_sec = round(time.perf_counter() - t_arm, 3)
        admitted = (spark.read.option("basePath", corpus_dir)
                    .parquet(corpus_dir).count())
        out[name] = {
            "total_sec": arm_sec,
            "epoch_sec": epoch_sec,
            # Per-epoch stage-store movement (r13): bytes, like the
            # batch queries' PLAN_METRICS census. epoch_sec timers
            # exclude the snapshot flush (taken after the timer
            # stops); total_sec includes the ~ms flushes.
            "epoch_movement": epoch_movement,
            **({} if census_valid else {"census_invalid": True}),
            "rows_in": total_rows,
            "rows_admitted": admitted,
            "rows_per_sec": round(total_rows / arm_sec, 1),
        }
        spark.catalog.clearCache()
        spark._jvm.System.gc()  # noqa: SLF001
    shutil.rmtree(scratch, ignore_errors=True)
    line = {"metric": "streaming_admission_rows_per_sec",
            "sf_dir": SF_DIR, "n_batches": N_BATCHES,
            "batch_rows": batch_rows, "arms": out}
    # MERGE into the committed artifact (keyed by the sf dir's basename)
    # instead of clobbering it — the artifact accumulates runs at
    # several scales plus hand-recorded crossover experiments.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    art = os.path.join(root, "BENCH_STREAMING.json")
    try:
        with open(art) as f:
            full = json.load(f)
        if "runs" not in full:
            full = {"metric": line["metric"], "runs": {}, "notes": {}}
    except (OSError, ValueError):
        full = {"metric": line["metric"], "runs": {}, "notes": {}}
    full["runs"][os.path.basename(SF_DIR.rstrip("/"))] = line
    with open(art, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
