"""Movement-census regression gate (VERDICT r13 task 4).

PLAN_METRICS.json and the streaming epoch census are hand-regenerated
artifacts — before this gate, a new spiller or an unexplained shuffle
jump between rounds was only caught if someone re-ran the tool and
read the diff. This test executes a fixed probe set — one query per
movement class — under the TEST session and asserts, for every probe:

  * ZERO operator spill (the repo's standing invariant at every
    tested scale — PLANS.md #35);
  * shuffle bytes within a tolerance band of the committed baseline
    (1.5x + 256 KiB — generous against compression-batch jitter,
    tight against a real new exchange or a data-sized blowup);
  * no NEW shuffle: a probe whose baseline is exchange-free (< 4 KiB)
    must stay under 1 MiB.

The baseline lives in ``tests/data/movement_baseline.json`` and is
DELIBERATELY separate from PLAN_METRICS.json: that census runs under
local[32]/32 shuffle partitions, while pytest runs local[4]/4 — and
partial aggregates emit one row per (group, task), so cross-session
byte comparisons would need exactly the task-count adjudication this
gate exists to avoid (PLANS.md #34). Same instrument, same session
shape, strict band.

Regenerate after an INTENDED movement change (and eyeball the diff —
that is the review step, same contract as PLAN_FINGERPRINTS.json):

    SPARK_GRAFT_WRITE_MOVEMENT_BASELINE=1 \
        python -m pytest tests/test_movement_gate.py -q

Probe classes: ungrouped + grouped bottom-k sketch, graph round
(pagerank), LSH self-join, IVF probe, star join (broadcast/DPP), HLL
profile, composed curation pipeline, scalar-broadcast binning — plus,
since r15 (VERDICT r14 task 7), the two heaviest shuffle writers by
PLAN_METRICS_SF1 bytes (label_propagation 30.5 MB, lsh_recall_report
24.1 MB), probing where a movement regression costs most rather than
only one-per-class.
One streaming epoch IS probed since r15 (VERDICT r14 task 8): a
single ``rollup_merge_fn`` micro-batch over the sf0.1 events
fixture (single-file table → exactly one epoch, ~2 s), movement
captured as an AppStatusStore stage DELTA (``stage_movement_totals``,
the bench_streaming instrument — one foreachBatch epoch executes
several QueryExecutions plus state writes, which the per-DataFrame
SQLMetrics harvest cannot see). The multi-epoch curves and the
admission DOORS stay with tools/bench_streaming.py (PLANS.md #42): a
foreachBatch LOOP here would triple this test's wall for no new plan
shape — the single rollup epoch prices the one shape the batch probes
don't cover (stream-source scan → partial agg → state merge write).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                "tools"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import pytest

SF_DIR = "/root/testdata/sf0.1"
BASELINE = os.path.join(os.path.dirname(__file__), "data",
                        "movement_baseline.json")

PROBES = [
    "fare_anomalies_sketch",        # ungrouped bottom-k sketch
    "grouped_percentiles_sketch",   # grouped salted sketch
    "histogram_prices_equidepth",   # sampled edges + scalar broadcast
    "pagerank",                     # iterative graph rounds
    "minhash_dedup",                # banded LSH self-join
    "ann_ivf",                      # routed IVF probe
    "star_join_revenue",            # broadcast/DPP star join
    "profile_lineitem_approx",      # portable-HLL profile
    "curate_corpus",                # composed curation pipeline
    # r15 (VERDICT r14 task 7): the suite's two heaviest shuffle
    # WRITERS by PLAN_METRICS_SF1 bytes — the gate covered one probe
    # per movement CLASS but not the biggest movers, which is where a
    # regression costs most
    "label_propagation",            # per-round label join + argmax
    "lsh_recall_report",            # exact + sketch pipelines shared
]

#: the one streaming probe (VERDICT r14 task 8) — measured by stage
#: delta, not collect_metrics, so it lives outside PROBES
STREAM_PROBE = "streaming_rollup_epoch"

SHUFFLE_BAND = 1.5
SHUFFLE_SLACK = 256 * 1024
NEW_SHUFFLE_FLOOR = 4 * 1024
NEW_SHUFFLE_CAP = 1 << 20


def _streaming_epoch_movement(spark, tmp_path):
    """One ``rollup_merge_fn`` epoch over the sf0.1 events
    fixture; returns the AppStatusStore stage-delta movement. The
    events table is a single parquet file, so the default
    maxFilesPerTrigger=1 file stream drains in exactly one epoch."""
    from plan_metrics import stage_movement_totals

    from nyctaxidatapipeline_spark.streaming.jobs import (
        drain,
        rollup_merge_fn,
        stream_table,
    )

    before = stage_movement_totals(spark)
    ev = stream_table(spark, SF_DIR, "events")
    q = drain(ev, rollup_merge_fn(str(tmp_path / "rollup_state"),
                                  ["event_type"], "value"),
              checkpoint_dir=str(tmp_path / "ckpt"))
    q.stop()
    after = stage_movement_totals(spark)
    delta = {k: after[k] - before[k]
             for k in ("input_bytes", "shuffle_write_bytes",
                       "spill_bytes")}
    if any(v < 0 for v in delta.values()):
        pytest.skip("stage store evicted between snapshots — movement "
                    "census invalid for the streaming probe (raise "
                    "spark.ui.retainedStages)")
    return delta


def test_movement_gate(spark, tmp_path):
    from plan_metrics import collect_metrics

    import __spark_entry__ as entry

    qs = entry.queries()
    measured = {}
    for name in PROBES:
        m = collect_metrics(qs[name](spark, SF_DIR))
        measured[name] = {
            "shuffle_write_bytes": m.get("shuffle_write_bytes", 0),
            "shuffle_records": m.get("shuffle_records", 0),
            "spill_bytes": m.get("spill_bytes", 0),
            "input_bytes": m.get("input_bytes", 0),
        }
    measured[STREAM_PROBE] = _streaming_epoch_movement(spark, tmp_path)

    if os.environ.get("SPARK_GRAFT_WRITE_MOVEMENT_BASELINE"):
        os.makedirs(os.path.dirname(BASELINE), exist_ok=True)
        with open(BASELINE, "w") as f:
            json.dump({"sf_dir": SF_DIR, "session": "local[4]/4",
                       "queries": measured}, f, indent=1,
                      sort_keys=True)
            f.write("\n")
        pytest.skip(f"baseline rewritten: {BASELINE} — review the "
                    "diff before committing")

    with open(BASELINE) as f:
        base = json.load(f)["queries"]

    failures = []
    for name in [*PROBES, STREAM_PROBE]:
        m = measured[name]
        b = base.get(name)
        if b is None:
            failures.append(f"{name}: no committed baseline — "
                            "regenerate (see module docstring)")
            continue
        if m["spill_bytes"]:
            failures.append(
                f"{name}: NEW SPILLER — {m['spill_bytes']} spill "
                "bytes (committed invariant: zero at every scale)")
        got, exp = m["shuffle_write_bytes"], b["shuffle_write_bytes"]
        if got > exp * SHUFFLE_BAND + SHUFFLE_SLACK:
            failures.append(
                f"{name}: shuffle {got:,} B vs baseline {exp:,} B "
                f"(> {SHUFFLE_BAND}x + {SHUFFLE_SLACK // 1024} KiB) — "
                "a real movement change; if intended, regenerate the "
                "baseline and explain in the commit")
        if exp < NEW_SHUFFLE_FLOOR and got > NEW_SHUFFLE_CAP:
            failures.append(
                f"{name}: NEW SHUFFLE — baseline exchange-free "
                f"({exp} B), now {got:,} B")
    assert not failures, "\n".join(failures)
