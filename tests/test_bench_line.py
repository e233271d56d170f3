"""The driver-captured bench stdout line must FIT the capture window.

The driver keeps only the last ~2,000 characters of bench.py's stdout;
round 13's line overflowed it and the driver's own per-round artifact
(BENCH_r13.json) came back ``parsed: null`` with the head truncated
mid-key (VERDICT r13 task 1). ``bench.stdout_line`` is now an explicit
whitelist; this test pins its byte budget on a WORST-CASE 190-query
suite (long names, wide floats) so any field added to the line — not
just to the full artifact — fails CI before it degrades a driver round.
"""

import json

from bench import stdout_line
from __spark_entry__ import lesson_totals


def _fake_full(n_queries: int = 190) -> dict:
    # Names padded to 40 chars — longer than any real registration
    # (the longest today, incremental_semantic_auto_indexed, is 33).
    times = {f"query_{i:03d}_{'x' * 30}": 123.456 + i / 7.0
             for i in range(n_queries)}
    fingerprints = {n: "f" * 64 for n in times}
    return {
        "metric": "total_query_sec",
        "value": 99999.999,
        "unit": "sec",
        "timing": {"runs_per_query": 3, "stat": "median",
                   "recycle_every": 25},
        "queries": times,
        "fingerprints": fingerprints,
        "totals": {"deployment_total_sec": 88888.888,
                   "lesson_total_sec": 11111.111,
                   "lesson_queries": ["fare_anomalies_approx",
                                      "incremental_semantic_indexed",
                                      "minhash_dedup"]},
        "sf": 0.1,
        "sf_dir": "/root/testdata/sf0.1",
        "load_sec": 12.345,
        "warmup_sec": 12.345,
        "session": {"date": "2026-12-31", "pid": 1234567,
                    "runs_per_query": 3, "stat": "median"},
        # Fields that must NOT leak onto the line (they did in r13):
        "runs": {n: [1.0, 2.0, 3.0] for n in times},
        "codegen_compiles": {n: 123 for n in times},
        "paths": {"p": {"exact": "a", "scale": "b"}},
        "path_totals": {"exact_total_sec": 1.0, "scale_total_sec": 2.0},
        "experiments": {"skew_plain_sec": 1.0},
        "sf1": {"total_sec": 680.0, "n_queries": 186},
        "sf10": {"total_sec": 1314.0, "n_queries": 49},
        "slowest15": dict(list(times.items())[:15]),
    }


def test_line_fits_driver_capture():
    line = stdout_line(_fake_full(), "BENCH_FULL.json")
    emitted = json.dumps(line)
    # 1,800 leaves >= 200 chars of slack under the 2,000-char tail the
    # driver actually keeps (mixed stdout noise, future float widths).
    assert len(emitted) < 1800, f"stdout line is {len(emitted)} chars"
    # And it must round-trip as one JSON object (the driver json.loads
    # the captured tail).
    assert json.loads(emitted)["n_queries"] == 190


def test_line_is_whitelisted():
    line = stdout_line(_fake_full(), "BENCH_FULL.json")
    # The r13 overflow fields stay OFF the line.
    for banned in ("runs", "codegen_compiles", "paths", "path_totals",
                   "experiments", "sf1", "sf10", "fingerprints",
                   "slowest15"):
        assert banned not in line
    # The driver contract's keys stay ON it.
    for required in ("metric", "value", "unit", "queries", "sf",
                     "n_queries", "totals", "fp_digest"):
        assert required in line
    # queries carries only the 5 slowest (capped, contract-present).
    assert len(line["queries"]) == 5
    assert max(_fake_full()["queries"].values()) in \
        line["queries"].values()


def test_fp_digest_tracks_fingerprints():
    a = stdout_line(_fake_full(), "BENCH_FULL.json")
    changed = _fake_full()
    changed["fingerprints"]["query_000_" + "x" * 30] = "e" * 64
    b = stdout_line(changed, "BENCH_FULL.json")
    assert a["fp_digest"] != b["fp_digest"]


def test_lesson_totals_splits_lesson_rows():
    # minhash_dedup is a LESSON_QUERIES row; pagerank is not.
    totals = lesson_totals({"minhash_dedup": 2.5, "pagerank": 1.25})
    assert totals == {"deployment_total_sec": 1.25,
                      "lesson_total_sec": 2.5,
                      "lesson_queries": ["minhash_dedup"]}
