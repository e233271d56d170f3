"""Tests of the benchmark itself (run from the repository root):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The Spark tests use small inputs; the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_same_seed_same_inputs(tmp_path):
    for d in ("a", "b", "c"):
        seed = 7 if d != "c" else 8
        gen.write_trips(str(tmp_path / d / "raw"), seed, 2_400)
        gen.write_tables(str(tmp_path / d / "tables"), seed, 0.001)
    a, b, c = (_files(str(tmp_path / d)) for d in "abc")
    assert len(a) == 12 + 2
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_metric_names():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == workloads.END_TO_END
    assert layer == workloads.per_layer_units()
    for name in [*e2e, *layer]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(
        workloads.WORKLOADS)


def test_frames_match_detects_changes():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5], "s": ["a", "b"]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert check.frames_match(got, want, ["k"]) is None
    got.loc[0, "v"] += 1e-6
    assert "column v" in check.frames_match(got, want, ["k"])
    assert "rows" in check.frames_match(want.head(1), want, ["k"])


def test_exits_without_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [*BENCHMARK["command"], "--workload", "taxi_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from nyctaxidatapipeline_spark import get_spark

    s = get_spark("perfbench-tests", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000"})
    yield s
    s.stop()


class _CorruptTaxi(workloads.TaxiEtl):
    """taxi_etl whose twin expects one trip too many in every tip_trends
    row: every pass then fails exactly that table."""

    def generate(self, work, seed):
        super().generate(work, seed)
        self.twin = check.TaxiTwin(self.raw_dir)
        self.twin.expected["tip_trends"]["n_trips"] += 1


def _layer_values(result):
    assert set(result["metrics"]) == {m["name"]
                                      for m in BENCHMARK["per_layer"]}
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_injected_mismatch_raises_failed_frac(spark, tmp_path):
    wl = _CorruptTaxi(rows=6_000)
    result = workloads.run("taxi_etl", 3, 0, True, str(tmp_path),
                           lambda: spark, wl=wl)
    passes = wl.warmups + 3                      # a traced run makes 3
    assert result["correct"] is False
    assert result["attempted"] == passes * 7
    assert result["failed"] == passes            # tip_trends each pass
    m = _layer_values(result)
    assert m["check.failed_frac"] == pytest.approx(1 / 7)


def _pass_wall(tmp_path, workload, seed):
    with open(tmp_path / f"spans-{workload}-{seed}.jsonl") as f:
        spans = [json.loads(line) for line in f]
    root = [s for s in spans if s["name"] == "pass"]
    assert len(root) == 1
    return root[0]["end"] - root[0]["start"]


def test_traced_taxi_reports_every_layer(spark, tmp_path):
    result = workloads.run("taxi_etl", 4, 0, True, str(tmp_path),
                           lambda: spark, wl=workloads.TaxiEtl(rows=6_000))
    assert result["correct"] and result["failed"] == 0
    m = _layer_values(result)
    assert m["cleaning.rows_in"] == 6_000
    assert 0.8 < m["cleaning.kept_ratio"] < 1.0
    assert m["sources.load_jobs"] >= 1
    assert m["features.cache_bytes"] > 0
    assert m["sinks.files_written"] >= 7 and m["sinks.bytes_written"] > 0
    assert all(m[f"analytics.{t}_s"] > 0 for t in workloads.TAXI_TABLES)
    assert m["exec.tasks"] > 0 and m["exec.input_bytes"] > 0
    wall = _pass_wall(tmp_path, "taxi_etl", 4)
    assert m["entry.build_s"] + m["entry.exec_s"] == pytest.approx(
        wall, rel=0.05)


def test_traced_plan_heavy_reports_every_layer(spark, tmp_path):
    result = workloads.run("plan_heavy", 5, 0, True, str(tmp_path),
                           lambda: spark, wl=workloads.PlanHeavy(sf=0.001))
    assert result["correct"] and result["failed"] == 0
    m = _layer_values(result)
    for q in workloads.PLAN_QUERIES:
        assert m[f"entry.{q}.build_s"] > 0 and m[f"entry.{q}.exec_s"] > 0
    assert m["entry.build_jobs"] > 0 and m["sources.load_jobs"] > 0
    wall = _pass_wall(tmp_path, "plan_heavy", 5)
    assert m["entry.build_s"] + m["entry.exec_s"] == pytest.approx(
        wall, rel=0.05)
