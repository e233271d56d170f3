"""Smoke tests for the driver contract (__spark_entry__)."""

import os
import re
import sys
from urllib.parse import unquote, urlparse

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from nyctaxidatapipeline_spark.plans import explain_str


def _sf0001(spark) -> str:
    """The sf0.001 fixture directory, as the flagship ``entry()`` reads
    it (its one input is that directory's events table)."""
    (events,) = entrymod.entry(spark).inputFiles()
    return os.path.dirname(unquote(urlparse(events).path))


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"user_id", "event_hour", "n_trips"}


def test_queries_run_at_sf0001(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name


def test_oracle_keys_subset_of_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(oracles) == set(qs)


def test_window_front_leads_registry():
    """The first 50 ``queries()`` entries (the per-round correctness
    record) are exactly ``_WINDOW_FRONT``, every name registered once."""
    front = entrymod._WINDOW_FRONT
    assert len(front) == 50 == len(set(front))
    # equal to the registry's head, so every front name is registered
    assert list(entrymod.queries())[:50] == front


def test_registry_is_the_q_builders():
    """Every top-level ``_q_<name>`` builder is registered under
    ``<name>``; the TPC-H twins complete the 196 unique names."""
    import inspect

    qs = entrymod.queries()
    builders = {name: fn for name, fn in vars(entrymod).items()
                if name.startswith("_q_") and inspect.isfunction(fn)}
    for name, fn in builders.items():
        assert qs[name[3:]] is fn, name
    assert len(qs) == 196


def test_coverage_doc_query_count_matches_registry():
    """VERDICT r14 task 5: COVERAGE.md's headline query count went
    stale (said 183 while the registry held 191). The count line is
    now format-pinned (`N queries total in \\`queries()\\``) and this
    test fails the suite whenever the registry grows without the doc
    — the 'generated line' enforcement."""
    import re

    text = open("/root/repo/COVERAGE.md").read()
    m = re.search(r"(\d+) queries total in `queries\(\)`", text)
    assert m, "COVERAGE.md lost its pinned count line"
    assert int(m.group(1)) == len(entrymod.queries()), (
        f"COVERAGE.md says {m.group(1)} queries; registry has "
        f"{len(entrymod.queries())} — update the doc in the same "
        "commit that touches the registry")


def test_index_cache_rejects_symlinked_base(tmp_path, monkeypatch):
    """ADVICE r10: the per-user cache ownership check must lstat —
    a pre-created SYMLINK at the base path (pointing anywhere, even a
    directory this uid owns) must be rejected, or another user could
    redirect index I/O to a location they chose."""
    import getpass
    import tempfile

    import pytest

    victim = tmp_path / "victim"
    victim.mkdir()
    fake_tmp = tmp_path / "tmp"
    fake_tmp.mkdir()
    base = fake_tmp / f"ndpspark-index-{getpass.getuser()}"
    base.symlink_to(victim)
    monkeypatch.setattr(tempfile, "tempdir", str(fake_tmp))
    with pytest.raises(RuntimeError, match="not a directory"):
        entrymod._index_dir("/root/testdata/sf0.001", "documents", "t")
    # and a REAL directory at the same path is accepted
    base.unlink()
    base.mkdir(mode=0o700)
    assert entrymod._index_dir(
        "/root/testdata/sf0.001", "documents", "t").startswith(str(base))


def test_near_dup_production_broadcasts_component_table(spark):
    """The union-find components are a local relation of known size, so
    the registered query's membership join broadcasts them instead of
    shuffling both sides into a sort-merge join."""
    df = entrymod.queries()["near_dup_production"](spark, _sf0001(spark))
    plan = explain_str(df, "simple")
    assert "SortMergeJoin" not in plan, plan
    assert re.search(r"BroadcastExchange .*\n\s*\+- LocalTableScan "
                     r"\[id#\d+L, comp#\d+L\]", plan), plan


def test_shortest_paths_sources_is_local_relation(spark, monkeypatch):
    """The registered BFS seeds from a 5-row local relation, not a
    Python-worker RDD read by one task per core on every round."""
    from nyctaxidatapipeline_spark.operators import graph

    seen = []

    def spy(edges, sources, **kw):
        seen.append(sources)
        return real(edges, sources, **kw)

    real = graph.shortest_paths
    monkeypatch.setattr(graph, "shortest_paths", spy)
    entrymod.queries()["shortest_paths"](spark, _sf0001(spark))
    (sources,) = seen
    plan = sources._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert sorted(r.node for r in sources.collect()) == \
        [f"s{i}" for i in range(1, 6)]
