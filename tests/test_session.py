"""Session bootstrap: the driver heap default fits the host, and the
codegen class cache holds a repeated working set."""

import os

from nyctaxidatapipeline_spark import session


def _host_gib(monkeypatch, gib):
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_driver_mem_is_a_quarter_of_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _host_gib(monkeypatch, 15)
    assert session._driver_mem() == "3840m"
    _host_gib(monkeypatch, 256)
    assert session._driver_mem() == "16384m"  # capped at 16g
    _host_gib(monkeypatch, 64)
    assert session._driver_mem() == "16384m"
    _host_gib(monkeypatch, 2)
    assert session._driver_mem() == "1024m"   # floor 1g
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert session._driver_mem() == "48g"


def test_codegen_cache_holds_a_repeated_working_set(spark):
    """A second round of 120 plans (240 generated classes) compiles
    nothing: the session's codegen class cache holds the whole working
    set. At Spark's default of 100 entries each round evicts the classes
    the next one needs, and every round compiles all of them again."""
    from pyspark.sql import functions as F

    compiles = (spark._jvm.org.apache.spark.metrics.source  # noqa: SLF001
                .CodegenMetrics.METRIC_COMPILATION_TIME())

    def one_round():
        # Plans that differ only in an inlined literal: one distinct
        # generated class (at least) per plan.
        for i in range(120):
            (spark.range(4)
             .select(((F.col("id") * 7919 + F.lit(i)) % 104729)
                     .alias("x"))
             .write.format("noop").mode("overwrite").save())

    before = compiles.getCount()
    one_round()
    first = compiles.getCount() - before
    assert first >= 120
    before = compiles.getCount()
    one_round()
    assert compiles.getCount() - before == 0


def test_workers_import_the_engine_outside_the_checkout(tmp_path):
    """One ``mapInPandas`` query whose worker imports the engine, run by
    a fresh interpreter (the JVM reads its environment once) whose
    working directory is outside the checkout and whose PYTHONPATH is
    unset: ``get_spark`` must hand the workers the engine's root."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""import sys
sys.path.insert(0, {root!r})
from nyctaxidatapipeline_spark import get_spark

def probe(batches):
    import nyctaxidatapipeline_spark  # noqa: F401
    yield from batches

spark = get_spark("workers_import_probe", master="local[1]",
                  shuffle_partitions=1)
print("rows", spark.range(3).mapInPandas(probe, "id long").count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 3" in out.stdout.splitlines()
