"""Gates for ``grouped_percentiles``' single-buffer percentile path.

Each test pins the EQUIVALENCE the one-aggregate rewrite relies on, not
the speed: every p-named column must equal the per-percentile scalar
aggregate it replaced, in the requested column order.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyctaxidatapipeline_spark.operators.reshape import grouped_percentiles


@pytest.fixture(scope="module")
def vals(spark):
    # Deliberately awkward: duplicates, negatives, a null, one group
    # with a single row (percentile of 1 value = that value).
    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", -3.5), ("a", 10.0),
            ("b", 7.25), ("b", None), ("b", 0.0), ("c", 42.0)]
    return spark.createDataFrame(rows, "g string, v double")


@pytest.mark.parametrize("mode", ["exact", "approx"])
def test_grouped_percentiles_matches_scalar_form(vals, mode):
    ps = (0.5, 0.95, 0.05)
    got = {r["g"]: (r["p50"], r["p95"], r["p5"])
           for r in grouped_percentiles(vals, ["g"], "v", ps,
                                        mode=mode,
                                        accuracy=1000).collect()}
    fn = (F.percentile if mode == "exact"
          else (lambda c, p: F.percentile_approx(c, p, F.lit(1000))))
    want = {r["g"]: (r["p50"], r["p95"], r["p5"])
            for r in vals.groupBy("g")
                         .agg(*[F.round(fn(F.col("v"), F.lit(p)), 6)
                                 .alias(f"p{int(p * 100)}")
                                for p in ps]).collect()}
    assert got == want


def test_grouped_percentiles_column_order_and_names(vals):
    out = grouped_percentiles(vals, ["g"], "v", (0.5, 0.95))
    assert out.columns == ["g", "p50", "p95"]
