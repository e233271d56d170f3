"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same arguments
write byte-identical parquet files. Timestamps are written as microsecond
``timestamp[us]`` columns, which Spark reads natively (no nanos-as-long
restore in ``sources.tables``).

* :func:`write_trips` writes raw NYC-TLC-shaped yellow-taxi trips as twelve
  monthly files (``yellow_tripdata_2024-MM.parquet``), with the 19 columns
  and value domains of the reference schema, sparse NULLs in every column
  and the edge rows the reference operators branch on.
* :func:`write_tables` writes the fixture tables the ``plan_heavy`` queries
  read (``lineitem``, ``documents``) with the shapes of the
  star-schema fixtures: same columns, types and value domains.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Share of NULLs injected into each trip column independently.
NULL_RATE = 0.002

_ZONES = 265
_PAYMENT_P = (0.70, 0.20, 0.03, 0.03, 0.02, 0.02)      # types 1..6
_RATECODES = np.array([1, 2, 3, 4, 5, 6, 99])
_RATECODE_P = (0.90, 0.04, 0.01, 0.01, 0.02, 0.01, 0.01)
_BUCKET_EDGES = (1.0, 3.0, 5.0, 10.0)


def _write(table: pa.Table, path: str) -> None:
    # One row group and no pandas metadata: the file bytes depend only on
    # the data, so equal seeds give identical files.
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1),
                   compression="snappy")


def _masked(values: np.ndarray, rng: np.random.Generator,
            pa_type: pa.DataType) -> pa.Array:
    return pa.array(values, type=pa_type,
                    mask=rng.random(len(values)) < NULL_RATE)


def _zone_weights(rng: np.random.Generator) -> np.ndarray:
    # Zipf-like zone popularity: a few hot zones give (zone, zone, hour)
    # routes with >= 10 trips next to a long tail with fewer.
    w = 1.0 / np.arange(1, _ZONES + 1) ** 1.1
    return rng.permutation(w / w.sum())


def trips_month(rng: np.random.Generator, month: int, n: int,
                zone_p: np.ndarray) -> pa.Table:
    """``n`` raw trips with pickups in 2024-``month``."""
    start = np.datetime64(f"2024-{month:02d}-01T00:00:00", "us")
    end = (np.datetime64(f"2024-{month + 1:02d}-01T00:00:00", "us")
           if month < 12 else np.datetime64("2025-01-01T00:00:00", "us"))
    span_us = int((end - start) / np.timedelta64(1, "us"))
    pickup = start + rng.integers(0, span_us, n).astype("timedelta64[us]")
    dur_s = rng.integers(60, 180 * 60, n)
    dur_s[rng.random(n) < 0.01] = 0                    # dropoff == pickup
    dropoff = pickup + (dur_s * 1_000_000).astype("timedelta64[us]")

    dist = np.round(np.minimum(rng.exponential(3.0, n), 50.0), 2)
    edge = rng.random(n)
    dist[edge < 0.01] = 0.0                            # zero-distance arm
    on_edge = (edge >= 0.01) & (edge < 0.03)           # bucket edges
    dist[on_edge] = rng.choice(_BUCKET_EDGES, int(on_edge.sum()))

    fare = np.round(np.minimum(3.0 + 2.5 * dist
                               + rng.normal(0.0, 2.0, n), 500.0), 2)
    kind = rng.random(n)
    fare[kind < 0.01] = 0.0                            # zero fare
    neg = (kind >= 0.01) & (kind < 0.015)              # refunds
    fare[neg] = -np.round(rng.uniform(0.5, 10.0, int(neg.sum())), 2)
    pay = rng.choice(np.arange(1, 7), n, p=_PAYMENT_P)
    tip = np.where((pay == 1) & (fare > 0),
                   np.round(np.abs(fare) * rng.uniform(0.0, 0.3, n), 2), 0.0)
    extra = rng.choice(np.array([0.0, 0.5, 1.0, 2.5, 5.0, 10.0]), n)
    mta = rng.choice(np.array([0.0, 0.5]), n, p=(0.05, 0.95))
    tolls = np.where(rng.random(n) < 0.05,
                     np.round(rng.uniform(0.0, 40.0, n), 2), 0.0)
    improvement = rng.choice(np.array([0.0, 1.0]), n, p=(0.05, 0.95))
    congestion = rng.choice(np.array([0.0, 2.5]), n, p=(0.3, 0.7))
    airport = rng.choice(np.array([0.0, 1.75]), n, p=(0.9, 0.1))
    total = np.round(fare + extra + mta + tip + tolls + improvement
                     + congestion + airport, 2)

    cols = {
        "VendorID": _masked(rng.integers(1, 3, n), rng, pa.int32()),
        "tpep_pickup_datetime": _masked(pickup, rng, pa.timestamp("us")),
        "tpep_dropoff_datetime": _masked(dropoff, rng, pa.timestamp("us")),
        "passenger_count": _masked(rng.integers(0, 7, n), rng, pa.int64()),
        "trip_distance": _masked(dist, rng, pa.float64()),
        "RatecodeID": _masked(rng.choice(_RATECODES, n, p=_RATECODE_P),
                              rng, pa.int64()),
        "store_and_fwd_flag": _masked(
            np.where(rng.random(n) < 0.02, "Y", "N"), rng, pa.string()),
        "PULocationID": _masked(rng.choice(_ZONES, n, p=zone_p) + 1,
                                rng, pa.int32()),
        "DOLocationID": _masked(rng.choice(_ZONES, n, p=zone_p) + 1,
                                rng, pa.int32()),
        "payment_type": _masked(pay, rng, pa.int64()),
        "fare_amount": _masked(fare, rng, pa.float64()),
        "extra": _masked(extra, rng, pa.float64()),
        "mta_tax": _masked(mta, rng, pa.float64()),
        "tip_amount": _masked(tip, rng, pa.float64()),
        "tolls_amount": _masked(tolls, rng, pa.float64()),
        "improvement_surcharge": _masked(improvement, rng, pa.float64()),
        "total_amount": _masked(total, rng, pa.float64()),
        "congestion_surcharge": _masked(congestion, rng, pa.float64()),
        "Airport_fee": _masked(airport, rng, pa.float64()),
    }
    return pa.table(cols)


def write_trips(out_dir: str, seed: int, rows: int) -> int:
    """Write ``rows`` raw trips as twelve monthly parquet files into
    ``out_dir``; returns the number of rows written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    zone_p = _zone_weights(rng)
    written = 0
    for month in range(1, 13):
        n = rows // 12 + (1 if month <= rows % 12 else 0)
        _write(trips_month(rng, month, n, zone_p),
               os.path.join(out_dir, f"yellow_tripdata_2024-{month:02d}.parquet"))
        written += n
    return written


_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    # Random 10..99-word texts over a small vocabulary; about 5% are near
    # copies of an earlier document (one or two " dup" tokens appended) and
    # about 1% exact copies, so the dedup stages have work at every seed.
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 0 and u < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        elif i > 0 and u < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _lineitem(rng: np.random.Generator, n: int, n_orders: int,
              n_parts: int, n_supps: int) -> pa.Table:
    ship0 = np.datetime64("1995-01-02T00:00:00", "us")
    days = rng.integers(0, 2498, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supps, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n),
                                 pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n),
                                 pa.string()),
        "l_shipdate": pa.array(ship0 + days.astype("timedelta64[us]"),
                               pa.timestamp("us")),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``lineitem`` and ``documents`` at scale factor ``sf`` (fixture
    row counts: 6 M lineitem rows and 50 k documents per unit) as
    ``<out_dir>/<name>.parquet``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    tables = {
        "lineitem": _lineitem(rng, max(int(6_000_000 * sf), 100),
                              max(int(1_500_000 * sf), 10),
                              max(int(200_000 * sf), 10),
                              max(int(10_000 * sf), 5)),
        "documents": _documents(rng, max(int(50_000 * sf), 20)),
    }
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
