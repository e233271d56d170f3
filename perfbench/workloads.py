"""The benchmark workloads and the closed-loop runner.

One client runs one pass at a time. Before every pass the runner clears
Spark's cache and runs a JVM GC, so no pass reuses another pass's cached
plan. Set-up (session start, input generation, warm-up passes) is timed
on its own; the measured passes then run until ``seconds`` have elapsed.
Every pass's outputs are checked against a DuckDB twin after the pass,
outside the timed window.

Untraced runs report end-to-end metrics. Traced runs alternate untraced and
traced passes: a traced pass wraps each layer call in a span (see
``probe``), and the per-layer metrics are medians over traced passes; the
tracing overhead is the traced minus the untraced median pass wall.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from perfbench import check, gen, probe

#: Raw trip rows generated for ``taxi_etl`` (split over 12 monthly files).
TAXI_ROWS = 300_000
#: Scale factor of the tables generated for ``plan_heavy`` (30 k lineitem
#: rows, 250 documents).
PLAN_SF = 0.005
#: The registered queries of ``plan_heavy``: driver build (lineage pins,
#: sizing probes, per-round graph jobs) is most of their wall. The dedup
#: queries cross_signal_dedup and curate_corpus are left out: their DuckDB
#: twins take about a minute each even at sf0.01 (4 cores), longer than a
#: whole run may take.
PLAN_QUERIES = ("near_dup_production", "pagerank", "shortest_paths")
PLAN_TABLES = ("lineitem", "documents")
#: Input generations timed per run; ``setup_s`` takes their median.
GEN_REPEATS = 3

_ANALYTICS = {  # pipeline function -> the table it builds
    "demand_heatmap": "demand_heatmap", "tip_trends": "tip_trends",
    "trip_performance": "trip_performance", "popular_routes": "popular_routes",
    "payment_analysis": "payment_analysis",
    "distance_distribution": "distance_distribution",
    "threshold_anomalies": "fare_anomalies",
}
TAXI_TABLES = tuple(_ANALYTICS.values())

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
              "query_p50_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {"session.start_s": "s",
             "sources.load_s": "s", "sources.load_jobs": "count",
             "sources.input_bytes": "bytes",
             "cleaning.rows_in": "count", "cleaning.rows_out": "count",
             "cleaning.kept_ratio": "ratio",
             "features.cache_fill_s": "s", "features.cache_bytes": "bytes"}
    units.update({f"analytics.{t}_s": "s" for t in TAXI_TABLES})
    units.update({"analytics.shuffle_write_bytes": "bytes",
                  "sinks.write_s": "s", "sinks.bytes_written": "bytes",
                  "sinks.files_written": "count",
                  "sinks.bytes_per_input_byte": "ratio",
                  "entry.build_s": "s", "entry.build_jobs": "count",
                  "entry.exec_s": "s", "entry.exec_jobs": "count"})
    for q in PLAN_QUERIES:
        units[f"entry.{q}.build_s"] = "s"
        units[f"entry.{q}.exec_s"] = "s"
    for phase in ("build", "exec"):
        for c in probe.COUNTERS:
            units[f"{phase}.{c}"] = "s" if c.endswith("_s") else (
                "count" if c == "tasks" else "bytes")
    for layer in ("entry", "sources", "cleaning", "features", "analytics",
                  "sinks"):
        units[f"self.{layer}_s"] = "s"
    units.update({"trace.overhead_s": "s", "trace.spans": "count",
                  "check.failed_frac": "ratio"})
    return units


def _pass_span(tracer):
    """The root span of a traced pass (covers the timed region only)."""
    return tracer.span("pass", "bench") if tracer else nullcontext()


class PassResult:
    def __init__(self, traced: bool):
        self.traced = traced
        self.wall = 0.0
        self.op_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}


class TaxiEtl:
    """The reference pipeline: ``clean_trips`` then ``run_pipeline`` to
    parquet, on seeded raw monthly trip files."""

    name = "taxi_etl"
    #: Untimed passes before measuring. The first pass takes about 4x a
    #: warm one and the second about 1.4x while the JIT compiles the scan,
    #: aggregate and write paths; later passes still drift down by 10-20%
    #: over the next ten, which the median over a long window absorbs.
    warmups = 3

    def __init__(self, rows: int = TAXI_ROWS):
        self.rows = rows

    def generate(self, work: str, seed: int) -> None:
        self.raw_dir = os.path.join(work, "raw")
        self.input_rows = gen.write_trips(self.raw_dir, seed, self.rows)
        self.input_bytes = probe.dir_bytes(self.raw_dir)[1]
        self.out_root = os.path.join(work, "out")
        self.twin = None

    def run_pass(self, spark, tracer, pass_id: int) -> PassResult:
        from nyctaxidatapipeline_spark import pipeline

        res = PassResult(tracer is not None)
        out_dir = os.path.join(self.out_root, f"pass-{pass_id}")
        targets = [] if tracer is None else self._traced_targets(spark, tracer)
        t0 = time.perf_counter()
        with probe.patched(*targets), _pass_span(tracer):
            if tracer is not None:
                with tracer.span("entry.clean_trips", "entry", "build"):
                    cleaned = pipeline.clean_trips(spark, self.raw_dir)
            else:
                cleaned = pipeline.clean_trips(spark, self.raw_dir)
            pipeline.run_pipeline(cleaned, sink="parquet", base_path=out_dir)
        res.wall = time.perf_counter() - t0
        # The user's query is the whole pipeline run. Single table writes
        # (0.2-1 s) spread too much between runs to bound; their times are
        # in the traced run's sinks spans.
        res.op_times = [res.wall]

        if self.twin is None:
            self.twin = check.TaxiTwin(self.raw_dir)
        for table in TAXI_TABLES:
            res.attempted += 1
            err = self.twin.check(table, os.path.join(out_dir, table))
            if err:
                res.failed += 1
                print(f"[taxi_etl] {table}: {err}", flush=True)
        if tracer is not None:
            files, size = probe.dir_bytes(out_dir)
            res.layer.update({
                "sinks.bytes_written": size, "sinks.files_written": files,
                "sinks.bytes_per_input_byte": size / self.input_bytes,
                "cleaning.rows_in": self.input_rows,
                "cleaning.rows_out": self._rows_out,
                "cleaning.kept_ratio": self._rows_out / self.input_rows,
                "features.cache_bytes": self._cache_bytes})
        shutil.rmtree(out_dir, ignore_errors=True)
        return res

    def _traced_targets(self, spark, tracer) -> list:
        from nyctaxidatapipeline_spark import pipeline, sinks

        features: list = []

        def keep_features(df):
            with tracer.span("features.with_trip_features", "features"):
                out = with_trip_features(df)
            features.append(out)
            return out

        def traced_analytics(trips, *args, **kwargs):
            with tracer.span("entry.taxi_analytics", "entry", "build"):
                tables = taxi_analytics(trips, *args, **kwargs)
            # The pipeline caches the featurized frame lazily; filling it
            # here times the fill on its own instead of inside the first
            # table's write.
            with tracer.span("features.cache_fill", "features", "exec"):
                self._rows_out = features[-1].count()
            self._cache_bytes = probe.cached_bytes(spark)
            return tables

        with_trip_features = pipeline.with_trip_features
        taxi_analytics = pipeline.taxi_analytics
        targets = [
            (pipeline, "read_parquet",
             tracer.wrap(pipeline.read_parquet, "sources.read_parquet",
                         "sources", attrs=lambda _s, *paths: {
                             "paths": list(paths)})),
            (pipeline, "drop_null_rows",
             tracer.wrap(pipeline.drop_null_rows, "cleaning.drop_null_rows",
                         "cleaning")),
            (pipeline, "with_trip_features", keep_features),
            (pipeline, "taxi_analytics", traced_analytics),
            (sinks, "write_parquet",
             tracer.wrap(sinks.write_parquet, "sinks.write_parquet", "sinks",
                         "exec", attrs=lambda _df, path, *a, **k: {
                             "output": os.path.basename(path)})),
        ]
        targets += [(pipeline, fn, tracer.wrap(getattr(pipeline, fn),
                                               f"analytics.{fn}", "analytics",
                                               attrs=lambda *a, t=t, **k: {
                                                   "table": t}))
                    for fn, t in _ANALYTICS.items()]
        return targets


class PlanHeavy:
    """Registered queries whose wall is mostly driver build, forced with
    the noop sink and checked against their ``oracle_sql()`` twins."""

    name = "plan_heavy"
    warmups = 1

    def __init__(self, sf: float = PLAN_SF):
        self.sf = sf

    def generate(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "tables")
        rows = gen.write_tables(self.data_dir, seed, self.sf)
        self.input_rows = sum(rows.values())
        self.input_bytes = probe.dir_bytes(self.data_dir)[1]
        self.twin = None

    def run_pass(self, spark, tracer, pass_id: int) -> PassResult:
        import __spark_entry__ as entrymod
        from nyctaxidatapipeline_spark import sinks

        res = PassResult(tracer is not None)
        queries = entrymod.queries()
        built = {}
        targets = []
        if tracer is not None:
            targets = [(entrymod, "load_table", tracer.wrap(
                entrymod.load_table, "sources.load_table", "sources",
                attrs=lambda _s, d, name: {
                    "paths": [os.path.join(d, f"{name}.parquet")]}))]
        t0 = time.perf_counter()
        with probe.patched(*targets), _pass_span(tracer):
            for q in PLAN_QUERIES:
                res.attempted += 1
                try:
                    t = time.perf_counter()
                    if tracer is None:
                        df = queries[q](spark, self.data_dir)
                        sinks.write_output(df, "noop")
                    else:
                        with tracer.span(f"entry.build:{q}", "entry",
                                         "build", query=q):
                            df = queries[q](spark, self.data_dir)
                        with tracer.span(f"sinks.write_output:{q}", "sinks",
                                         "exec", query=q):
                            sinks.write_output(df, "noop")
                    res.op_times.append(time.perf_counter() - t)
                    built[q] = df
                except Exception:  # noqa: BLE001 - a failed op is counted
                    res.failed += 1
                    traceback.print_exc()
        res.wall = time.perf_counter() - t0

        if self.twin is None:
            self.twin = check.OracleTwin(self.data_dir, list(PLAN_TABLES),
                                         list(PLAN_QUERIES))
        for q, df in built.items():
            try:
                err = self.twin.check(q, df.toArrow())
            except Exception as e:  # noqa: BLE001 - counted as failed
                err = f"collect failed: {e}"
            if err:
                res.failed += 1
                print(f"[plan_heavy] {q}: {err}", flush=True)
        if tracer is not None:
            res.layer.update({"sinks.bytes_written": 0,
                              "sinks.files_written": 0,
                              "sinks.bytes_per_input_byte": 0.0})
        return res


WORKLOADS = {"taxi_etl": TaxiEtl, "plan_heavy": PlanHeavy}


def layer_metrics(spark, spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced pass from its spans."""
    counters = probe.span_counters(spark, spans)
    selfs = probe.self_times(spans)
    root = next(s for s in spans if s["parent"] is None
                and s["layer"] == "bench")
    m: dict[str, float] = {k: 0.0 for k in per_layer_units()}
    for s in spans:
        dur = s["end"] - s["start"]
        c = counters[s["id"]]
        for k in probe.COUNTERS:
            m[f"{s['phase']}.{k}"] += c[k]
        if s["layer"] in ("entry", "sources", "cleaning", "features",
                          "analytics", "sinks"):
            m[f"self.{s['layer']}_s"] += selfs[s["id"]]
        if s["parent"] == root["id"]:
            m[f"entry.{s['phase']}_s"] += dur
        m[f"entry.{s['phase']}_jobs"] += c["jobs"]
        if s["layer"] == "sources":
            m["sources.load_s"] += dur
            m["sources.load_jobs"] += c["jobs"]
            m["sources.input_bytes"] += sum(
                probe.dir_bytes(p)[1] if os.path.isdir(p)
                else os.path.getsize(p) for p in s["paths"])
        if s["name"] == "features.cache_fill":
            m["features.cache_fill_s"] += dur
        if "table" in s:
            # The analytics call itself, i.e. lazy plan construction. The
            # plan executes in the table's write, which counts towards
            # sinks.write_s only.
            m[f"analytics.{s['table']}_s"] += dur
        if s["name"] == "sinks.write_parquet":
            # a table's write executes its analytics plan
            m["analytics.shuffle_write_bytes"] += c["shuffle_write_bytes"]
        if s["layer"] == "sinks":
            m["sinks.write_s"] += dur
        if "query" in s:
            kind = "build" if s["phase"] == "build" else "exec"
            m[f"entry.{s['query']}.{kind}_s"] += dur
    m["trace.spans"] = len(spans)
    return m


def _isolate(spark) -> None:
    spark.catalog.clearCache()
    spark._jvm.System.gc()  # noqa: SLF001


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        spark_factory, wl=None) -> dict:
    """One benchmark run; returns the result object of the output
    contract. ``spark_factory()`` starts the session; ``wl`` overrides the
    workload instance (tests pass smaller inputs)."""
    wl = wl or WORKLOADS[workload]()
    os.makedirs(work, exist_ok=True)

    t = time.perf_counter()
    spark = spark_factory()
    session_s = time.perf_counter() - t
    gen_times = []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        wl.generate(work, seed)
        gen_times.append(time.perf_counter() - t)

    attempted = failed = 0
    warm_walls = []
    for pass_id in range(wl.warmups):
        _isolate(spark)
        warm = wl.run_pass(spark, None, pass_id)
        warm_walls.append(warm.wall)
        attempted += warm.attempted
        failed += warm.failed
    print(f"set-up: session {session_s:.3f} s, generate "
          f"{statistics.median(gen_times):.3f} s, warm-up "
          + " ".join(f"{w:.3f}" for w in warm_walls) + " s",
          file=sys.stderr, flush=True)
    setup_s = session_s + statistics.median(gen_times) + sum(warm_walls)

    tracer = probe.Tracer(spark.sparkContext) if trace else None
    passes: list[PassResult] = []
    pass_spans: list[list[dict]] = []
    t_start = time.perf_counter()
    while True:
        pass_id += 1
        traced = trace and len(passes) % 2 == 1
        _isolate(spark)
        if traced:
            tracer.pass_id = pass_id
            first = len(tracer.spans)
            res = wl.run_pass(spark, tracer, pass_id)
            spans = tracer.spans[first:]
            res.layer = {**layer_metrics(spark, spans), **res.layer}
            pass_spans.append(spans)
        else:
            res = wl.run_pass(spark, None, pass_id)
        passes.append(res)
        print(f"pass {pass_id}{' traced' if traced else ''}: "
              f"{res.wall:.3f} s, {res.failed}/{res.attempted} failed, ops "
              + " ".join(f"{t:.3f}" for t in res.op_times),
              file=sys.stderr, flush=True)
        attempted += res.attempted
        failed += res.failed
        # A traced run ends on an untraced pass, so every traced pass sits
        # between two untraced ones and warm-up drift cancels in the
        # overhead.
        done = time.perf_counter() - t_start >= seconds
        if done and (not trace or (len(passes) >= 3 and not traced)):
            break

    plain = [p for p in passes if not p.traced]
    if trace:
        traced = [p for p in passes if p.traced]
        units = per_layer_units()
        values = {k: statistics.median(p.layer[k] for p in traced)
                  for k in units}
        values["session.start_s"] = session_s
        values["trace.overhead_s"] = (
            statistics.median(p.wall for p in traced)
            - statistics.median(p.wall for p in plain))
        values["check.failed_frac"] = failed / attempted
        spans_path = os.path.join(work, f"spans-{workload}-{seed}.jsonl")
        with open(spans_path, "w") as f:
            for spans in pass_spans:
                for s in spans:
                    f.write(json.dumps(s) + "\n")
    else:
        units = END_TO_END
        wall = statistics.median(p.wall for p in plain)
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": wl.input_rows / wall,
            # Median over passes of each pass's median query: pooling all
            # queries would let the median jump between the clusters of
            # fast and slow queries.
            "query_p50_s": statistics.median(
                statistics.median(p.op_times) for p in plain if p.op_times),
            "peak_rss_mb": probe.peak_rss_mb(),
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}
