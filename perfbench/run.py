"""Benchmark entry point.

    python3 perfbench/run.py --workload {taxi_etl,plan_heavy} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It generates the workload's inputs from the
seed, starts Spark as ``local[<cores>]`` through ``get_spark`` with the
host-fit settings below, runs one closed-loop client for ``--seconds``,
checks every output against a DuckDB twin and prints one metric per line
followed by the JSON result as the last line of standard output.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``). Everything the run writes
stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def host_settings() -> tuple[dict[str, str], dict[str, str]]:
    """Environment knobs and session confs that fit Spark to this host.

    Cores are the CPUs this process may run on; the driver heap is a
    quarter of physical memory, at most 4g; Spark's scratch space is
    inside the work directory; the job and stage stores keep every entry
    of a run so job and stage counts are never evicted mid-run.
    """
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        # Python workers import the engine from the repository root.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }
    return env, conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["taxi_etl", "plan_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "nyctaxidatapipeline_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    env, conf = host_settings()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"], work):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    sys.path.insert(0, ROOT)

    # Imported after the environment is set: the session module reads its
    # core count at import time.
    from nyctaxidatapipeline_spark import get_spark
    from perfbench import workloads

    print("host settings: " + json.dumps({**env, **conf}), flush=True)
    sessions = []

    def start():
        sessions.append(get_spark("perfbench", extra_conf=conf))
        return sessions[-1]

    try:
        result = workloads.run(args.workload, args.seed, args.seconds,
                               bool(args.trace), work, start)
    finally:
        for spark in sessions:
            _stop(spark)
        # A traced run keeps its spans file; nothing else outlives a run.
        for d in (["raw", "tables", "out"] if args.trace else [""]):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)  # noqa: SLF001
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    raise SystemExit(main())
