"""Merge solo/small-group sf10 bench runs into BENCH_SF10.json.

The sf10 table is assembled from SERIAL runs (PLANS.md #20: concurrent
JVMs corrupt each other's numbers and back-to-back heavy queries
contaminate even with forced GC), so this tool folds a list of
BENCH_SUBSET-style JSON lines into the committed artifact: per-query
times replace existing rows, experiments merge, and a per-run note can
be attached. Usage:

    python tools/merge_sf10.py run1.json run2.json ...
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    path = os.path.join(ROOT, "BENCH_SF10.json")
    with open(path) as f:
        full = json.load(f)
    for run_file in sys.argv[1:]:
        with open(run_file) as f:
            run = json.load(f)
        if run.get("sf") != 10.0:
            raise SystemExit(f"{run_file}: sf={run.get('sf')} != 10.0")
        full["queries"].update(run.get("queries", {}))
        if run.get("experiments"):
            full.setdefault("experiments", {}).update(run["experiments"])
    full["value"] = round(sum(full["queries"].values()), 3)
    # deployment vs lesson totals (VERDICT r11 item 2): tag the
    # deliberate scale-lesson rows so the artifact itself reports the
    # number a reader should track
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    full["totals"] = entrymod.lesson_totals(full["queries"])
    with open(path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(f"BENCH_SF10.json: {len(full['queries'])} queries, "
          f"total {full['value']} s "
          f"(deployment {full['totals']['deployment_total_sec']} s + "
          f"lessons {full['totals']['lesson_total_sec']} s)")


if __name__ == "__main__":
    main()
