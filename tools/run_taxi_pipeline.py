"""CLI for the end-to-end taxi pipeline — the reference's command-line
surface (``yellow_taxi_etl.py:219-236`` argparse + ``cleaning.py``), so a
reference user can switch with the same invocation shape:

    python tools/run_taxi_pipeline.py --parquet-path data/trips.parquet \
        --sink parquet --out /tmp/taxi_out [--append]
    python tools/run_taxi_pipeline.py --parquet-path ... --sink jdbc \
        --jdbc-url jdbc:mysql://host/db --user u --password p [--append]
    python tools/run_taxi_pipeline.py --clean raw_dir --out cleaned_dir

Write-mode parity: ``--append`` flips the six analytics tables to append;
``fare_anomalies`` is always overwritten (``yellow_taxi_etl.py:207``).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyctaxidatapipeline_spark import get_spark, pipeline
from nyctaxidatapipeline_spark.sinks import SINKS, JdbcConfig
from nyctaxidatapipeline_spark.sources import read_parquet


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Yellow-taxi analytics pipeline")
    ap.add_argument("--parquet-path", help="trip parquet (file/dir/glob)")
    ap.add_argument("--clean", metavar="RAW_DIR",
                    help="run the cleaning ETL (EP2) instead of analytics")
    ap.add_argument("--out", help="output base path (parquet sinks)")
    ap.add_argument("--sink", choices=SINKS, default="parquet")
    ap.add_argument("--append", action="store_true",
                    help="append analytics tables (anomalies still overwrite)")
    ap.add_argument("--threshold-mode", choices=["approx", "exact"],
                    default="approx", help="p99 anomaly threshold mode")
    ap.add_argument("--jdbc-url")
    ap.add_argument("--user")
    ap.add_argument("--password")
    args = ap.parse_args(argv)

    spark = get_spark("taxi_pipeline")
    try:
        if args.clean:
            if not args.out:
                ap.error("--clean requires --out")
            cleaned = pipeline.clean_trips(spark, args.clean, args.out)
            cleaned.show()
            return 0
        if not args.parquet_path:
            ap.error("--parquet-path required (or use --clean)")
        trips = read_parquet(spark, args.parquet_path)
        kwargs: dict = {}
        if args.sink == "parquet":
            if not args.out:
                ap.error("--sink parquet requires --out")
            kwargs["base_path"] = args.out
        elif args.sink == "jdbc":
            if not (args.jdbc_url and args.user and args.password):
                ap.error("--sink jdbc requires --jdbc-url/--user/--password")
            kwargs["cfg"] = JdbcConfig(url=args.jdbc_url, user=args.user,
                                       password=args.password)
        pipeline.run_pipeline(trips, sink=args.sink, append=args.append,
                              threshold_mode=args.threshold_mode, **kwargs)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
