"""spark-submit entry point for the CDC ingest pipeline.

    spark-submit --py-files kahi_spark.zip jobs/cdc_ingest_job.py \
        --events /data/binlog --table /warehouse/transcripts \
        --checkpoint /chk/transcripts --mode mor \
        [--n-buckets 256] [--reduce-strategy agg] [--compact-every 8] \
        [--max-files-per-trigger 64] [--continuous]

The session comes from ``SparkSession.builder.getOrCreate()`` so
cluster master / executor sizing / shuffle partitions are whatever
spark-submit was given (the north-rule deployment: the same job at N
and 4N executors; ``bench.py``'s scaling phase is the sandbox
stand-in for that pair). One run drains everything currently in the
log (``availableNow``) and exits 0 — idempotent: re-running resumes
from the checkpoint and the epoch ledger no-ops re-delivery. With
``--continuous`` the query instead stays up on a processing-time
trigger (the production tail).

Prints one JSON line of per-epoch metrics on exit (the same metrics
the table manifest records durably).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--events", required=True, help="binlog directory (parquet files)")
    p.add_argument("--table", required=True, help="snapshot table path")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    p.add_argument("--mode", choices=["cow", "mor"], default="mor")
    p.add_argument("--n-buckets", type=int, default=256)
    p.add_argument(
        "--reduce-strategy", choices=["window", "agg"], default="window",
        help="LWW reduction: 'agg' = map-side-combining max_by — "
        "bounded per-task work under hot-key skew (skew_probe.py)",
    )
    p.add_argument("--compact-every", type=int, default=8)
    p.add_argument(
        "--compact-minor-every", type=int, default=None,
        help="delta-tier (minor) fold: when the major isn't due but this "
        "many delta files accumulated, LWW-merge them into one delta — "
        "bounds MOR read fan-in between ratio-spaced base rewrites",
    )
    p.add_argument(
        "--compact-ratio", type=float, default=None,
        help="size-ratio fold trigger: fold when delta rows >= ratio * "
        "base rows (geometric schedule — bounds total rewrite work at "
        "long replays); --compact-every bootstraps the first base",
    )
    p.add_argument(
        "--compact-async", action="store_true",
        help="fold MOR deltas in a background thread (epoch N+1 "
        "appends while [0..k) folds) instead of blocking the epoch",
    )
    p.add_argument("--max-files-per-trigger", type=int, default=64)
    p.add_argument("--continuous", action="store_true", help="stay up (processing-time trigger)")
    p.add_argument(
        "--timeout-s",
        type=float,
        default=None,
        help="stop after this long; default: 3600 in drain mode, "
        "UNLIMITED with --continuous (the tail really stays up)",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from kahi_spark.sinks.snapshot import SnapshotTable
    from kahi_spark.streaming.pipeline import CdcPipeline

    spark = SparkSession.builder.appName("kahi_cdc_ingest").getOrCreate()
    table = SnapshotTable(
        spark,
        args.table,
        n_buckets=args.n_buckets,
        mode=args.mode,
        compact_every=args.compact_every,
        compact_ratio=args.compact_ratio,
        compact_minor_every=args.compact_minor_every,
        compact_async=args.compact_async,
    )
    pipe = CdcPipeline(
        spark,
        args.events,
        table,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        reduce_strategy=args.reduce_strategy,
    )
    if args.continuous:
        pipe.run_continuous(timeout_s=args.timeout_s)  # None = run forever
    else:
        # not `or`: an explicit --timeout-s 0 must mean 0, not 3600
        pipe.run_until_idle(
            timeout_s=3600.0 if args.timeout_s is None else args.timeout_s
        )
    print(json.dumps({"epochs": pipe.metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
