"""One-off pipeline soak: 24M events / 8 epochs through CdcPipeline
into the MOR table (16 files per trigger, compact_every=4 → two
mid-run compaction folds). Reports per-epoch and end-to-end ev/s —
the amortized steady-state the 4M bench phase can't show.

Usage: python scripts/soak_pipeline.py [n_events] [n_epochs] [cpus] [sync|async]

``cpus`` overrides the parallelism level (default: bench.CPUS) — run
at 8 and 32 for the SINK-INCLUSIVE two-cluster-size scaling evidence
(the bench's `scaling` phase measures the compute job; this measures
the full change-apply path including the MOR sink).

``async`` enables overlapped background compaction (VERDICT r4 #2):
the fold no longer blocks its triggering epoch.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 24_000_000
    n_epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    files_per_epoch = 16

    import bench
    from kahi_spark.sinks.snapshot import SnapshotTable
    from kahi_spark.streaming.pipeline import CdcPipeline

    steal = bench._StealSampler().start()
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else bench.CPUS
    compact_async = len(sys.argv) > 4 and sys.argv[4] == "async"
    strategy = sys.argv[5] if len(sys.argv) > 5 else "auto"
    event_dir = bench.cached_events(n_events, n_epochs * files_per_epoch, "soak")
    warm_dir = bench.cached_events(40_000, 4, "pipewarm")
    tmp = "/tmp/kahi_soak"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = bench.fresh_session(f"local[{cpus}]", cpus)

    warm_table = SnapshotTable(
        spark, os.path.join(tmp, "warm"), n_buckets=cpus, mode="mor", compact_every=2
    )
    CdcPipeline(
        spark, warm_dir, warm_table, os.path.join(tmp, "warm-ckpt"),
        max_files_per_trigger=2,
    ).run_until_idle(timeout_s=120)
    warm_table.read().count()

    ratio = os.environ.get("KAHI_SOAK_COMPACT_RATIO")
    minor = os.environ.get("KAHI_SOAK_COMPACT_MINOR")
    table = SnapshotTable(
        spark, os.path.join(tmp, "t"), n_buckets=cpus, mode="mor",
        compact_every=int(os.environ.get("KAHI_SOAK_COMPACT_EVERY", "4")),
        compact_async=compact_async, compact_strategy=strategy,
        compact_ratio=float(ratio) if ratio else None,
        compact_minor_every=int(minor) if minor else None,
    )
    pipe = CdcPipeline(
        spark, event_dir, table, os.path.join(tmp, "ckpt"),
        max_files_per_trigger=files_per_epoch,
    )
    t0 = time.time()
    # scale the idle-timeout with the soak size (the 240M 10× point
    # needs ~5 min steady even in a quiet window)
    pipe.run_until_idle(timeout_s=max(900, n_events // 150_000))
    wall = time.time() - t0
    steady = wall - pipe.last_quiesce_wait_s
    out = {
        "events": n_events,
        "epochs": n_epochs,
        "compact_async": compact_async,
        "wall_s": round(wall, 1),
        "events_per_sec": round(n_events / wall, 1),
        # the final fold-quiesce is pure tail in a short run (steady
        # state overlaps it with later epochs) — report both
        "quiesce_wait_s": pipe.last_quiesce_wait_s,
        "steady_events_per_sec": round(n_events / steady, 1) if steady > 0 else None,
        "final_rows": table.read().count(),
        "per_epoch": [
            {
                "epoch": m["epoch_id"],
                "wall_s": m["wall_s"],
                "ev_s": m["events_per_sec"],
                # generated classes compiled in the epoch: 0 in steady
                # state (a steady nonzero count means the codegen
                # cache thrashes — see get_spark)
                "codegen_compiles": m["codegen_compiles"],
            }
            for m in pipe.metrics
        ],
        "compactions": [
            {"strategy": c.get("strategy"), "wall_s": c.get("wall_s")}
            for c in table.history()
            if c["op"] == "compact"
        ],
        # measured hypervisor-steal for this run (bench._StealSampler):
        # this box swings 0-26% on minute scales — attribute before
        # comparing soaks across windows
        "env": steal.report(),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
