"""Hot-key skew probe (VERDICT r4 #1 — the north-rule's "one
conversation holding ~10% of 10^10 events" claim, measured).

The default generator's hot conversation disperses over turn_idx, so
the window key ``(conv_id, turn_idx)`` is barely skewed. This probe
generates a GENUINELY skewed 24M-event log (``hot_turns=1``: ~10% of
all events on the single key ``(c0, 0)``) and measures the LWW
reduction (``operators/merge.py::latest_change_per_key``) with
``strategy`` window vs agg at local[32] — fresh-JVM
subprocesses, interleaved min-of-N, the bench's noise protocol.
Checksum parity between the strategies is asserted (the value-level
parity also lives in tests/test_merge.py). A two-phase salted window
reduce was measured here too and deleted after losing at every skew
(0.5× at a 10%-hot key, 0.7× at 50%; BASELINE.md skew table).

It also times the MOR READ path (VERDICT r4 #8) on a table built
from the skewed stream: the read-side ``_resolve`` window sees at
most (1 + n_deltas) rows per key — the hot key's millions of raw
events were already reduced at write time — so the read should NOT
inherit the skew; this measures that claim against a uniform table
of the same size.

Usage: python scripts/skew_probe.py [n_events] [cpus]
Prints ONE JSON line; results recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_TURNS = 1
KINDS = ("window", "agg")


def _measure_reduce(kind: str, event_path: str, cpus: int) -> dict:
    import bench

    spark = bench.fresh_session(f"local[{cpus}]", cpus)
    from pyspark.sql import functions as F

    from kahi_spark.operators.merge import latest_change_per_key

    ev = spark.read.parquet(event_path)

    def job():
        red = latest_change_per_key(ev, strategy=kind)
        return red.agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in red.columns])).alias("chk"),
        ).collect()[0]

    job()  # warmup (JIT, page cache)
    t0 = time.time()
    row = job()
    wall = time.time() - t0
    spark.stop()
    return {"wall_s": round(wall, 3), "rows": row.rows, "chk": row.chk}


def _measure_mor_read(event_path: str, cpus: int, n_events: int, label: str) -> dict:
    """Build a 4-delta MOR table from the stream, then time the
    resolve-on-read (base absent → pure delta resolve, the worst
    case for a hot key if reads inherited skew)."""
    import shutil

    import bench

    spark = bench.fresh_session(f"local[{cpus}]", cpus)
    from pyspark.sql import functions as F

    from kahi_spark.sinks.snapshot import SnapshotTable

    tmp = f"/tmp/kahi_skew_probe_{label}"
    shutil.rmtree(tmp, ignore_errors=True)
    t = SnapshotTable(spark, tmp, n_buckets=cpus, mode="mor", compact_every=100)
    # seq is 0..N-1 by construction: a seq filter takes a prefix
    # deterministically (limit would be order-dependent)
    ev = spark.read.parquet(event_path)
    per = n_events // 4
    for e in range(4):
        batch = ev.filter(
            (F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per)
        )
        t.merge(batch, epoch_id=e)

    def job():
        df = t.read_internal()
        return df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
        ).collect()[0]

    job()  # warmup
    t0 = time.time()
    row = job()
    wall = time.time() - t0
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    return {"wall_s": round(wall, 3), "rows": row.rows}


def main() -> None:
    import bench

    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 24_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    skew_path = bench.cached_events(n_events, 128, "skew", hot_turns=HOT_TURNS)
    uniform_path = bench.cached_events(n_events, 128, "scaling")

    out: dict = {
        "events": n_events,
        "hot_turns": HOT_TURNS,
        "hot_key_share": 0.10,
        "cpus": cpus,
    }
    # phase gates so each phase fits a bounded shell timeout
    if os.environ.get("KAHI_SKEW_ONLY_MOR") != "1":
        walls: dict[str, list[float]] = {k: [] for k in KINDS}
        meta: dict[str, dict] = {}
        # interleaved rounds (window, agg, window, …): VM
        # CPU-steal comes in windows — all configs must see the same
        for _rep in range(int(os.environ.get("KAHI_SKEW_REPS", "2"))):
            for kind in KINDS:
                res = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--measure",
                     kind, skew_path, str(cpus)],
                    capture_output=True, text=True, check=True,
                )
                rec = json.loads(res.stdout.strip().splitlines()[-1])
                walls[kind].append(rec["wall_s"])
                meta[kind] = rec
        # every strategy must be value-identical (same column order →
        # same checksum)
        assert meta["window"]["rows"] == meta["agg"]["rows"]
        assert meta["window"]["chk"] == meta["agg"]["chk"], "agg strategy changed values"
        for kind in KINDS:
            out[f"reduce_{kind}"] = {
                "wall_s": min(walls[kind]), "all_wall_s": walls[kind]
            }
        out["agg_speedup"] = round(min(walls["window"]) / min(walls["agg"]), 3)
        out["parity"] = True
    if os.environ.get("KAHI_SKEW_SKIP_MOR") != "1":
        read_n = min(n_events, 8_000_000)
        out["mor_read_skewed"] = _measure_mor_read(skew_path, cpus, read_n, "skew")
        out["mor_read_uniform"] = _measure_mor_read(uniform_path, cpus, read_n, "uni")
    print(json.dumps(out))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--measure":
        _, _, kind, path, cpus = sys.argv
        print(json.dumps(_measure_reduce(kind, path, int(cpus))))
    else:
        main()
