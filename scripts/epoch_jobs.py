"""Where did each indexed epoch's time go? Spark jobs and wall time
per epoch, by ``kahi_spark`` call site.

Drains a seeded binlog through the indexed pipeline (LSH dedup index,
keyless resolver and keyless feature index over a MOR table with
async folds, 4 buckets, the ``agg`` reduce), ``--rounds`` times into
fresh tables; only the last round is reported, the earlier ones warm
the JIT and the codegen cache. Every DataFrame action and write is
wrapped so that it runs with two Spark local properties on its thread:
``kahi.site`` (the innermost ``kahi_spark`` frame, as
``module.function:line``) and ``kahi.epoch``. After the run the jobs
are read back from Spark's event log and counted per (epoch, site);
the wrapper's own wall time is summed beside them. Jobs that carry no
site (the streaming engine's own, or an action the wrappers do not
cover) are listed as ``(unlabelled)``. The side worker's jobs are
labelled like the rest: local properties are per thread, and each
wrapped call sets them on the thread that runs it.

Sites overlap in time when work runs beside the epoch's main thread,
so their walls can add up to more than the epoch's.

Usage:
    python scripts/epoch_jobs.py [--events 12000] [--epochs 3] [--seed 1]
        [--keyless-pct 3] [--cpus 4] [--rounds 2] [--json]
"""

from __future__ import annotations

import argparse
import collections
import functools
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# a probe-sized driver (the engine's default pre-touches 12g); an
# explicit KAHI_SPARK_DRIVER_MEM still wins
os.environ.setdefault("KAHI_SPARK_DRIVER_MEM", "3g")

UNLABELLED = "(unlabelled)"


def write_log(path: str, n_events: int, n_epochs: int, seed: int, keyless_pct: int) -> str:
    """The seeded binlog, ``keyless_pct`` % of its inserts without a key,
    its files stamped so the stream reads them in name order."""
    import numpy as np
    import pandas as pd

    from kahi_spark.gen import write_event_batches

    rng = np.random.RandomState(seed)
    for i, p in enumerate(write_event_batches(path, n_events=n_events, n_batches=n_epochs, seed=seed)):
        df = pd.read_parquet(p)
        keyless = (df["op"] == "insert").to_numpy() & (rng.random_sample(len(df)) * 100 < keyless_pct)
        df["conv_id"] = df["conv_id"].where(~keyless, None)
        df.to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return path


class Labeller:
    """Wraps DataFrame actions and writes so each one runs with
    ``kahi.site`` / ``kahi.epoch`` set, and times them."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.epoch: str | None = None
        self.wall: dict[tuple[str, str], float] = collections.defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @staticmethod
    def _site() -> str:
        f = sys._getframe(2)
        while f is not None:
            mod = f.f_globals.get("__name__", "")
            if mod.startswith("kahi_spark."):
                return f"{mod[len('kahi_spark.'):]}.{f.f_code.co_name}:{f.f_lineno}"
            f = f.f_back
        return UNLABELLED

    def wrap(self, owner, attr: str) -> None:
        original = owner.__dict__[attr]

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if getattr(self._local, "busy", False):  # nested: the outer call labels
                return original(*args, **kwargs)
            site, epoch = self._site(), self.epoch or "-"
            self._local.busy = True
            self.sc.setLocalProperty("kahi.site", site)
            self.sc.setLocalProperty("kahi.epoch", epoch)
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                with self._lock:
                    self.wall[(epoch, site)] += time.perf_counter() - t0
                self.sc.setLocalProperty("kahi.site", None)
                self.sc.setLocalProperty("kahi.epoch", None)
                self._local.busy = False

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def install(self, spark) -> None:
        # the session's concrete classes (pyspark's DataFrame is an
        # interface its classic implementation overrides)
        df = spark.range(1)
        for attr in ("collect", "count", "localCheckpoint", "checkpoint", "toPandas", "take", "first", "head"):
            self.wrap(type(df), attr)
        for attr in ("parquet", "save", "saveAsTable", "insertInto"):
            self.wrap(type(df.write), attr)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)


def jobs_from_event_log(directory: str) -> dict[tuple[str, str], int]:
    """(epoch, site) → number of jobs, from the JobStart properties."""
    out: dict[tuple[str, str], int] = collections.Counter()
    for root, _dirs, files in os.walk(directory):
        for name in files:
            if name.startswith(("appstatus", ".")):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    if '"SparkListenerJobStart"' not in line:
                        continue
                    props = json.loads(line).get("Properties") or {}
                    key = (props.get("kahi.epoch", "-"), props.get("kahi.site", UNLABELLED))
                    out[key] += 1
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--events", type=int, default=12_000)
    ap.add_argument("--epochs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--keyless-pct", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--json", action="store_true", help="one JSON line instead of the table")
    args = ap.parse_args()

    from kahi_spark import get_spark
    from kahi_spark.sinks.dedup_index import LshDedupIndex
    from kahi_spark.sinks.keyless_index import KeylessFeatureIndex
    from kahi_spark.sinks.snapshot import SnapshotTable
    from kahi_spark.streaming.pipeline import CdcPipeline

    work = tempfile.mkdtemp(prefix="kahi_epoch_jobs_")
    try:
        evlog = os.path.join(work, "eventlog")
        os.makedirs(evlog)
        spark = get_spark(
            app_name="epoch_jobs",
            master=f"local[{args.cpus}]",
            shuffle_partitions=args.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evlog,
                "spark.eventLog.compress": "false",
            },
        )
        log = write_log(os.path.join(work, "binlog"), args.events, args.epochs, args.seed, args.keyless_pct)
        lab = Labeller(spark.sparkContext)
        apply_batch = CdcPipeline._apply_batch
        epoch_wall: dict[str, float] = {}

        def labelled_apply(pipe, batch, epoch_id):
            lab.epoch = f"{rnd}:{epoch_id}"
            t0 = time.perf_counter()
            try:
                return apply_batch(pipe, batch, epoch_id)
            finally:
                epoch_wall[lab.epoch] = time.perf_counter() - t0
                lab.epoch = None

        CdcPipeline._apply_batch = labelled_apply
        lab.install(spark)
        try:
            for rnd in range(args.rounds):
                base = os.path.join(work, f"r{rnd}")
                table = SnapshotTable(spark, f"{base}/table", mode="mor", n_buckets=4, compact_async=True)
                CdcPipeline(
                    spark,
                    log,
                    table,
                    f"{base}/ckpt",
                    reduce_strategy="agg",
                    dedup_index=LshDedupIndex(spark, f"{base}/dedup", n_buckets=4),
                    resolve_keyless=True,
                    keyless_index=KeylessFeatureIndex(
                        spark, f"{base}/keyless", n_buckets=4, compact_async=True
                    ),
                ).run_until_idle()
        finally:
            lab.uninstall()
            CdcPipeline._apply_batch = apply_batch
        spark.stop()  # closes the event log
        jobs = jobs_from_event_log(evlog)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    last = f"{args.rounds - 1}:"
    epochs = sorted((e for e in epoch_wall if e.startswith(last)), key=lambda e: int(e.split(":")[1]))
    sites = sorted(
        {s for (e, s) in [*jobs, *lab.wall] if e in epochs},
        key=lambda s: -sum(lab.wall.get((e, s), 0.0) for e in epochs),
    )
    rows = {
        s: {e: [jobs.get((e, s), 0), round(lab.wall.get((e, s), 0.0), 3)] for e in epochs}
        for s in sites
    }
    totals = {e: [sum(jobs.get((e, s), 0) for s in sites), round(epoch_wall[e], 3)] for e in epochs}
    if args.json:
        print(json.dumps({"args": vars(args), "epochs": epochs, "sites": rows, "epoch_totals": totals}))
        return
    head = "site".ljust(48) + "".join(f"{'epoch ' + e.split(':')[1]:>16}" for e in epochs) + f"{'mean':>16}"
    print(head + "\n" + "-" * len(head))

    def cell(j: float, w: float) -> str:
        return f"{j:g} / {w:.2f}s".rjust(16)

    for s in sites:
        r = rows[s]
        mean_j = sum(v[0] for v in r.values()) / len(epochs)
        mean_w = sum(v[1] for v in r.values()) / len(epochs)
        print(s[:48].ljust(48) + "".join(cell(*r[e]) for e in epochs) + cell(round(mean_j, 2), mean_w))
    mean_j = sum(v[0] for v in totals.values()) / len(epochs)
    mean_w = sum(v[1] for v in totals.values()) / len(epochs)
    print("-" * len(head))
    print("epoch (jobs / _apply_batch wall)".ljust(48) + "".join(cell(*totals[e]) for e in epochs) + cell(round(mean_j, 2), mean_w))


if __name__ == "__main__":
    main()
