"""The indexed epoch's side worker: the dedup-index commit runs beside
the table merge and the stats pre-pass beside the keyless resolve,
on one pipeline-owned thread that every epoch joins before it
returns. Pins that a near-dup-heavy indexed run ends in the state the
serial pipeline reached, that a failed commit surfaces from its epoch
only after the side work ended and a restart heals it, and that no
side thread outlives ``run_until_idle``."""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kahi_spark.sinks.dedup_index import LshDedupIndex
from kahi_spark.sinks.keyless_index import KeylessFeatureIndex
from kahi_spark.sinks.snapshot import SnapshotTable
from kahi_spark.streaming.pipeline import SIDE_THREAD_PREFIX, CdcPipeline

_COLS = ["seq", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "source"]

# (table, dropped_keys(), existing_sigs()) checksums of the planted log
# drained by the serial pipeline (dedup commit and stats pre-pass
# inline), each as (rows, bit_xor of xxhash64 over every column)
SERIAL_STATE = (
    (20, -4530353958630683822),
    (12, 5684348710908322828),
    (23, -4216947564189588408),
)


def _docs(rng: np.random.RandomState, n: int) -> list[list[str]]:
    vocab = [f"w{i:03d}" for i in range(600)]
    return [list(rng.choice(vocab, size=40)) for _ in range(n)]


def _edit(doc: list[str], pos: int, word: str) -> str:
    """``doc`` with one word replaced: the last word changes one of 38
    shingles (jaccard ~0.95), a middle word up to three (~0.85)."""
    out = list(doc)
    out[pos] = word
    return " ".join(out)


def _planted_log(path: str) -> str:
    """Four epochs of inserts, updates and deletes in which about a
    third of the inserts near-dup an earlier epoch's doc or a lower
    in-batch key, dropped keys come back (updates and a re-insert the
    ledger must silence), and keyless events adopt a key or mint a
    surrogate."""
    rng = np.random.RandomState(5)
    d = _docs(rng, 30)
    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    seq = iter(range(1_000))

    def ev(op, conv, turn, text, role="user"):
        s = next(seq)
        return (s, op, conv, turn, role, text, None, t(s), "src0")

    j = " ".join
    epochs = [
        [
            *[ev("insert", f"c{i:02d}", 0, j(d[i])) for i in range(10)],
            ev("insert", "c10", 0, _edit(d[0], 39, "zz1")),  # in-batch near-dup of c00
            ev("insert", "c11", 0, _edit(d[3], 20, "zz2")),  # in-batch near-dup of c03
            ev("insert", "c12", 1, _edit(d[4], 39, "zz3")),  # other turn, same text family
            ev("insert", None, 2, j(d[10]), "assistant"),  # keyless, novel → surrogate
            ev("update", "c02", 0, j(d[2]) + " tail"),
        ],
        [
            ev("insert", "c20", 0, _edit(d[1], 39, "zz4")),  # cross-epoch near-dup of c01
            ev("insert", "c21", 0, _edit(d[2], 15, "zz5")),  # mid-doc edit of c02's insert
            ev("insert", "c22", 0, j(d[11])),
            ev("insert", "c23", 0, _edit(d[11], 39, "zz6")),  # in-batch near-dup of c22
            ev("insert", "c24", 0, j(d[12])),
            ev("insert", "c25", 0, j(d[13])),
            ev("update", "c10", 0, j(d[14])),  # dropped key: silenced by the ledger
            ev("update", "c04", 0, j(d[15])),
            ev("delete", "c05", 0, None),
            ev("update", None, 0, j(d[6])),  # keyless, exact text of c06 → adopts
            ev("insert", None, 0, _edit(d[7], 39, "zz7")),  # keyless near-copy of c07
        ],
        [
            ev("insert", "c30", 0, _edit(d[0], 38, "zz8")),  # near-dup of c00 via the index
            ev("insert", "c11", 0, j(d[16])),  # dropped key re-inserted, novel text
            ev("insert", "c31", 0, _edit(d[16], 39, "zz9")),  # in-batch near-dup of c11
            ev("insert", "c32", 0, _edit(d[22], 39, "y1")),
            ev("insert", "c33", 0, _edit(d[22], 38, "y2")),  # in-batch near-dup of c32
            ev("insert", "c34", 0, j(d[17])),
            ev("update", "c34", 0, j(d[18])),  # updates are never signed
            ev("insert", "c35", 0, _edit(d[12], 10, "y3")),  # near-dup of c24
            ev("insert", None, 3, j(d[19])),  # keyless, novel → surrogate
            ev("update", "c22", 0, j(d[20])),
        ],
        [
            ev("insert", "c40", 0, _edit(d[18], 39, "y4")),  # near c34's update: kept
            ev("insert", "c41", 0, _edit(d[17], 39, "y5")),  # near-dup of c34's signed insert
            ev("insert", "c42", 0, _edit(d[15], 39, "y6")),  # near c04's update: kept
            ev("insert", "c43", 0, j(d[21])),
            ev("insert", "c44", 0, _edit(d[21], 0, "y7")),  # in-batch near-dup of c43
            ev("delete", "c20", 0, None),  # delete of a dropped key: silenced
            ev("update", "c01", 0, j(d[23])),
            ev("insert", None, 2, j(d[10])),  # keyless, same text as the surrogate's
            ev("insert", "c45", 0, _edit(d[13], 39, "y8")),  # near-dup of c25
        ],
    ]
    os.makedirs(path)
    for i, rows in enumerate(epochs):
        df = pd.DataFrame(rows, columns=_COLS)
        df["turn_idx"] = df["turn_idx"].astype("int32")
        df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
        for c in ("conv_id", "text", "tool"):
            df[c] = pd.array(df[c], dtype="string")
        p = os.path.join(path, f"b{i}.parquet")
        df.to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return path


def _checksum(df) -> tuple[int, int]:
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("x")
    ).collect()[0]
    return int(r.n), int(r.x or 0)


def _pipeline(spark, log: str, root: str) -> tuple[CdcPipeline, LshDedupIndex]:
    table = SnapshotTable(spark, f"{root}/table", n_buckets=4, mode="mor")
    dedup = LshDedupIndex(spark, f"{root}/dedup", n_buckets=4)
    pipe = CdcPipeline(
        spark,
        log,
        table,
        f"{root}/ckpt",
        reduce_strategy="agg",
        dedup_index=dedup,
        resolve_keyless=True,
        keyless_index=KeylessFeatureIndex(spark, f"{root}/keyless", n_buckets=4),
    )
    return pipe, dedup


def _state(pipe: CdcPipeline, dedup: LshDedupIndex) -> tuple:
    return (
        _checksum(pipe.table.read()),
        _checksum(dedup.dropped_keys()),
        _checksum(dedup.existing_sigs()),
    )


def _side_threads() -> list[str]:
    return [t.name for t in threading.enumerate() if t.name.startswith(SIDE_THREAD_PREFIX)]


@pytest.fixture(scope="module")
def clean_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("side_worker")
    log = _planted_log(str(root / "binlog"))
    pipe, dedup = _pipeline(spark, log, str(root / "clean"))
    metrics = pipe.run_until_idle()
    return {
        "root": root,
        "log": log,
        "metrics": metrics,
        "state": _state(pipe, dedup),
        "side_threads": _side_threads(),
    }


def test_neardup_heavy_run_matches_the_serial_pipeline(clean_run):
    assert [m["epoch_id"] for m in clean_run["metrics"]] == [0, 1, 2, 3]
    assert [m["n_deduped"] for m in clean_run["metrics"]] == [3, 3, 5, 4]
    assert clean_run["state"] == SERIAL_STATE


def test_no_side_thread_alive_after_run_until_idle(clean_run):
    assert clean_run["side_threads"] == []


def test_failed_dedup_commit_surfaces_after_side_work_and_restart_heals(
    spark, clean_run, monkeypatch
):
    """``add`` raises once, slowly, on epoch 1: the epoch fails only
    after the commit ended (the join runs in a ``finally``), the
    streaming checkpoint does not record it, and a restart on the same
    checkpoint re-delivers it — the table's ledger skips the merge and
    the decision re-runs against an index without epoch 1 — so the run
    ends exactly where a clean run does."""
    real_add = LshDedupIndex.add
    seen: dict[str, float] = {}

    def flaky_add(self, new_sigs, epoch_id, dropped=None):
        if epoch_id == 1 and "ended" not in seen:
            time.sleep(1.0)
            seen["ended"] = time.monotonic()
            raise RuntimeError("injected dedup commit failure")
        return real_add(self, new_sigs, epoch_id, dropped=dropped)

    real_apply = CdcPipeline._apply_batch

    def watched_apply(self, batch, epoch_id):
        try:
            return real_apply(self, batch, epoch_id)
        except BaseException:
            seen.setdefault("raised", time.monotonic())
            raise

    monkeypatch.setattr(LshDedupIndex, "add", flaky_add)
    monkeypatch.setattr(CdcPipeline, "_apply_batch", watched_apply)
    root = str(clean_run["root"] / "flaky")
    pipe, _ = _pipeline(spark, clean_run["log"], root)
    with pytest.raises(Exception, match="injected dedup commit failure"):
        pipe.run_until_idle()
    assert seen["raised"] >= seen["ended"]
    assert [m["epoch_id"] for m in pipe.metrics] == [0]
    assert _side_threads() == []

    monkeypatch.undo()
    pipe, dedup = _pipeline(spark, clean_run["log"], root)
    metrics = pipe.run_until_idle()
    assert [m["epoch_id"] for m in metrics] == [1, 2, 3]
    assert _state(pipe, dedup) == clean_run["state"]
