"""EVERYTHING-ON composition: one pipeline running the persistent
keyless feature index, the incremental LSH dedup index and
multi-source convergence over MOR tables with ASYNC compaction —
then driven through a planned restart (new binlog files land
between runs) and a full checkpoint-loss re-delivery (every epoch
re-consumed under its committed id), asserting the final table AND
the keyless index converge bit-identically with a clean single run.

Two variants complete the matrix: ``mor`` (async-compacted MOR main
table, no policies — the 10^10-event scale shape; per-column
policies require COW and the sink rejects the combination loudly)
and ``cow`` (COW main table + a ``fill_empty`` tool policy — the
read-modify merge shape). The keyless index's backing table is
MOR + async compaction in both.

The re-delivery leg is the interesting one: replayed epochs run
against a FUTURE index state (e.g. the epoch-1 keyless probe no
longer finds its original match because a later epoch deleted it, so
the resolver mints a different surrogate on replay) — every such
divergence must be swallowed by the epoch ledgers (main table AND
index table) and by the dedup index's idempotent epoch directories,
never by luck.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from kahi_spark.sinks.dedup_index import LshDedupIndex
from kahi_spark.sinks.keyless_index import KeylessFeatureIndex
from kahi_spark.sinks.snapshot import SnapshotTable
from kahi_spark.streaming.pipeline import CdcPipeline

from tests.test_dedup_index import _BASE, _NEARDUP, _OTHER

_THIRD = (
    "every evening the observatory logged a fresh stream of telescope frames "
    "while the scheduler assigned reducers to fold raw photon counts into "
    "calibrated mosaics and the archive service replicated finished tiles "
    "across regions for astronomers to query tomorrow morning"
)
# one-word edit of a ~40-word doc → word-3gram jaccard ≈ 0.79:
# below HIGH (0.85), above MID (0.65) → resolves only WITH role match
_THIRD_PROBE = _THIRD.replace("telescope frames", "telescope images")

_T0 = 1_704_067_200


def _pdf(rows):
    df = pd.DataFrame(
        rows,
        columns=["seq", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "source"],
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"], unit="s").astype("datetime64[us]")
    for c in ("conv_id", "text", "tool"):
        df[c] = pd.array(df[c], dtype="string")
    return df


#: four single-file epochs (max_files_per_trigger=1 keeps the
#: file→epoch mapping deterministic across re-delivery)
_EPOCH_FILES = [
    # e0: (a1,0) described by two sources — lens has text, wos the
    # tool — plus an unrelated (a2,5)
    [
        (0, "insert", "a1", 0, "USER", _BASE, None, _T0 + 0, "lens"),
        (1, "insert", "a1", 0, "human", _BASE, "search", _T0 + 1, "wos"),
        (2, "insert", "a2", 5, "ai", _OTHER, None, _T0 + 2, "lens"),
    ],
    # e1: keyless exact-text probe adopts a2; near-dup insert zz is
    # dropped by the dedup index and ledgered
    [
        (10, "update", None, 5, "ai", _OTHER, "sql", _T0 + 10, "lens"),
        (11, "insert", "zz", 3, "ai", _NEARDUP, None, _T0 + 11, "lens"),
    ],
    # e2: a1's text rewritten (the keyless index must serve the NEW
    # text from now on); an unrelated new conversation lands
    [
        (20, "update", "a1", 0, "USER", _THIRD, None, _T0 + 20, "lens"),
        (21, "insert", "a3", 1, "ai", "short and unrelated reply text", None, _T0 + 21, "lens"),
    ],
    # e3: a2 deleted (index must drop it); a late update to the
    # DEDUPED key zz must stay suppressed by the dropped-key ledger;
    # a keyless probe of a1's REWRITTEN text must adopt a1 via the
    # index (mid-threshold, so the role match is load-bearing)
    [
        (30, "delete", "a2", 5, "ai", "", None, _T0 + 30, "lens"),
        (31, "update", "zz", 3, "ai", _NEARDUP + " extended", None, _T0 + 31, "lens"),
        (32, "update", None, 0, "human", _THIRD_PROBE, None, _T0 + 32, "wos"),
    ],
]


def _write_epochs(d: str, upto: int) -> None:
    os.makedirs(d, exist_ok=True)
    for i in range(upto):
        p = os.path.join(d, f"b{i}.parquet")
        if not os.path.exists(p):
            _pdf(_EPOCH_FILES[i]).to_parquet(p, index=False)


def _build(spark, root: str, binlog: str, mode: str) -> CdcPipeline:
    if mode == "mor":
        table = SnapshotTable(
            spark, os.path.join(root, "t"), n_buckets=2, mode="mor",
            compact_every=2, compact_async=True,
        )
        policies = None
    else:
        table = SnapshotTable(spark, os.path.join(root, "t"), n_buckets=2, mode="cow")
        policies = {"tool": "fill_empty"}
    kidx = KeylessFeatureIndex(
        spark, os.path.join(root, "kidx"), n_buckets=2,
        compact_every=2, compact_async=True,
    )
    didx = LshDedupIndex(spark, os.path.join(root, "didx"), threshold=0.8)
    return CdcPipeline(
        spark,
        binlog,
        table,
        os.path.join(root, "ck"),
        max_files_per_trigger=1,
        reduce_strategy="agg",  # map-side-combining max_by reduce
        resolve_keyless=True,
        keyless_index=kidx,
        dedup_index=didx,
        converge_sources=("lens", "wos"),
        policies=policies,
    )


_STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def _state(table) -> list[tuple]:
    return sorted(tuple(r) for r in table.read().select(*_STATE_COLS).collect())


def _feats(kidx) -> list[tuple]:
    df = kidx.features()
    cols = ["conv_id", "turn_idx"] + sorted(
        c for c in df.columns if c not in ("conv_id", "turn_idx")
    )
    return sorted(
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in df.select(*cols).collect()
    )


import pytest


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_everything_on_crash_resume_replay_matches_clean_run(spark, tmp_path, mode):
    # ---- clean single run: all four epochs in one go --------------------
    clean_log = str(tmp_path / "log-clean")
    _write_epochs(clean_log, 4)
    clean = _build(spark, str(tmp_path / "clean"), clean_log, mode)
    clean_metrics = clean.run_until_idle(timeout_s=240)
    want_state, want_feats = _state(clean.table), _feats(clean.keyless_index)

    # semantic spot checks on the clean run, so the A/B compare below
    # can't vacuously pass on a mutually-wrong state
    by_key = {(r[0], r[1]): r for r in want_state}
    assert set(by_key) == {("a1", 0), ("a3", 1)}  # a2 deleted, zz deduped
    a1 = by_key[("a1", 0)]
    assert a1[3] == _THIRD_PROBE  # keyless e3 probe adopted a1 and won LWW
    if mode == "cow":
        # fill_empty kept e0's wos tool through e2/e3's NULL-tool updates
        assert a1[4] == "search"
    else:
        # e0's converged record took the wos tool; e2's whole-row LWW
        # update (tool NULL, no fill policy on a MOR table) replaced it
        assert a1[4] is None
    assert sum(m["n_deduped"] for m in clean_metrics) >= 1  # zz dropped
    # the index mirrors live state exactly: a1 (rewritten+probed) + a3
    assert {(r[0], r[1]) for r in want_feats} == {("a1", 0), ("a3", 1)}

    # ---- run B: restart mid-log, then lose the checkpoint ---------------
    b_log = str(tmp_path / "log-b")
    b_root = str(tmp_path / "b")
    _write_epochs(b_log, 2)
    _build(spark, b_root, b_log, mode).run_until_idle(timeout_s=240)  # epochs 0-1

    # planned restart: two more epoch files land, a NEW pipeline object
    # resumes from the same checkpoint (epochs 2-3 only)
    _write_epochs(b_log, 4)
    _build(spark, b_root, b_log, mode).run_until_idle(timeout_s=240)
    assert _state(_build(spark, b_root, b_log, mode).table) == want_state

    # checkpoint loss: every epoch re-delivered under its committed id.
    # Replayed epochs now resolve against FUTURE index state (the e1
    # probe's match a2 is deleted → a surrogate is minted in-flight),
    # but both epoch ledgers and the dedup index's idempotent epoch
    # directories must discard all of it.
    shutil.rmtree(os.path.join(b_root, "ck"))
    replay = _build(spark, b_root, b_log, mode)
    replay_metrics = replay.run_until_idle(timeout_s=240)
    assert all(m["applied"] is False for m in replay_metrics), replay_metrics

    assert _state(replay.table) == want_state
    assert _feats(replay.keyless_index) == want_feats
    # the dedup ledger survived replay: zz still suppressed
    assert not replay.table.read().filter(F.col("conv_id") == "zz").count()
