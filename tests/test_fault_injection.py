"""Fault injection: a crash between a write's versioned dir and the
atomic manifest swap must leave the table readable at the OLD version
and the retried write must apply exactly once (SURVEY.md §7 "What's
hard" #1)."""

from __future__ import annotations

import datetime as dt
import os
import re

import pytest

from kahi_spark.schema import EVENT_SCHEMA
from kahi_spark.sinks.snapshot import SnapshotTable


def ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def ev(seq, op, conv, turn, text, t):
    return (seq, op, conv, turn, "user", text, None, ts(t), "lens")


def _leftovers(t: SnapshotTable) -> list[str]:
    """Dirs no finished write may leave behind: temp dirs, and
    versioned dirs the manifest does not reference."""
    m = t._read_manifest()
    live = {m["snapshot"], *m["deltas"], *m["trash"]}
    live.update(f"v{v:08d}" for v in m["snapshot_log"])
    return sorted(
        e.name
        for e in os.scandir(t.path)
        if e.is_dir()
        and (e.name.startswith("_") or (re.fullmatch(r"(v|d|dm)\d{8}", e.name) and e.name not in live))
    )


#: writer → (table mode, prefix of the versioned dir it publishes,
#: prefix of its temp dir)
WRITERS = {
    "cow": ("cow", "v", "_merge_out_"),
    "mor": ("mor", "d", "_merge_out_"),
    "compact_minor": ("mor", "dm", "_minor_out_"),
    "compact": ("mor", "v", "_compact_out_"),
}


@pytest.mark.parametrize("writer", list(WRITERS))
def test_crash_before_manifest_swap_then_retry(spark, tmp_path, writer, monkeypatch):
    """Every writer — COW merge, MOR delta merge, minor fold, major
    fold — crashes after its versioned dir lands but before the
    manifest swap: the old state reads back, the leftover is
    invisible, the retry applies once, and the next write of that
    kind leaves nothing behind."""
    mode, prefix, temp = WRITERS[writer]
    t = SnapshotTable(spark, str(tmp_path / f"t-{writer}"), n_buckets=2, mode=mode, compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "v1", 0)], EVENT_SCHEMA), epoch_id=0)
    batch = spark.createDataFrame([ev(1, "update", "c1", 0, "v2", 10)], EVENT_SCHEMA)
    if writer in ("cow", "mor"):
        def write():
            return t.merge(batch, epoch_id=1)
    else:
        t.merge(batch, epoch_id=1)  # two deltas to fold
        write = getattr(t, writer)
    before_manifest = t._read_manifest()
    before = [r.text for r in t.read().collect()]

    # crash AFTER the versioned dir lands but BEFORE the manifest swap
    real_commit = SnapshotTable._commit_manifest
    calls = {"n": 0}

    def crashing(self, manifest):
        calls["n"] += 1
        raise OSError("simulated crash before manifest swap")

    monkeypatch.setattr(SnapshotTable, "_commit_manifest", crashing)
    with pytest.raises(OSError):
        write()
    assert calls["n"] == 1
    monkeypatch.setattr(SnapshotTable, "_commit_manifest", real_commit)

    # the table still reads the OLD committed state (snapshot
    # isolation); the renamed, never-committed dir is invisible
    assert t._read_manifest() == before_manifest
    assert [r.text for r in t.read().collect()] == before
    assert _leftovers(t) == [f"{prefix}{before_manifest['version'] + 1:08d}"]

    # the retry applies exactly once
    if writer in ("cow", "mor"):
        assert t.committed_epochs() == {0}
        assert write() is True
        assert write() is False  # a second retry is the ledger no-op
    else:
        write()
        m = t._read_manifest()
        op = {"compact_minor": "compact-minor", "compact": "compact"}[writer]
        assert sum(c["op"] == op for c in t.history()) == 1
        assert m["deltas"] == ([f"dm{m['version']:08d}"] if writer == "compact_minor" else [])
    assert [r.text for r in t.read().collect()] == ["v2"]
    assert t.committed_epochs() == {0, 1}

    # the next write of that kind leaves no leftovers, including a
    # temp dir an earlier write of that kind crashed in
    os.makedirs(os.path.join(t.path, f"{temp}deadbeef"))
    for e in (2, 3):
        t.merge(spark.createDataFrame([ev(e, "insert", f"c{e}", 0, "x", e)], EVENT_SCHEMA), epoch_id=e)
    if writer not in ("cow", "mor"):
        write()
    assert _leftovers(t) == []
    assert sorted(r.conv_id for r in t.read().collect()) == ["c1", "c2", "c3"]


def test_process_kill_mid_async_fold_then_restart(spark, tmp_path):
    """Kill the WHOLE process while a background (compact_async) fold
    is in flight, then reopen the table from another process: every
    committed epoch must read back, replay must no-op, and the next
    fold must sweep whatever the dead fold left behind."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    from pyspark.sql import functions as F

    from kahi_spark.gen import make_events

    path = str(tmp_path / "t")
    child = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath("tests")))!r})
        sys.path.insert(0, "/root/repo")
        from kahi_spark import get_spark
        from kahi_spark.gen import make_events
        from kahi_spark.sinks.snapshot import SnapshotTable
        spark = get_spark(master="local[4]", shuffle_partitions=4)
        pdf = make_events(60000, n_convs=400, seed=77)
        df = spark.createDataFrame(pdf)
        t = SnapshotTable(spark, {path!r}, n_buckets=4, mode="mor",
                          compact_every=2, compact_async=True)
        t.merge(df.filter(df.seq < 30000), epoch_id=0)
        t.merge(df.filter(df.seq >= 30000), epoch_id=1)  # triggers async fold
        # die while the fold is (very likely) mid-flight — a hard
        # process exit, no cleanup, no thread join
        print("CHILD_COMMITTED")
        sys.stdout.flush()
        os._exit(1)
    """)
    res = subprocess.run([sys.executable, "-c", child], capture_output=True, text=True)
    assert "CHILD_COMMITTED" in res.stdout, res.stderr[-2000:]

    # reopen in THIS process: both epochs committed and readable
    t = SnapshotTable(spark, path, n_buckets=4, mode="mor", compact_every=2)
    assert t.committed_epochs() == {0, 1}
    pdf = make_events(60000, n_convs=400, seed=77)
    expect = (
        pdf.sort_values(["ts", "seq"])
        .groupby(["conv_id", "turn_idx"])
        .tail(1)
    )
    expect = expect[expect.op != "delete"]
    assert t.read().count() == len(expect)
    # replay of a committed epoch no-ops
    df = spark.createDataFrame(pdf)
    assert t.merge(df.filter(F.col("seq") < 30000), epoch_id=0) is False
    # a fresh merge + fold works and sweeps any dead-fold leftovers
    extra = spark.createDataFrame(
        [(200000, "insert", "zz", 0, "user", "post-crash", None,
          pdf["ts"].max().to_pydatetime(), "lens")],
        df.schema,
    )
    assert t.merge(extra, epoch_id=2) is True
    t.compact()
    leftovers = [
        e.name for e in os.scandir(path)
        if e.name.startswith("_compact_winners_") or e.name.startswith("_compact_out_")
    ]
    assert leftovers == []
    assert t.read().filter(F.col("conv_id") == "zz").count() == 1
