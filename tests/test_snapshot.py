"""Snapshot table: MERGE semantics, snapshot isolation, exactly-once
epoch ledger, schema evolution, lineage/metrics (SURVEY.md S8/S9/§4)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kahi_spark.schema import EVENT_SCHEMA
from kahi_spark.sinks.snapshot import SnapshotTable


def ts(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def ev(seq, op, conv, turn, text, t, role="user", tool=None, source="lens"):
    return (seq, op, conv, turn, role, text, tool, ts(t), source)


def events_df(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def test_merge_upsert_delete_cycle(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
    assert not t.exists()
    t.merge(events_df(spark, [ev(0, "insert", "c1", 0, "a", 0),
                              ev(1, "insert", "c1", 1, "b", 1)]), epoch_id=0)
    assert t.exists()
    assert t.read().count() == 2

    # update + delete + insert in one epoch
    t.merge(events_df(spark, [ev(2, "update", "c1", 0, "a2", 10),
                              ev(3, "delete", "c1", 1, None, 11),
                              ev(4, "insert", "c2", 0, "c", 12)]), epoch_id=1)
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert got == {("c1", 0): "a2", ("c2", 0): "c"}


def test_epoch_ledger_exactly_once(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, n_buckets=2)
    batch = events_df(spark, [ev(0, "insert", "c1", 0, "a", 0)])
    assert t.merge(batch, epoch_id=7) is True
    # replay of the same epoch (foreachBatch retry) must no-op
    poison = events_df(spark, [ev(9, "update", "c1", 0, "POISON", 99)])
    assert t.merge(poison, epoch_id=7) is False
    assert t.read().collect()[0].text == "a"
    assert t.committed_epochs() == {7}


def test_snapshot_isolation_reader_sees_old_version(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, n_buckets=2)
    t.merge(events_df(spark, [ev(0, "insert", "c1", 0, "v1", 0)]), epoch_id=0)
    reader = t.read()  # bound to snapshot v1
    t.merge(events_df(spark, [ev(1, "update", "c1", 0, "v2", 1)]), epoch_id=1)
    assert reader.collect()[0].text == "v1"  # old snapshot still readable
    assert t.read().collect()[0].text == "v2"


def test_cow_keeps_the_last_snapshots_for_time_travel(spark, tmp_table_dir):
    """A COW table keeps the last ``SNAPSHOTS_KEPT`` base snapshots on
    disk as time-travel targets; each commit sweeps older ones."""
    import os

    import pytest

    t = SnapshotTable(spark, tmp_table_dir, n_buckets=2)
    for e in range(6):
        t.merge(events_df(spark, [ev(e, "update", "c1", 0, f"v{e}", e)]), epoch_id=e)
    on_disk = sorted(d for d in os.listdir(tmp_table_dir) if d.startswith("v"))
    assert on_disk == [f"v{v:08d}" for v in range(3, 7)]
    assert t.read(version=3).collect()[0].text == "v2"
    with pytest.raises(FileNotFoundError, match="expired"):
        t.read(version=2)


def test_schema_evolution_add_column(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, n_buckets=2)
    t.merge(events_df(spark, [ev(0, "insert", "c1", 0, "a", 0)]), epoch_id=0)
    evolved = events_df(spark, [ev(1, "insert", "c2", 0, "b", 1)]).withColumn(
        "meta", F.lit("m1")
    )
    t.merge(evolved, epoch_id=1)
    out = t.read()
    assert "meta" in out.columns
    got = {r.conv_id: r.meta for r in out.collect()}
    assert got == {"c1": None, "c2": "m1"}  # old rows read as NULL
    assert t.history()[-1]["added_columns"] == ["meta"]


def test_lineage_and_watermark_recorded(spark, tmp_table_dir):
    t = SnapshotTable(spark, tmp_table_dir, n_buckets=2)
    t.merge(events_df(spark, [ev(0, "insert", "c1", 0, "a", 5)]), epoch_id=0)
    h = t.history()
    assert h[-1]["epoch_id"] == 0
    assert "2024-01-01 00:00:05" in h[-1]["watermark"]


def test_commit_history_spills_to_archive(spark, tmp_table_dir):
    """The hot manifest keeps only COMMITS_HOT recent commit records;
    older ones spill to the append-only archive and history() still
    returns the full, ordered, deduped log."""
    t = SnapshotTable(spark, tmp_table_dir, n_buckets=2, mode="mor", compact_every=10**9)
    t.COMMITS_HOT = 3
    for e in range(6):
        t.merge(events_df(spark, [ev(e, "insert", f"c{e}", 0, f"t{e}", e)]), epoch_id=e)
    h = t.history()
    assert [c["epoch_id"] for c in h] == [0, 1, 2, 3, 4, 5]
    assert len(t._read_manifest()["commits"]) <= 3
    import os

    assert os.path.exists(f"{tmp_table_dir}/_commits_archive.jsonl")
    # exactly-once survives archival: replaying an ARCHIVED epoch no-ops
    assert t.merge(events_df(spark, [ev(99, "update", "c0", 0, "POISON", 99)]), epoch_id=0) is False


def test_epoch_ledger_floor_compaction(spark, tmp_table_dir):
    """A contiguous committed prefix folds into epoch_floor once the
    ledger outgrows EPOCHS_HOT — exactly-once and committed_epochs()
    are unchanged while the hot ledger stays O(gaps)."""
    t = SnapshotTable(spark, tmp_table_dir, n_buckets=2, mode="mor", compact_every=10**9)
    t.EPOCHS_HOT = 3
    for e in range(6):
        t.merge(events_df(spark, [ev(e, "insert", f"c{e}", 0, f"t{e}", e)]), epoch_id=e)
    m = t._read_manifest()
    # compaction fires when the ledger exceeds the cap (epoch 3's
    # commit folds 0..3); later epochs sit in the dict until the next
    # overflow
    assert m["epoch_floor"] >= 3 and len(m["epochs"]) <= 2
    assert t.committed_epochs() == set(range(6))
    # floor-covered epochs still replay as no-ops
    assert t.merge(events_df(spark, [ev(99, "update", "c0", 0, "POISON", 99)]), epoch_id=2) is False
    assert t.merge(events_df(spark, [ev(100, "insert", "c9", 0, "new", 100)]), epoch_id=6) is True


def test_per_file_watermarks_in_manifest(spark, tmp_table_dir):
    """North rule: per-partition watermarks + lineage in the
    checkpoint store — recorded as per-file (rows, ts_max) stats read
    from the written parquet footers, for COW snapshots and MOR
    deltas alike."""
    for mode in ("cow", "mor"):
        t = SnapshotTable(spark, f"{tmp_table_dir}-{mode}", n_buckets=2, mode=mode)
        t.merge(
            events_df(
                spark,
                [ev(0, "insert", "c1", 0, "a", 5), ev(1, "insert", "c2", 0, "b", 9)],
            ),
            epoch_id=0,
        )
        files = t.history()[-1]["files"]
        assert files, mode
        assert sum(f["rows"] for f in files) == 2
        per_file_max = max(f["ts_max"] for f in files if f["ts_max"] is not None)
        assert "2024-01-01 00:00:09" in per_file_max, (mode, files)


def test_lookup_bucket_pruning(spark, tmp_path):
    """Point lookup prunes the base scan to the key's _bucket
    directory (partition filter on the constant-folded hash) and
    returns exactly the live row, honoring deltas and tombstones."""
    from kahi_spark.gen import make_events
    from kahi_spark.sinks.snapshot import SnapshotTable

    pdf = make_events(2000, n_convs=16, seed=9)
    df = spark.createDataFrame(pdf)
    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8, mode="mor", compact_every=100)
    t.merge(df, epoch_id=0)
    t.compact(strategy="bucketed")  # base now in _bucket=k dirs
    # a later delta updating one key
    from pyspark.sql import functions as F

    full = t.read()
    any_row = full.limit(1).collect()[0]
    key = (any_row.conv_id, any_row.turn_idx)
    upd = df.limit(1).select(
        (F.lit(10_000_000)).alias("seq"), F.lit("update").alias("op"),
        F.lit(key[0]).alias("conv_id"), F.lit(key[1]).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"), F.lit("looked-up text").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2030-01-01")).alias("ts"), F.lit("lens").alias("source"),
    )
    t.merge(upd, epoch_id=1)
    got = t.lookup(*key).collect()
    assert len(got) == 1 and got[0].text == "looked-up text"
    # pruning visible in the physical plan: partition filter on _bucket
    import io, contextlib

    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        t.lookup(*key).explain("formatted")
    plan = buf.getvalue()
    # the bucket hash constant-folds: a concrete `(_bucket#N = k)`
    # partition filter proves the scan prunes to ONE directory
    assert re.search(r"PartitionFilters: \[.*\(_bucket#\d+ = \d+\)", plan), plan[:2000]
    # a missing key returns empty, not an error
    assert t.lookup("no-such-conv", 0).count() == 0


def test_reopen_with_different_key_cols_raises(spark, tmp_table_dir):
    """key_cols are table identity (manifest-recorded, ADVICE r4):
    reopening with other keys would silently corrupt merges."""
    import pytest

    t = SnapshotTable(spark, tmp_table_dir, n_buckets=2)
    t.merge(events_df(spark, [ev(0, "insert", "c1", 0, "a", 0)]), epoch_id=0)
    with pytest.raises(ValueError, match="key_cols"):
        SnapshotTable(spark, tmp_table_dir, key_cols=["conv_id"], n_buckets=2)


def test_rebucket_forces_global_fold_and_lookup_uses_recorded_modulus(spark, tmp_path):
    """Reopening with a different n_buckets (rebucketing request,
    ADVICE r4): the next fold must NOT bucket-zip against the
    old-modulus base (zombie duplicates), and point lookups must
    prune with the modulus the base was WRITTEN with until then."""
    from kahi_spark.gen import make_events

    path = str(tmp_path / "rb")
    pdf = make_events(1500, n_convs=12, seed=5)
    df = spark.createDataFrame(pdf)
    t4 = SnapshotTable(spark, path, n_buckets=4, mode="mor", compact_every=100)
    t4.merge(df, epoch_id=0)
    t4.compact(strategy="bucketed")  # base written with modulus 4
    expect = {
        (r.conv_id, r.turn_idx): r.text for r in t4.read().collect()
    }
    some_key = next(iter(expect))

    # reopen with a DIFFERENT modulus
    t8 = SnapshotTable(spark, path, n_buckets=8, mode="mor", compact_every=100)
    # lookup before any fold: must use the recorded modulus (4), not 8
    got = t8.lookup(*some_key).collect()
    assert len(got) == 1 and got[0].text == expect[some_key]
    # an update delta, then an explicitly-requested bucketed fold:
    # the mismatch guard must downgrade it to ONE global fold
    upd = events_df(
        spark,
        [(10_000_000, "update", some_key[0], some_key[1], "user",
          "rebucketed", None, ts(10_000), "lens")],
    )
    t8.merge(upd, epoch_id=1)
    t8.compact(strategy="bucketed")
    folds = [c for c in t8.history() if c["op"] == "compact"]
    assert folds[-1]["strategy"] == "global"
    expect[some_key] = "rebucketed"
    assert {
        (r.conv_id, r.turn_idx): r.text for r in t8.read().collect()
    } == expect
    # the rewrite recorded the new modulus: the NEXT fold is bucketed
    # again and lookups prune with modulus 8
    t8.merge(
        events_df(
            spark,
            [(10_000_001, "update", some_key[0], some_key[1], "user",
              "again", None, ts(10_001), "lens")],
        ),
        epoch_id=2,
    )
    t8.compact(strategy="bucketed")
    assert [c for c in t8.history() if c["op"] == "compact"][-1]["strategy"] == "bucketed"
    assert t8.lookup(*some_key).collect()[0].text == "again"


def test_lookup_typed_literal_on_long_key(spark, tmp_path):
    """ADVICE r4: a Python int literal hashes as IntegerType, but a
    LongType key column's bucket dirs were hashed as bigint —
    un-cast literals prune the wrong directory and lose live rows."""
    t = SnapshotTable(
        spark, str(tmp_path / "lk"), key_cols=["k"], n_buckets=8,
        mode="mor", compact_every=100,
    )
    df = spark.createDataFrame(
        [(i, f"v{i}", "insert", i, ts(i)) for i in range(64)],
        "k long, text string, op string, seq long, ts timestamp",
    )
    t.merge(df, epoch_id=0)
    t.compact(strategy="bucketed")
    for probe in (5, 63):
        got = t.lookup(probe).collect()
        assert len(got) == 1 and got[0].text == f"v{probe}", probe
