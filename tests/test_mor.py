"""Merge-on-read mode: parity with copy-on-write, compaction,
exactly-once, out-of-order safety (SURVEY.md §4.2 scale features)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kahi_spark.gen import make_events
from kahi_spark.schema import EVENT_SCHEMA
from kahi_spark.sinks.snapshot import SnapshotTable


def ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def ev(seq, op, conv, turn, text, t):
    return (seq, op, conv, turn, "user", text, None, ts(t), "lens")


def sorted_state(t):
    return [
        (r.conv_id, r.turn_idx, r.text)
        for r in t.read().orderBy("conv_id", "turn_idx").collect()
    ]


def test_mor_matches_cow_over_many_epochs(spark, tmp_path):
    pdf = make_events(3000, n_convs=20, seed=21)
    df = spark.createDataFrame(pdf)
    cow = SnapshotTable(spark, str(tmp_path / "cow"), n_buckets=4, mode="cow")
    mor = SnapshotTable(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor", compact_every=3)
    per = 500
    for e in range(6):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        cow.merge(batch, epoch_id=e)
        mor.merge(batch, epoch_id=e)
    assert sorted_state(cow) == sorted_state(mor)
    # compaction actually happened (6 epochs / compact_every=3 → ≥2 compacts)
    ops = [c["op"] for c in mor.history()]
    assert ops.count("compact") >= 2


def test_mor_exactly_once_and_out_of_order(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2, mode="mor", compact_every=100)
    b1 = spark.createDataFrame([ev(0, "insert", "c1", 0, "new", 100)], EVENT_SCHEMA)
    assert t.merge(b1, epoch_id=0) is True
    assert t.merge(b1, epoch_id=0) is False  # ledger no-op
    # later epoch, OLDER event: must lose against delta from epoch 0
    b2 = spark.createDataFrame([ev(1, "update", "c1", 0, "stale", 5)], EVENT_SCHEMA)
    t.merge(b2, epoch_id=1)
    assert sorted_state(t) == [("c1", 0, "new")]
    # delete tombstone wins over older zombie insert delivered later
    b3 = spark.createDataFrame([ev(2, "delete", "c1", 0, None, 200)], EVENT_SCHEMA)
    t.merge(b3, epoch_id=2)
    b4 = spark.createDataFrame([ev(3, "insert", "c1", 0, "zombie", 150)], EVENT_SCHEMA)
    t.merge(b4, epoch_id=3)
    assert sorted_state(t) == []
    # compaction preserves the tombstone semantics
    t.compact()
    assert sorted_state(t) == []


def test_mor_schema_evolution_via_union(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t2"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 1)], EVENT_SCHEMA), epoch_id=0)
    evolved = spark.createDataFrame([ev(1, "insert", "c2", 0, "b", 2)], EVENT_SCHEMA).withColumn(
        "meta", F.lit("m")
    )
    t.merge(evolved, epoch_id=1)
    out = t.read()
    assert "meta" in out.columns
    got = {r.conv_id: r.meta for r in out.collect()}
    assert got == {"c1": None, "c2": "m"}
    # a later delta without the column: the table schema keeps it,
    # through the minor fold too
    t.merge(spark.createDataFrame([ev(2, "insert", "c3", 0, "c", 3)], EVENT_SCHEMA), epoch_id=2)
    got = {r.conv_id: r.meta for r in t.read().collect()}
    assert got == {"c1": None, "c2": "m", "c3": None}
    t.compact_minor()
    assert {r.conv_id: r.meta for r in t.read().collect()} == got
    t.compact()
    got2 = {r.conv_id: r.meta for r in t.read().collect()}
    assert got2 == got
    # a column that first arrives all-NULL (NullType) takes the type of
    # the first batch that fills it, across bucketed and minor folds
    def merge_tagged(e, conv, tag):
        batch = spark.createDataFrame([ev(e, "insert", conv, 0, "d", e + 1)], EVENT_SCHEMA)
        t.merge(batch.withColumn("tag", tag), epoch_id=e)

    def tags():
        return {r.conv_id: r.tag for r in t.read().collect()}

    merge_tagged(3, "c4", F.lit(None))
    t.compact(strategy="bucketed")
    assert tags() == {"c1": None, "c2": None, "c3": None, "c4": None}
    merge_tagged(4, "c5", F.lit("t"))
    merge_tagged(5, "c6", F.lit(None))
    want = {"c1": None, "c2": None, "c3": None, "c4": None, "c5": "t", "c6": None}
    for fold in (t.compact_minor, lambda: t.compact(strategy="bucketed")):
        assert tags() == want
        fold()
    assert tags() == want


def test_bucketed_compaction_parity_with_global(spark, tmp_path):
    """The incremental (bucket-zipped, Arrow) fold must produce the
    same table as the global window fold — same live rows, same
    tombstone handling, same evolved columns — and must never
    reshuffle the base (asserted indirectly: part-file count stays
    n_buckets-bounded and a second incremental fold on top of the
    first base still agrees)."""
    pdf = make_events(4000, n_convs=30, seed=33)
    df = spark.createDataFrame(pdf)
    a = SnapshotTable(spark, str(tmp_path / "ga"), n_buckets=4, mode="mor", compact_every=100)
    b = SnapshotTable(spark, str(tmp_path / "gb"), n_buckets=4, mode="mor", compact_every=100)
    per = 1000
    for e in range(4):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        if e == 3:  # evolution inside the folded deltas
            batch = batch.withColumn("meta", F.lit(f"m{e}"))
        a.merge(batch, epoch_id=e)
        b.merge(batch, epoch_id=e)
        if e == 1:  # two-stage fold: second compact folds ONTO a base
            a.compact(strategy="global")
            b.compact(strategy="bucketed")
    a.compact(strategy="global")
    b.compact(strategy="bucketed")
    rows_a = [
        tuple(r) for r in a.read().orderBy("conv_id", "turn_idx").collect()
    ]
    rows_b = [
        tuple(r) for r in b.read().orderBy("conv_id", "turn_idx").collect()
    ]
    assert sorted(a.read().columns) == sorted(b.read().columns)
    assert rows_a == rows_b
    strategies = [c.get("strategy") for c in b.history() if c["op"] == "compact"]
    assert strategies == ["bucketed", "bucketed"]


def test_bucketed_compaction_tombstones_and_replay(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tb"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "x", 10)], EVENT_SCHEMA), epoch_id=0)
    t.merge(spark.createDataFrame([ev(1, "delete", "c1", 0, None, 20)], EVENT_SCHEMA), epoch_id=1)
    t.merge(spark.createDataFrame([ev(2, "insert", "c2", 0, "y", 30)], EVENT_SCHEMA), epoch_id=2)
    t.compact(strategy="bucketed")
    assert sorted_state(t) == [("c2", 0, "y")]
    # tombstone must still block an older zombie AFTER the fold
    t.merge(spark.createDataFrame([ev(3, "insert", "c1", 0, "zombie", 15)], EVENT_SCHEMA), epoch_id=3)
    assert sorted_state(t) == [("c2", 0, "y")]
    t.compact(strategy="bucketed")
    assert sorted_state(t) == [("c2", 0, "y")]


def test_compact_sweeps_orphaned_winners_dirs(spark, tmp_path):
    """A crash between the winners write and its cleanup leaves an
    unreferenced _compact_winners_* dir; the next compact sweeps it."""
    import os

    pdf = make_events(600, n_convs=6, seed=3)
    df = spark.createDataFrame(pdf)
    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(df, epoch_id=0)
    orphan = str(tmp_path / "t" / "_compact_winners_99999999")
    os.makedirs(orphan)
    # a crash between the fold's temp-output write and the rename
    # leaves a _compact_out_* dir — swept by the same pass
    orphan_out = str(tmp_path / "t" / "_compact_out_deadbeef")
    os.makedirs(orphan_out)
    before = sorted(t.read().orderBy("conv_id", "turn_idx").collect())
    t.compact(strategy="bucketed")
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan_out)
    assert sorted(t.read().orderBy("conv_id", "turn_idx").collect()) == before


def test_bucketed_fold_preserves_big_int64_with_nulls(spark, tmp_path):
    """ADVICE r4: the pandas fold converted int64-with-null columns
    to float64, silently corrupting values above 2^53. The Arrow
    fold must keep them bit-exact — exercised through schema
    evolution (epoch-0 rows read the added bigint column as NULL)."""
    big = (1 << 60) + 7  # not representable in float64
    t = SnapshotTable(spark, str(tmp_path / "bi"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "x", 10)], EVENT_SCHEMA), epoch_id=0)
    evolved = spark.createDataFrame(
        [ev(1, "insert", "c2", 0, "y", 20)], EVENT_SCHEMA
    ).withColumn("fp", F.lit(big).cast("long"))
    t.merge(evolved, epoch_id=1)
    t.compact(strategy="bucketed")
    got = {r.conv_id: r.fp for r in t.read().collect()}
    assert got == {"c1": None, "c2": big}
    # and through a SECOND fold (base now carries the nullable bigint)
    t.merge(spark.createDataFrame([ev(2, "insert", "c3", 0, "z", 30)], EVENT_SCHEMA), epoch_id=2)
    t.compact(strategy="bucketed")
    got = {r.conv_id: r.fp for r in t.read().collect()}
    assert got == {"c1": None, "c2": big, "c3": None}


def test_async_compaction_parity_and_overlap(spark, tmp_path):
    """compact_async=True: the fold runs in a background thread while
    later epochs append (VERDICT r4 #2). Final state must equal the
    synchronous table's; folded dirs are trash-deferred one cycle so
    in-flight reader plans never lose files."""
    pdf = make_events(6000, n_convs=30, seed=44)
    df = spark.createDataFrame(pdf)
    sync = SnapshotTable(spark, str(tmp_path / "sy"), n_buckets=4, mode="mor", compact_every=3)
    asyn = SnapshotTable(
        spark, str(tmp_path / "as"), n_buckets=4, mode="mor", compact_every=3,
        compact_async=True,
    )
    per = 500
    for e in range(12):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        sync.merge(batch, epoch_id=e)
        asyn.merge(batch, epoch_id=e)
    asyn.wait_for_compaction()
    assert sorted_state(sync) == sorted_state(asyn)
    # folds actually ran in the async table
    assert any(c["op"] == "compact" for c in asyn.history())
    # deltas stay bounded (folded sets leave the manifest)
    assert len(asyn._read_manifest()["deltas"]) < 12
    # replay exactly-once still holds after background folds
    assert asyn.merge(df.limit(1), epoch_id=3) is False


def test_async_compaction_failure_surfaces(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "fx"), n_buckets=2, mode="mor", compact_every=1,
        compact_async=True,
    )

    def boom(strategy="auto"):
        raise RuntimeError("fold exploded")

    t._compact_once = boom
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 0)], EVENT_SCHEMA), epoch_id=0)
    t._compact_thread.join()
    import pytest

    with pytest.raises(RuntimeError, match="background compaction failed"):
        t.merge(
            spark.createDataFrame([ev(1, "insert", "c1", 1, "b", 1)], EVENT_SCHEMA),
            epoch_id=1,
        )


def test_fold_io_helpers_accept_uris(spark, tmp_path):
    """VERDICT r4 #4: every byte the bucketed fold reads goes through
    pyarrow.fs URIs — file:// locally, s3:// etc. on a cluster. The
    parity/fuzz tests exercise the full fold; this pins the helper
    contract directly."""
    from kahi_spark.sinks.snapshot import _bucket_parquet_files, _to_uri

    assert _to_uri("s3://bucket/t") == "s3://bucket/t"  # scheme passthrough
    assert _to_uri(str(tmp_path)).startswith("file://")
    t = SnapshotTable(spark, str(tmp_path / "u"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(i, "insert", f"c{i}", 0, "x", i) for i in range(8)], EVENT_SCHEMA), epoch_id=0)
    t.compact(strategy="bucketed")
    snap = t._read_manifest()["snapshot"]
    files = _bucket_parquet_files(_to_uri(str(tmp_path / "u" / snap)))
    assert files and all(isinstance(k, int) for k in files)
    assert sum(len(v) for v in files.values()) >= 1
    # empty / missing URIs are harmless
    assert _bucket_parquet_files(None) == {}
    assert _bucket_parquet_files(_to_uri(str(tmp_path / "nope"))) == {}


def test_compact_overwrites_crash_leftover_version_dir(spark, tmp_path):
    """A crash AFTER the fold's rename but BEFORE the manifest commit
    leaves an unreferenced v-dir at the version the next fold will
    claim — the swap must replace it, not fail."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 0)], EVENT_SCHEMA), epoch_id=0)
    v = t._read_manifest()["version"]
    leftover = str(tmp_path / "t" / f"v{v + 1:08d}")
    os.makedirs(os.path.join(leftover, "_bucket=0"))
    with open(os.path.join(leftover, "_bucket=0", "junk.parquet"), "w") as f:
        f.write("not parquet")
    t.compact(strategy="global")
    assert sorted_state(t) == [("c1", 0, "a")]
    assert t._read_manifest()["snapshot"] == f"v{v + 1:08d}"


def test_manifest_missing_protocol_field_raises(spark, tmp_path):
    """A manifest missing a field the commit protocol always writes —
    ``snapshot_log``, ``trash``; ``base_n_buckets``/``base_rows`` with a
    base; ``delta_rows_by_dir`` with deltas; ``schema`` with either — is
    refused with a ValueError
    naming the table and the field. Reading on would be silently
    wrong: with no recorded modulus ``lookup`` would prune with a
    ``None`` modulus and return nothing."""
    import json
    import os

    import pytest

    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path, n_buckets=4, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 0)], EVENT_SCHEMA), epoch_id=0)
    t.compact(strategy="bucketed")
    t.merge(spark.createDataFrame([ev(1, "insert", "c2", 0, "b", 1)], EVENT_SCHEMA), epoch_id=1)
    mp = os.path.join(path, "_manifest.json")
    with open(mp) as f:
        good = json.load(f)
    assert good["snapshot"] and good["deltas"]
    for field in (
        "snapshot_log", "trash", "base_n_buckets", "base_rows", "delta_rows_by_dir", "schema"
    ):
        with open(mp, "w") as f:
            json.dump({k: v for k, v in good.items() if k != field}, f)
        with pytest.raises(ValueError, match=f"{path}.*{field}"):
            SnapshotTable(spark, path, n_buckets=4, mode="mor")
    with open(mp, "w") as f:
        json.dump(good, f)
    assert SnapshotTable(spark, path, n_buckets=4, mode="mor").lookup("c1", 0).count() == 1


def test_time_travel_rejects_uncommitted_version_dir(spark, tmp_path):
    """Code-review r5: a fold that crashed between rename and
    manifest commit leaves a v-dir the commit log never recorded —
    read(version=...) must refuse it, and the next fold sweeps it."""
    import os

    import pytest

    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 0)], EVENT_SCHEMA), epoch_id=0)
    v = t._read_manifest()["version"]
    ghost = v + 1
    ghost_dir = str(tmp_path / "t" / f"v{ghost:08d}")
    os.makedirs(os.path.join(ghost_dir, "_bucket=0"))
    with pytest.raises(FileNotFoundError, match="never committed"):
        t.read(version=ghost)
    # delta appends bump the version past the ghost; the next fold
    # must sweep the never-committed dir rather than serve or trip on it
    t.merge(spark.createDataFrame([ev(1, "insert", "c2", 0, "b", 1)], EVENT_SCHEMA), epoch_id=1)
    t.compact(strategy="global")
    assert not os.path.exists(ghost_dir)
    assert sorted_state(t) == [("c1", 0, "a"), ("c2", 0, "b")]


def test_crashed_delta_write_self_heals_on_replay(spark, tmp_path):
    """A delta write that crashed pre-commit leaves a partial
    ``_merge_out_*`` temp dir (crash mid-write) or a renamed,
    never-committed ``d<next version>`` dir (crash before the manifest
    swap). Reads never see either; the epoch's re-delivery sweeps the
    temp dir and replaces the stale versioned dir (no orphan leak)."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2, mode="mor", compact_every=100)
    v = t._read_manifest()["version"]
    partial = str(tmp_path / "t" / "_merge_out_deadbeef")
    stale = str(tmp_path / "t" / f"d{v + 1:08d}")
    for d in (partial, stale):
        os.makedirs(d)
        with open(os.path.join(d, "part-junk.parquet"), "w") as f:
            f.write("partial")
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 0)], EVENT_SCHEMA), epoch_id=0)
    assert sorted_state(t) == [("c1", 0, "a")]
    assert not os.path.exists(partial)
    assert t._read_manifest()["deltas"] == [f"d{v + 1:08d}"]
    assert not os.path.exists(os.path.join(stale, "part-junk.parquet"))


def test_fold_sweeps_orphaned_delta_dirs_but_not_live_ones(spark, tmp_path):
    """Unreferenced versioned dirs are crash leftovers whatever their
    number — only ``_publish`` creates versioned names, and only when
    it commits them — so the next commit sweeps them by manifest
    membership alone. Manifest-referenced deltas are never touched,
    and a fold sweeps only its own temp prefixes: an in-flight merge's
    ``_merge_out_*`` dir survives a concurrent fold."""
    import os

    t = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 0)], EVENT_SCHEMA), epoch_id=0)
    t.merge(spark.createDataFrame([ev(1, "insert", "c2", 0, "b", 1)], EVENT_SCHEMA), epoch_id=1)
    live = t._read_manifest()["deltas"]
    v = t._read_manifest()["version"]
    # orphans below and above the current version
    orphans = [str(tmp_path / "t" / n) for n in ("d00000000", f"d{v + 5:08d}", f"dm{v + 6:08d}")]
    for d in orphans:
        os.makedirs(d)
    inflight = str(tmp_path / "t" / "_merge_out_cafebabe")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "w") as f:
        f.write("being written")
    assert sorted_state(t) == [("c1", 0, "a"), ("c2", 0, "b")]  # reads ignore them
    t.compact(strategy="global")
    assert not any(os.path.exists(d) for d in orphans)
    assert os.path.exists(os.path.join(inflight, "part-0.parquet"))
    # the folded deltas wait one fold cycle in trash
    assert t._read_manifest()["trash"] == live
    assert all(os.path.isdir(str(tmp_path / "t" / d)) for d in live)
    assert sorted_state(t) == [("c1", 0, "a"), ("c2", 0, "b")]


def test_concurrent_reads_and_sync_compacts_during_async_merges(spark, tmp_path):
    """Live-concurrency stress for the round-5 locking: while one
    thread merges epochs into a compact_async table (spawning
    background folds), another thread hammers read()/lookup() and
    explicit sync compact() calls. No torn manifests, no
    mid-plan-deleted files, and the final state equals the
    single-threaded reference."""
    import threading

    pdf = make_events(8000, n_convs=40, seed=55)
    df = spark.createDataFrame(pdf).localCheckpoint(eager=True)
    t = SnapshotTable(
        spark, str(tmp_path / "st"), n_buckets=4, mode="mor",
        compact_every=2, compact_async=True,
    )
    errs: list[BaseException] = []
    done = threading.Event()

    def reader():
        while not done.is_set():
            try:
                t.read().count()
                t.compact()  # sync fold racing the spawned ones
                t.lookup("c1", 0).collect()
                t.history()
            except FileNotFoundError:
                pass  # table may not exist yet at loop start
            except BaseException as e:  # noqa: BLE001
                errs.append(e)
                return

    th = threading.Thread(target=reader, daemon=True)
    th.start()
    per = 800
    for e in range(10):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        t.merge(batch, epoch_id=e)
    done.set()
    th.join(timeout=120)
    t.wait_for_compaction()
    assert not errs, errs[0]
    ref = SnapshotTable(spark, str(tmp_path / "ref"), n_buckets=4, mode="mor", compact_every=100)
    for e in range(10):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        ref.merge(batch, epoch_id=e)
    assert sorted_state(t) == sorted_state(ref)


def test_concurrent_same_epoch_delivery_applies_once(spark, tmp_path):
    """Two threads delivering the SAME epoch concurrently: exactly
    one applies. Without merge-level serialization both pass the
    ledger check and double-commit the epoch (round-5 review)."""
    import threading

    for mode in ("mor", "cow"):
        t = SnapshotTable(
            spark, str(tmp_path / f"race_{mode}"), n_buckets=2, mode=mode
        )
        t.merge(
            spark.createDataFrame([ev(0, "insert", "c1", 0, "v0", 0)], EVENT_SCHEMA),
            epoch_id=0,
        )
        batch = spark.createDataFrame(
            [ev(1, "update", "c1", 0, "v1", 5), ev(2, "insert", "c2", 0, "w", 6)],
            EVENT_SCHEMA,
        )
        results = []
        threads = [
            threading.Thread(target=lambda: results.append(t.merge(batch, epoch_id=1)))
            for _ in range(4)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert sorted(results) == [False, False, False, True], mode
        # the epoch maps to exactly one version; state is the
        # single-application result
        assert sorted_state(t) == [("c1", 0, "v1"), ("c2", 0, "w")]
        assert sum(1 for c in t.history() if c["epoch_id"] == 1) == 1


def test_ratio_triggered_compaction_geometric_schedule(spark, tmp_path):
    """compact_ratio (round 6): folds fire when accumulated delta rows
    reach ratio x base rows — a geometric schedule that bounds total
    rewrite work over long replays (the fixed interval rewrote the
    growing base every K epochs; 240M-soak folds grew 34→117 s).
    Pins: (a) fewer folds than the fixed interval on the same stream,
    (b) folds spaced further apart as the base grows, (c) state parity
    with a fixed-interval twin, (d) compact commits record file rows
    (the trigger's metadata source)."""
    pdf = make_events(6000, n_convs=400, seed=33)
    df = spark.createDataFrame(pdf)
    fixed = SnapshotTable(
        spark, str(tmp_path / "fx"), n_buckets=4, mode="mor", compact_every=2
    )
    ratio = SnapshotTable(
        spark, str(tmp_path / "rt"), n_buckets=4, mode="mor",
        compact_every=2, compact_ratio=0.5,
    )
    per = 500
    for e in range(12):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        fixed.merge(batch, epoch_id=e)
        ratio.merge(batch, epoch_id=e)
    assert sorted_state(fixed) == sorted_state(ratio)

    def fold_epoch_gaps(t):
        vs = [c["version"] for c in t.history() if c["op"] == "compact"]
        return vs

    fx_folds = [c for c in fixed.history() if c["op"] == "compact"]
    rt_folds = [c for c in ratio.history() if c["op"] == "compact"]
    assert len(rt_folds) < len(fx_folds), (len(rt_folds), len(fx_folds))
    # commit lineage carries per-file rows for the new base
    assert all(
        f.get("rows") is not None for c in rt_folds for f in c["files"]
    )
    # geometric spacing: deltas folded per compact grow as the base
    # grows (each fold waits for ratio x a LARGER base). Fold 0 is
    # the compact_every bootstrap (no base yet) — excluded.
    folded = [c["folded"] for c in rt_folds[1:]]
    assert folded == sorted(folded), folded
    assert folded[-1] > folded[0]


def test_minor_compaction_parity_and_fanin(spark, tmp_path):
    """Two-tier compaction (round 6): minor (delta-tier) merges fire
    when the major isn't due, LWW-merging the live deltas into ONE
    dir without touching the base. Pins: (a) state parity with a
    minor-free twin under updates AND deletes (tombstones must
    survive a minor merge — they may still need to beat a base row),
    (b) read fan-in actually bounded (live delta count collapses),
    (c) majors still fire on the ratio, (d) exactly-once replay
    unaffected."""
    pdf = make_events(6000, n_convs=300, seed=44, delete_rate=0.15)
    df = spark.createDataFrame(pdf)
    plain = SnapshotTable(
        spark, str(tmp_path / "pl"), n_buckets=4, mode="mor", compact_every=100
    )
    tiered = SnapshotTable(
        spark, str(tmp_path / "ti"), n_buckets=4, mode="mor",
        compact_every=3, compact_ratio=1.0, compact_minor_every=3,
    )
    per = 500
    for e in range(12):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        plain.merge(batch, epoch_id=e)
        tiered.merge(batch, epoch_id=e)
        # live delta fan-in stays bounded by the minor threshold plus
        # the appends since the last fold
        import json as _json
        import os as _os

        man = _json.loads(
            open(_os.path.join(str(tmp_path / "ti"), "_manifest.json")).read()
        )
        assert len(man["deltas"]) <= 4, (e, man["deltas"])
    assert sorted_state(plain) == sorted_state(tiered)
    ops = [c["op"] for c in tiered.history()]
    assert "compact-minor" in ops
    # replaying a committed epoch is still a no-op
    assert tiered.merge(df.filter("seq < 500"), epoch_id=0) is False
    assert sorted_state(plain) == sorted_state(tiered)


def test_minor_crash_leftovers_swept_and_harmless(spark, tmp_path):
    """A minor merge that crashes mid-flight leaves either a
    _minor_out_* temp dir or a renamed-but-never-committed dm* dir.
    Neither is referenced by the manifest, so reads ignore them; the
    next minor fold sweeps its own temp prefix and its commit sweeps
    the unreferenced dm dir."""
    import os

    pdf = make_events(1200, n_convs=30, seed=7)
    df = spark.createDataFrame(pdf)
    t = SnapshotTable(
        spark, str(tmp_path / "t"), n_buckets=2, mode="mor",
        compact_every=100, compact_ratio=1.0, compact_minor_every=100,
    )
    t.merge(df.filter("seq < 600"), epoch_id=0)
    t.merge(df.filter("seq >= 600"), epoch_id=1)
    before = sorted_state(t)

    v = t._read_manifest()["version"]
    temp = str(tmp_path / "t" / "_minor_out_deadbeef")
    ghost = str(tmp_path / "t" / f"dm{v:08d}")
    os.makedirs(temp)
    os.makedirs(ghost)
    assert sorted_state(t) == before  # reads never see orphans

    t.compact_minor()
    assert not os.path.exists(temp)
    assert not os.path.exists(ghost)
    assert t._read_manifest()["deltas"] == [f"dm{v + 1:08d}"]
    assert sorted_state(t) == before


def test_minor_tier_live_in_fixed_interval_mode(spark, tmp_path):
    """``compact_minor_every`` fires in the ratio-LESS (fixed-interval)
    configuration too, under the same fold rule as ratio mode: the
    first due minor finds no base and runs as the bootstrap major
    (otherwise minors would keep the delta count below
    ``compact_every`` and no base would ever form); later due minors
    merge deltas only. Fan-in stays bounded, and state matches a
    compaction-free twin."""
    pdf = make_events(3000, n_convs=200, seed=45, delete_rate=0.1)
    df = spark.createDataFrame(pdf)
    plain = SnapshotTable(
        spark, str(tmp_path / "pl"), n_buckets=4, mode="mor", compact_every=100
    )
    tiered = SnapshotTable(
        spark, str(tmp_path / "ti"), n_buckets=4, mode="mor",
        compact_every=100, compact_minor_every=2,  # NO compact_ratio
    )
    per = 500
    for e in range(6):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        plain.merge(batch, epoch_id=e)
        tiered.merge(batch, epoch_id=e)
        assert len(tiered._read_manifest()["deltas"]) <= 2, e
    folds = [c["op"] for c in tiered.history() if c["op"].startswith("compact")]
    # epoch 1: bootstrap major; epochs 3, 4, 5: minors (the merged dm
    # dir counts as a live delta)
    assert folds == ["compact"] + ["compact-minor"] * 3, folds
    assert tiered._read_manifest()["snapshot"] is not None
    assert sorted_state(plain) == sorted_state(tiered)


def test_ratio_mode_minor_due_without_base_runs_bootstrap_major(spark, tmp_path):
    """With ``compact_ratio`` set and no base yet, the minor tier
    (``compact_minor_every`` < ``compact_every``) used to fire first
    and keep the delta count below ``compact_every`` forever, so no
    base ever formed (16 epochs: 5 minors, 0 majors). The first due
    fold now runs as the bootstrap major; minors resume once a base
    exists, and state matches a compaction-free twin."""
    pdf = make_events(4000, n_convs=200, seed=46, delete_rate=0.1)
    df = spark.createDataFrame(pdf)
    plain = SnapshotTable(
        spark, str(tmp_path / "pl"), n_buckets=4, mode="mor", compact_every=100
    )
    tiered = SnapshotTable(
        spark, str(tmp_path / "ti"), n_buckets=4, mode="mor",
        compact_ratio=0.1, compact_minor_every=4,  # compact_every stays 8
    )
    per = 250
    for e in range(16):
        batch = df.filter((F.col("seq") >= e * per) & (F.col("seq") < (e + 1) * per))
        plain.merge(batch, epoch_id=e)
        tiered.merge(batch, epoch_id=e)
    folds = [c["op"] for c in tiered.history() if c["op"].startswith("compact")]
    assert folds and folds[0] == "compact", folds
    assert tiered._read_manifest()["snapshot"] is not None
    assert sorted_state(plain) == sorted_state(tiered)


def test_read_and_lookup_build_two_scans_and_no_job(spark, tmp_path):
    """Over a base plus 8 live deltas, and again plus 40 (past Spark's
    default of 32 paths, above which listing runs as a job),
    ``read()`` and ``lookup()`` are built from the schema the manifest
    records: at most two FileScans (the bucketed base and one scan over
    every delta), and no Spark job starts while the frame is built (no
    per-dir schema inference, no listing job)."""
    t = SnapshotTable(spark, str(tmp_path / "ps"), n_buckets=4, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 0)], EVENT_SCHEMA), epoch_id=0)
    t.compact(strategy="global")
    sc = spark.sparkContext
    e = 0
    for n_deltas in (8, 40):
        while e < n_deltas:
            e += 1
            batch = [ev(e, "update", "c1", 0, f"t{e}", e), ev(100 + e, "insert", f"n{e}", 0, "x", e)]
            t.merge(spark.createDataFrame(batch, EVENT_SCHEMA), epoch_id=e)
        assert len(t._read_manifest()["deltas"]) == n_deltas
        for name, build in (("read", t.read), ("lookup", lambda: t.lookup("c1", 0))):
            group = f"build-{name}-{n_deltas}-{tmp_path.name}"
            sc.setJobGroup(group, f"build {name}")
            try:
                plan = build()._jdf.queryExecution().executedPlan().toString()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], (name, n_deltas)
            assert plan.count("FileScan") <= 2, plan
        assert [r.text for r in t.lookup("c1", 0).collect()] == [f"t{n_deltas}"]
        assert t.read().count() == 1 + n_deltas


@pytest.mark.parametrize("strategy", ["global", "bucketed"])
def test_major_fold_keeps_column_added_mid_fold(spark, tmp_path, monkeypatch, strategy):
    """A delta that ADDs a column, published after a major fold froze
    its inputs but before the fold publishes: the fold's base lacks the
    column, and the recorded schema must still keep it — it only
    grows, never takes the fold's written schema."""
    t = SnapshotTable(spark, str(tmp_path / "mf"), n_buckets=2, mode="mor", compact_every=100)
    t.merge(spark.createDataFrame([ev(0, "insert", "c1", 0, "a", 1)], EVENT_SCHEMA), epoch_id=0)
    t.compact(strategy="global")
    t.merge(spark.createDataFrame([ev(1, "insert", "c2", 0, "b", 2)], EVENT_SCHEMA), epoch_id=1)
    evolved = spark.createDataFrame([ev(2, "insert", "c3", 0, "c", 3)], EVENT_SCHEMA).withColumn(
        "meta", F.lit("m")
    )
    real_publish = SnapshotTable._publish

    def publish(self, tmp, prefix, op, *a, **kw):
        if op == "compact":  # the fold's inputs are frozen by now
            monkeypatch.setattr(SnapshotTable, "_publish", real_publish)
            assert self.merge(evolved, epoch_id=2)
        return real_publish(self, tmp, prefix, op, *a, **kw)

    monkeypatch.setattr(SnapshotTable, "_publish", publish)
    t.compact(strategy=strategy)
    assert t.history()[-1]["op"] == "compact"
    assert len(t._read_manifest()["deltas"]) == 1  # the mid-fold delta
    want = {"c1": None, "c2": None, "c3": "m"}
    assert {r.conv_id: r.meta for r in t.read().collect()} == want
    assert t.lookup("c3", 0).collect()[0].meta == "m"
    t.compact(strategy=strategy)
    assert {r.conv_id: r.meta for r in t.read().collect()} == want
