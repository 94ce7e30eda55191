"""Merge operators (SURVEY.md §2.4-2.5): LWW reduction, strategy
equivalence, the reduce↔normalize fusion, priority merge,
MERGE-into-state semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kahi_spark.operators.merge import (
    latest_change_per_key,
    merge_changes_into_state,
    priority_merge,
    reduce_events_to_state,
)


from kahi_spark.schema import EVENT_SCHEMA


def ts(i: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


EVENT_COLS = EVENT_SCHEMA


def ev(seq, op, conv, turn, text, t, role="user", tool=None, source="lens"):
    return (seq, op, conv, turn, role, text, tool, ts(t), source)


def test_lww_per_key(spark):
    rows = [
        ev(0, "insert", "c1", 0, "v1", 0),
        ev(1, "update", "c1", 0, "v2", 10),
        ev(2, "update", "c1", 0, "late", 5),  # older ts, higher seq → loses
        ev(3, "insert", "c1", 1, "t1", 1),
        ev(4, "delete", "c1", 1, None, 20),
        ev(5, "insert", "c2", 0, "x", 2),
    ]
    df = spark.createDataFrame(rows, EVENT_COLS)
    last = latest_change_per_key(df).orderBy("conv_id", "turn_idx").collect()
    assert [(r.conv_id, r.turn_idx, r.op, r.text) for r in last] == [
        ("c1", 0, "update", "v2"),
        ("c1", 1, "delete", None),
        ("c2", 0, "insert", "x"),
    ]
    state = reduce_events_to_state(df).orderBy("conv_id", "turn_idx").collect()
    assert [(r.conv_id, r.turn_idx, r.text) for r in state] == [
        ("c1", 0, "v2"),
        ("c2", 0, "x"),
    ]


def test_lww_tie_broken_by_seq(spark):
    rows = [ev(0, "insert", "c1", 0, "a", 0), ev(1, "update", "c1", 0, "b", 0)]
    df = spark.createDataFrame(rows, EVENT_COLS)
    got = latest_change_per_key(df).collect()
    assert len(got) == 1 and got[0].text == "b"


def test_null_ts_orders_the_same_at_every_lww_site(spark, tmp_path):
    """One LWW order everywhere (``lww_order``): a NULL ts reads as
    the 1970 floor, so it beats a pre-1970 event at every site — the
    window and agg reduces, the COW MERGE, and the MOR read
    resolve and bucketed fold across deltas. (The window reduce used
    to sort a bare ``ts desc``, NULLs last, and picked the pre-1970
    row while agg and the MOR read picked the NULL one.)"""
    from kahi_spark.sinks.snapshot import SnapshotTable

    pre = (1, "insert", "c1", 0, "user", "pre1970", None, dt.datetime(1969, 12, 31, 12), "lens")
    nul = (2, "update", "c1", 0, "user", "nullts", None, None, "lens")
    both = spark.createDataFrame([pre, nul], EVENT_COLS)
    for strategy in ("window", "agg"):
        got = [r.text for r in latest_change_per_key(both, strategy=strategy).collect()]
        assert got == ["nullts"], strategy
    for mode in ("cow", "mor"):
        for order in ((pre, nul), (nul, pre)):
            t = SnapshotTable(
                spark, str(tmp_path / f"{mode}-{order[0][0]}"), n_buckets=2, mode=mode,
                compact_every=100,
            )
            for e, row in enumerate(order):
                t.merge(spark.createDataFrame([row], EVENT_COLS), epoch_id=e)
            assert [r.text for r in t.read().collect()] == ["nullts"], (mode, order)
            if mode == "mor":
                t.compact(strategy="bucketed")
                assert [r.text for r in t.read().collect()] == ["nullts"], order


def test_agg_reduction_equivalent_under_genuine_hot_key(spark):
    """VERDICT r4 #1: the dispersed-turn hot conversation barely
    skews the actual window key — this fixture concentrates ~30% of
    all events on TWO (conv_id, turn_idx) keys (hot_turns=2) and
    asserts the map-side-combining max_by strategy (the bounded-per-
    task skew shape) is value-identical to the window reduce there,
    including column order (the wall-clock claim is measured by
    scripts/skew_probe.py at 24M events)."""
    from kahi_spark.gen import make_events

    pdf = make_events(20_000, n_convs=40, seed=17, hot_fraction=0.3, hot_turns=2)
    # the skew really is on the window key
    top = pdf.groupby(["conv_id", "turn_idx"]).size().max()
    assert top > 0.1 * len(pdf)
    df = spark.createDataFrame(pdf)
    plain = {
        (r.conv_id, r.turn_idx): (r.op, r.text, r.seq)
        for r in latest_change_per_key(df).collect()
    }
    agg = latest_change_per_key(df, strategy="agg")
    assert agg.columns == df.columns
    assert plain == {
        (r.conv_id, r.turn_idx): (r.op, r.text, r.seq) for r in agg.collect()
    }


def test_priority_merge_converges_multisource(spark):
    from kahi_spark.gen import make_multisource_events
    from kahi_spark.operators.merge import normalize_events

    pdf = make_multisource_events(n_convs=5)
    df = normalize_events(spark.createDataFrame(pdf))
    merged = priority_merge(df, value_cols=["role", "text", "tool"])
    # exactly one canonical record per key (BASELINE.json mandate)
    assert merged.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    n_keys = df.select("conv_id", "turn_idx").distinct().count()
    assert merged.count() == n_keys
    # field-level priority (lens highest — the reference's effective
    # last-overwrite-wins order): lens text wins over the uppercased
    # scopus version; tool only wos provides → taken from wos
    # (complement semantics)
    row = merged.filter((F.col("conv_id") == "m0") & (F.col("turn_idx") == 0)).collect()[0]
    assert row.text == row.text.lower()  # lens (clean lowercase) won
    assert row.tool == "search"  # only wos had it
    assert sorted(row.sources) == ["lens", "scopus", "wos"]


def test_priority_merge_unknown_source_fallback(spark):
    rows = [
        ev(0, "insert", "c1", 0, "from-mystery", 0, source="mystery"),
        ev(1, "insert", "c1", 0, None, 1, source="zzz"),
    ]
    df = spark.createDataFrame(rows, EVENT_COLS)
    got = priority_merge(df, value_cols=["text"]).collect()[0]
    assert got.text == "from-mystery"


def _mk_state(spark, rows):
    from pyspark.sql import types as T

    from kahi_spark.schema import TRANSCRIPT_SCHEMA
    from kahi_spark.operators.merge import SYS_DELETED, SYS_SEQ

    schema = T.StructType(
        TRANSCRIPT_SCHEMA.fields
        + [T.StructField(SYS_SEQ, T.LongType()), T.StructField(SYS_DELETED, T.BooleanType())]
    )
    return spark.createDataFrame(rows, schema)


def _live(out):
    return [
        (r.conv_id, r.turn_idx, r.text)
        for r in out.filter(~F.col("_deleted")).orderBy("conv_id", "turn_idx").collect()
    ]


def test_merge_changes_into_state(spark):
    state = _mk_state(
        spark,
        [
            ("c1", 0, "user", "old", None, ts(0), 0, False),
            ("c1", 1, "user", "keep", None, ts(0), 1, False),
        ],
    )
    changes = spark.createDataFrame(
        [
            ev(10, "update", "c1", 0, "new", 100),
            ev(11, "delete", "c1", 1, None, 100),
            ev(12, "insert", "c2", 5, "born", 100),
        ],
        EVENT_COLS,
    )
    reduced = latest_change_per_key(changes)
    out = merge_changes_into_state(state, reduced)
    assert _live(out) == [("c1", 0, "new"), ("c2", 5, "born")]
    # the delete is a tombstone, not a dropped row
    assert out.filter(F.col("_deleted")).count() == 1


def test_merge_out_of_order_change_loses(spark):
    """A later epoch delivering an OLDER event must not clobber newer
    state, and an older insert must not resurrect a tombstone."""
    state = _mk_state(
        spark,
        [
            ("c1", 0, "user", "newer", None, ts(100), 50, False),
            ("c1", 1, "user", None, None, ts(100), 51, True),  # tombstone
        ],
    )
    changes = spark.createDataFrame(
        [
            ev(10, "update", "c1", 0, "stale", 5),
            ev(11, "insert", "c1", 1, "zombie", 5),
        ],
        EVENT_COLS,
    )
    out = merge_changes_into_state(state, latest_change_per_key(changes))
    assert _live(out) == [("c1", 0, "newer")]


def test_agg_strategy_equals_window_across_random_logs(spark):
    """Property sweep: the map-side-combining max_by reduction must
    be value-identical to the window path across varied generator
    shapes (hot keys, deletes, out-of-order ts)."""
    from kahi_spark.gen import make_events
    from kahi_spark.operators.merge import reduce_events_to_state

    for seed, n, hot, ht in ((1, 3000, 0.1, None), (2, 5000, 0.5, 1), (3, 2000, 0.0, None)):
        pdf = make_events(n, n_convs=25, seed=seed, hot_fraction=hot, hot_turns=ht)
        df = spark.createDataFrame(pdf)
        w = sorted(map(tuple, reduce_events_to_state(df, strategy="window").collect()))
        a = sorted(map(tuple, reduce_events_to_state(df, strategy="agg").collect()))
        assert w == a, (seed, n, hot, ht)


# ---------------------------------------------------------------------------
# round 7: reduce↔normalize fusion
# ---------------------------------------------------------------------------


def _fusion_fixture(spark):
    """Adversarial raw events: LOSING revisions carry TeX/markup/tool
    markers and messy roles — if the fusion normalized the wrong row
    (or the winner pick looked at normalized content) these rows
    would surface in the output."""
    rows = [
        ev(0, "insert", "c1", 0, r"\alpha $x$ <tool:bad> loser", 0, role="USER "),
        ev(1, "update", "c1", 0, r"\beta {kept} [tool=srch] win", 9, role=" Assistant"),
        ev(2, "insert", "c1", 1, "plain", 1, tool=" t1 "),
        ev(3, "delete", "c1", 1, r"\gone^", 8),
        ev(4, "insert", "c2", 0, "<tool:a>x", 2, source="wos"),
        ev(5, "update", "c2", 0, "<tool:b>y", 1, source="scopus"),  # older ts loses
    ]
    return spark.createDataFrame(rows, EVENT_COLS)


def test_reduce_normalize_fusion_parity(spark):
    """reduce(normalize(ev)) with the fusion tag must equal the
    literal eager composition (tag stripped via select('*')) for
    every strategy and key shape, on rows designed to differ if the
    rewrite ever normalized losers into winners."""
    from kahi_spark.operators.merge import normalize_events

    raw = _fusion_fixture(spark)
    for kwargs in (
        {},
        {"strategy": "agg"},
        {"key_cols": ["conv_id", "turn_idx", "source"]},
    ):
        fused = latest_change_per_key(normalize_events(raw), **kwargs)
        eager = latest_change_per_key(normalize_events(raw).select("*"), **kwargs)
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, eager.collect())
        ), kwargs
    # reduce_events_to_state composition (the frozen bench.py scaling
    # job's exact shape) — fused vs eager
    f = reduce_events_to_state(normalize_events(raw))
    e = reduce_events_to_state(normalize_events(raw).select("*"))
    assert sorted(map(tuple, f.collect())) == sorted(map(tuple, e.collect()))


def _regex_above_key_exchange(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    above, below = plan.split("Exchange hashpartitioning", 1)
    assert "regexp_replace" in above, plan
    assert "regexp_replace" not in below, plan


def test_reduce_normalize_fusion_plan_and_guard(spark):
    """The fused plan runs the regex cleaner ABOVE the key exchange
    (winners only); a key set that overlaps the normalized columns
    must decline the fusion (winner would then depend on normalize)."""
    from kahi_spark.operators.merge import normalize_events

    raw = _fusion_fixture(spark)
    _regex_above_key_exchange(latest_change_per_key(normalize_events(raw)))
    # the composition SnapshotTable.merge builds for a keyed pipeline
    # epoch: explicit table key, every reduce strategy — the pipeline
    # still normalizes only the winners
    for strategy in ("window", "agg"):
        _regex_above_key_exchange(
            latest_change_per_key(
                normalize_events(raw),
                key_cols=["conv_id", "turn_idx"],
                strategy=strategy,
            )
        )
    # guard: text in the key → no fusion (regex stays below the
    # exchange), results equal the eager composition
    fused_no = latest_change_per_key(
        normalize_events(raw), key_cols=["conv_id", "text"]
    )
    plan_no = fused_no._jdf.queryExecution().executedPlan().toString()
    _, below_no = plan_no.split("Exchange hashpartitioning", 1)
    assert "regexp_replace" in below_no, plan_no
    eager_no = latest_change_per_key(
        normalize_events(raw).select("*"), key_cols=["conv_id", "text"]
    )
    assert sorted(map(tuple, fused_no.collect())) == sorted(
        map(tuple, eager_no.collect())
    )


def test_reduce_normalize_fusion_declines_on_persisted_frame(spark):
    """cache() returns the tagged frame itself; the reduce must read
    the cached normalized rows as written instead of re-reducing the
    raw parent past the cache."""
    from kahi_spark.operators.merge import normalize_events

    raw = _fusion_fixture(spark)
    cached = normalize_events(raw).cache()
    try:
        cached.count()
        reduced = latest_change_per_key(cached)
        plan = reduced._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        eager = latest_change_per_key(normalize_events(raw).select("*"))
        assert sorted(map(tuple, reduced.collect())) == sorted(
            map(tuple, eager.collect())
        )
    finally:
        cached.unpersist()
