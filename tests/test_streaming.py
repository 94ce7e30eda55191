"""End-to-end streaming CDC pipeline (SURVEY.md §2.8, §5.3-5.6):
replay parity vs the batch reference reducer, resume-from-checkpoint,
duplicate-epoch delivery, schema evolution mid-stream."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kahi_spark.gen import write_event_batches
from kahi_spark.operators.merge import normalize_events, reduce_events_to_state
from kahi_spark.schema import EVENT_SCHEMA
from kahi_spark.sinks.snapshot import SnapshotTable
from kahi_spark.streaming.pipeline import CdcPipeline


def stable_view(df):
    """Parity projection: per-turn text under stable turn ordering
    (window over conv_id ordered by turn_idx, ts — BASELINE.json)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return (
        df.withColumn("turn_rank", F.row_number().over(w))
        .select("conv_id", "turn_rank", "turn_idx", "role", "text", "tool")
        .orderBy("conv_id", "turn_rank")
    )


def run_pipeline(spark, tmp_path, name, n_events=1500, n_batches=5, **gen_kw):
    event_dir = str(tmp_path / f"{name}-events")
    write_event_batches(event_dir, n_events, n_batches, **gen_kw)
    table = SnapshotTable(spark, str(tmp_path / f"{name}-table"), n_buckets=4)
    pipe = CdcPipeline(
        spark, event_dir, table, str(tmp_path / f"{name}-ckpt"),
        schema=gen_kw.pop("schema", None),
    )
    pipe.run_until_idle()
    return event_dir, table, pipe


def test_replay_parity_vs_batch_reducer(spark, tmp_path):
    event_dir, table, pipe = run_pipeline(spark, tmp_path, "parity")
    # reference reducer: one-shot batch LWW over the whole log
    raw = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
    expected = reduce_events_to_state(normalize_events(raw))
    got = table.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    a = [tuple(r) for r in stable_view(got).collect()]
    b = [tuple(r) for r in stable_view(expected).collect()]
    assert a == b
    assert len(a) > 0
    assert all(m["applied"] for m in pipe.metrics)


def test_resume_from_checkpoint(spark, tmp_path):
    event_dir = str(tmp_path / "resume-events")
    paths = write_event_batches(event_dir, 1200, 6, seed=3)
    table = SnapshotTable(spark, str(tmp_path / "resume-table"), n_buckets=4)
    ckpt = str(tmp_path / "resume-ckpt")

    # phase 1: only first 3 batch files exist
    import os
    held_back = paths[3:]
    stash = []
    for p in held_back:
        s = p + ".hold"
        os.rename(p, s)
        stash.append((s, p))
    CdcPipeline(spark, event_dir, table, ckpt).run_until_idle()
    v1 = table.read().count()
    epochs_1 = table.committed_epochs()

    # phase 2: "restart" — remaining files appear, same checkpoint
    for s, p in stash:
        os.rename(s, p)
    CdcPipeline(spark, event_dir, table, ckpt).run_until_idle()

    # resumed run must only add NEW epochs (no reprocessing)
    assert table.committed_epochs() > epochs_1

    # final state == batch reducer over the whole log
    raw = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
    expected = reduce_events_to_state(normalize_events(raw))
    a = [tuple(r) for r in stable_view(table.read()).collect()]
    b = [tuple(r) for r in stable_view(expected).collect()]
    assert a == b
    assert v1 <= len(a) + 50  # phase 1 was a strict subset of the log


def test_duplicate_data_delivery_converges(spark, tmp_path):
    """Whole-batch re-delivery (same events, new file): keyed LWW
    MERGE is idempotent, so state equals the dedup'd reducer."""
    event_dir, table, _ = run_pipeline(
        spark, tmp_path, "dup", n_events=800, n_batches=4, duplicate_epochs=[1]
    )
    raw = spark.read.schema(EVENT_SCHEMA).parquet(event_dir).dropDuplicates(["seq"])
    expected = reduce_events_to_state(normalize_events(raw))
    a = [tuple(r) for r in stable_view(table.read()).collect()]
    b = [tuple(r) for r in stable_view(expected).collect()]
    assert a == b


def test_schema_evolution_mid_stream(spark, tmp_path):
    evolved_schema = T.StructType(
        EVENT_SCHEMA.fields + [T.StructField("meta", T.StringType(), True)]
    )
    event_dir = str(tmp_path / "evo-events")
    write_event_batches(event_dir, 600, 3, seed=5, evolve_at_batch=2)
    table = SnapshotTable(spark, str(tmp_path / "evo-table"), n_buckets=4)
    pipe = CdcPipeline(
        spark, event_dir, table, str(tmp_path / "evo-ckpt"), schema=evolved_schema
    )
    pipe.run_until_idle()
    out = table.read()
    assert "meta" in out.columns
    metas = out.filter(F.col("meta").isNotNull()).count()
    assert metas > 0  # evolved rows carry values, earlier rows NULL


def test_run_continuous_applies_and_stops(spark, tmp_path):
    """The production tail (processing-time trigger): applies what's
    in the log, honors the timeout, and a follow-up availableNow run
    on the same checkpoint re-applies nothing."""
    from kahi_spark.gen import write_event_batches
    from kahi_spark.sinks.snapshot import SnapshotTable
    from kahi_spark.streaming.pipeline import CdcPipeline

    binlog = str(tmp_path / "binlog")
    write_event_batches(binlog, n_events=900, n_batches=3, seed=41)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2, mode="mor")
    pipe = CdcPipeline(spark, binlog, table, str(tmp_path / "ckpt"))
    metrics = pipe.run_continuous(interval="1 seconds", timeout_s=12)
    assert sum(m["events"] for m in metrics) == 900
    assert table.read().count() > 0
    # same checkpoint, drain mode: nothing new
    pipe2 = CdcPipeline(spark, binlog, table, str(tmp_path / "ckpt"))
    assert pipe2.run_until_idle(timeout_s=60) == []


def test_pipeline_agg_reduce_strategy_parity(spark, tmp_path):
    """reduce_strategy="agg" (bounded-per-task max_by reduction, the
    hot-key production setting) must produce the identical final
    table as the default window path, end to end through the
    streaming pipeline + MOR sink + async compaction."""
    event_dir = str(tmp_path / "agg-events")
    write_event_batches(event_dir, 1800, 6, seed=23, hot_fraction=0.4, hot_turns=2)
    states = {}
    for strat in ("window", "agg"):
        table = SnapshotTable(
            spark, str(tmp_path / f"t-{strat}"), n_buckets=4, mode="mor",
            compact_every=3, compact_async=(strat == "agg"),
        )
        CdcPipeline(
            spark, event_dir, table, str(tmp_path / f"ck-{strat}"),
            reduce_strategy=strat,
        ).run_until_idle()
        states[strat] = [
            tuple(r)
            for r in stable_view(
                table.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")
            ).collect()
        ]
    assert states["agg"] == states["window"] and len(states["agg"]) > 0


def test_equal_mtime_files_replay_in_name_order(spark, tmp_path):
    """A copied binlog has every file stamped within one millisecond;
    the file source must then consume it in NAME order (the log's
    sequence), not in directory-listing order — and still skip
    ``_``-prefixed entries such as a writer's ``_temporary`` dir."""
    import os

    event_dir = str(tmp_path / "binlog")
    os.makedirs(event_dir)
    src = str(tmp_path / "src")
    sizes = [40, 10, 30, 20, 50]
    paths = write_event_batches(src, n_events=sum(sizes), n_batches=1, seed=5)
    import pandas as pd

    ev = pd.read_parquet(paths[0])
    bounds = [sum(sizes[:i]) for i in range(len(sizes) + 1)]
    for i in (3, 0, 4, 1, 2):  # written out of name order
        p = os.path.join(event_dir, f"batch-{i:05d}.parquet")
        ev.iloc[bounds[i] : bounds[i + 1]].to_parquet(p, index=False)
    # a writer's in-flight output and markers are never epochs
    os.makedirs(os.path.join(event_dir, "_temporary", "0", "task_0"))
    ev.iloc[:7].to_parquet(
        os.path.join(event_dir, "_temporary", "0", "task_0", "part-0.parquet"), index=False
    )
    open(os.path.join(event_dir, "_SUCCESS"), "w").close()
    for name in os.listdir(event_dir):
        os.utime(os.path.join(event_dir, name), (1_700_000_000, 1_700_000_000))
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2)
    metrics = CdcPipeline(spark, event_dir, table, str(tmp_path / "ck")).run_until_idle()
    assert [m["events"] for m in metrics] == sizes


def test_missing_binlog_dir_raises(spark, tmp_path):
    """A mistyped or missing binlog directory fails when the stream is
    built, as a plain path did — the name-ordered glob must not turn
    it into a source that drains zero epochs (or waits forever)."""
    import pytest
    from pyspark.errors import AnalysisException

    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2)
    pipe = CdcPipeline(spark, str(tmp_path / "no_such_binlog"), table, str(tmp_path / "ck"))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        pipe.run_until_idle()
