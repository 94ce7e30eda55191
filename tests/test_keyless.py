"""EP3 keyless-event resolution: fuzzy re-key against table state,
standalone and end-to-end through the pipeline."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kahi_spark.operators.keyless import resolve_keyless_events
from kahi_spark.schema import TRANSCRIPT_SCHEMA

NULLABLE_EVENTS = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("source", T.StringType()),
    ]
)


def ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def test_resolver_matches_blocks_and_mints(spark):
    state = spark.createDataFrame(
        [
            ("c1", 0, "user", "the quick brown fox jumps over the lazy dog", None, ts(0)),
            ("c2", 0, "user", "completely different conversation text here", None, ts(0)),
            ("c1", 1, "assistant", "spark merges streams of change events", None, ts(1)),
        ],
        TRANSCRIPT_SCHEMA,
    )
    events = spark.createDataFrame(
        [
            # near-dup of c1 turn 0 (same block) → resolves to c1
            (10, "update", None, 0, "user", "the quick brown fox jumps over the lazy dogs", None, ts(10), "wos"),
            # wrong block (turn 5): same text must NOT match
            (11, "insert", None, 5, "user", "the quick brown fox jumps over the lazy dog", None, ts(11), "wos"),
            # no similar text anywhere → minted surrogate
            (12, "insert", None, 0, "user", "zzzz qqqq xxxx wwww vvvv", None, ts(12), "wos"),
            # keyed events pass through untouched
            (13, "insert", "c9", 3, "user", "whatever", None, ts(13), "lens"),
        ],
        NULLABLE_EVENTS,
    )
    out = {r.seq: r.conv_id for r in resolve_keyless_events(events, state).collect()}
    assert out[10] == "c1"
    assert out[11] == "u11"  # blocked out despite identical text
    assert out[12] == "u12"
    assert out[13] == "c9"
    # the single-key blocking scores a candidate SUPERSET — identical
    # resolutions on this fixture, no slot/bucket fan-out
    out2 = {
        r.seq: r.conv_id
        for r in resolve_keyless_events(events, state, blocking="single").collect()
    }
    assert out2 == out


def test_pipeline_resolves_keyless_end_to_end(spark, tmp_path):
    from kahi_spark.sinks.snapshot import SnapshotTable
    from kahi_spark.streaming.pipeline import CdcPipeline

    event_dir = str(tmp_path / "ev")
    os.makedirs(event_dir)
    b0 = pd.DataFrame(
        {
            "seq": [0, 1],
            "op": ["insert", "insert"],
            "conv_id": pd.array(["c1", "c1"], dtype="string"),
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["USER", "ai"],
            "text": ["alpha beta gamma delta epsilon zeta", "eta theta iota kappa"],
            "tool": pd.array([None, None], dtype="string"),
            "ts": pd.to_datetime([1_704_067_200, 1_704_067_210], unit="s").astype("datetime64[us]"),
            "source": ["lens", "lens"],
        }
    )
    # batch 2: a keyless UPDATE of c1 turn 0 (text near-dup) + a
    # keyless brand-new turn
    b1 = pd.DataFrame(
        {
            "seq": [2, 3],
            "op": ["update", "insert"],
            "conv_id": pd.array([None, None], dtype="string"),
            "turn_idx": pd.array([0, 7], dtype="int32"),
            "role": ["human", "USER"],
            "text": ["alpha beta gamma delta epsilon zetas", "totally new content words"],
            "tool": pd.array([None, None], dtype="string"),
            "ts": pd.to_datetime([1_704_067_300, 1_704_067_310], unit="s").astype("datetime64[us]"),
            "source": ["wos", "wos"],
        }
    )
    b0.to_parquet(f"{event_dir}/b0.parquet", index=False)
    table = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=2)
    pipe = CdcPipeline(
        spark, event_dir, table, str(tmp_path / "ck"),
        schema=NULLABLE_EVENTS, resolve_keyless=True,
    )
    pipe.run_until_idle()
    b1.to_parquet(f"{event_dir}/b1.parquet", index=False)
    CdcPipeline(
        spark, event_dir, table, str(tmp_path / "ck"),
        schema=NULLABLE_EVENTS, resolve_keyless=True,
    ).run_until_idle()

    rows = {(r.conv_id, r.turn_idx): r.text for r in table.read().collect()}
    # the keyless update landed on c1/0 (LWW: newer ts wins)
    assert rows[("c1", 0)] == "alpha beta gamma delta epsilon zetas"
    # the unmatched keyless insert minted u3
    assert rows[("u3", 7)] == "totally new content words"
    assert len(rows) == 3


def test_degenerate_text_mints_surrogates(spark):
    """Contentless probes (empty / NULL / 1-char text) carry NO
    features and must mint surrogates — the old bigram floor gave
    '' the phantom feature [''] (and NULL [NULL]), so two
    contentless rows scored jaccard 1.0 and the probe adopted an
    arbitrary conversation (round-5 review, verified). Checked under
    BOTH blocking modes and against a state that itself contains an
    empty-text row."""
    state = spark.createDataFrame(
        [
            ("c1", 0, "user", "", None, ts(0)),  # empty text in state
            ("c2", 0, "user", None, None, ts(0)),  # NULL text in state
            ("c3", 0, "user", "the quick brown fox jumps high", None, ts(1)),
        ],
        TRANSCRIPT_SCHEMA,
    )
    events = spark.createDataFrame(
        [
            (20, "insert", None, 0, "user", "", None, ts(20), "wos"),
            (21, "insert", None, 0, "user", None, None, ts(21), "wos"),
            (22, "insert", None, 0, "user", "x", None, ts(22), "wos"),
            # sanity: a real match still resolves
            (23, "update", None, 0, "user", "the quick brown fox jumps high", None, ts(23), "wos"),
        ],
        NULLABLE_EVENTS,
    )
    for blocking in ("single", "conjunctive"):
        out = {
            r.seq: r.conv_id
            for r in resolve_keyless_events(events, state, blocking=blocking).collect()
        }
        assert out[20] == "u20", (blocking, out)
        assert out[21] == "u21", (blocking, out)
        assert out[22] == "u22", (blocking, out)
        assert out[23] == "c3", (blocking, out)


def test_mid_below_bucket_geometry_rejected(spark):
    """The conjunctive size-bucket geometry only guarantees recall
    down to jaccard >= MID — a looser `mid` must be rejected loudly
    for bucketed blocking (candidates between the two thresholds
    would silently never generate), while blocking='single' has no
    bucket key and accepts it (round-5 review)."""
    import pytest

    state = spark.createDataFrame(
        [("c1", 0, "user", "alpha beta gamma delta", None, ts(0))],
        TRANSCRIPT_SCHEMA,
    )
    events = spark.createDataFrame(
        [(1, "insert", None, 0, "user", "alpha beta gamma delta", None, ts(1), "wos")],
        NULLABLE_EVENTS,
    )
    with pytest.raises(ValueError, match="size-bucket"):
        resolve_keyless_events(events, state, mid=0.5)
    out = resolve_keyless_events(events, state, mid=0.5, blocking="single").collect()
    assert out[0].conv_id == "c1"
