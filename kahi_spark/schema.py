"""Canonical schemas for the transcript table and the change log.

The canonical sink row is the BASELINE input_hint shape:
``(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` — the CDC reframing of Kahi's
normalized "colav" record (reference empty-record constructors
``KahiParser.py:53-134``). Missing values are NULL, never ""/[]
(the reference's sentinel encoding is coerced only at
parity-comparison boundaries — ``KahiParser.py:53-134``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- canonical sink row (BASELINE.json input_hint) ------------------------
TRANSCRIPT_FIELDS = [
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
]
TRANSCRIPT_SCHEMA = T.StructType(TRANSCRIPT_FIELDS)

# --- change-event row (the binlog/WAL record; CDC reframing of Kahi's
#     stage-collection scan, reference KahiDb.py:476,517,530) ---------------
EVENT_FIELDS = [
    T.StructField("seq", T.LongType(), False),  # global monotone log position
    T.StructField("op", T.StringType(), False),  # insert | update | delete
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),  # raw, uncanonicalized
    T.StructField("text", T.StringType(), True),  # raw, uncleaned
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("source", T.StringType(), True),  # feed name (lens-like…)
]
EVENT_SCHEMA = T.StructType(EVENT_FIELDS)

# Key of the logical entity: one canonical record per (conv_id, turn_idx)
# (reference: one colav document per DOI, KahiDb.py:291-330).
KEY_COLS = ["conv_id", "turn_idx"]

OPS = ("insert", "update", "delete")


def evolve_schema(
    base: T.StructType, incoming: T.StructType
) -> tuple[T.StructType, list[T.StructField]]:
    """Merge ``incoming``'s new top-level columns into ``base``.

    Returns (evolved schema, list of added fields). Mirrors Kahi's
    ad-hoc field addition (e.g. ``conference_name`` only for
    conference papers, reference ``Scopus.py:92-100``) as explicit
    Iceberg-style ADD COLUMN evolution: new columns append, existing
    columns keep their type (a ``NullType`` one, all-None so far, takes
    the first concrete type that arrives), removed columns persist as NULL.
    """
    have = {f.name for f in base.fields}
    typed = {f.name: f.dataType for f in incoming.fields if not isinstance(f.dataType, T.NullType)}
    kept = [
        T.StructField(f.name, typed[f.name], True)
        if isinstance(f.dataType, T.NullType) and f.name in typed else f
        for f in base.fields
    ]
    added = [
        T.StructField(f.name, f.dataType, True)
        for f in incoming.fields
        if f.name not in have
    ]
    return T.StructType(kept + added), added
