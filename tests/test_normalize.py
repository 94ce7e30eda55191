"""Normalization functions (SURVEY.md §2.7): role canonicalization,
text cleaning (expr vs the Python reference), tool extraction,
fingerprint."""

from __future__ import annotations

from pyspark.sql import functions as F

from kahi_spark.functions.roles import ROLE_MAP, canonical_role_expr
from kahi_spark.functions.text import (
    clean_text_expr,
    clean_text_py,
    fingerprint_expr,
    fold_text_pandas,
)
from kahi_spark.functions.tools import extract_tool_expr


def test_role_canonicalization(spark):
    raws = ["USER", " Assistant ", "ai", "human", "SYSTEM", "function", "martian", None]
    df = spark.createDataFrame([(r,) for r in raws], ["role"])
    got = [r[0] for r in df.select(canonical_role_expr("role")).collect()]
    assert got == ["user", "assistant", "assistant", "user", "system", "tool", None, None]
    # default fill
    got2 = [r[0] for r in df.select(canonical_role_expr("role", default="unknown")).collect()]
    assert got2[6] == "unknown"
    # vocabulary closed over canonical 4
    assert set(ROLE_MAP.values()) == {"user", "assistant", "system", "tool"}


DIRTY = [
    ("  hello   world  ", "hello world"),
    ("\\emph some \\textbf title", "some title"),
    ("a $x_i^2$ b", "a xi2 b"),
    ("{braces} stay_not", "braces staynot"),
    (None, None),
    ("", ""),
]


def test_clean_text_expr_and_reference_agree(spark):
    df = spark.createDataFrame([(d,) for d, _ in DIRTY], ["text"])
    expr_out = [r[0] for r in df.select(clean_text_expr("text")).collect()]
    py_out = [clean_text_py(d) for d, _ in DIRTY]
    want = [w for _, w in DIRTY]
    assert expr_out == want
    assert py_out == want


def test_fold_text_accents(spark):
    df = spark.createDataFrame([("Café RÉSUMÉ naïve",), ("ASCII only",)], ["text"])
    got = [r[0] for r in df.select(fold_text_pandas(F.col("text"))).collect()]
    assert got == ["cafe resume naive", "ascii only"]


def test_tool_extraction(spark):
    rows = [
        ("plain text", None, None),
        ("<tool:search> find it", None, "search"),
        ("[tool=python] run", None, "python"),
        ("<tool:embedded> x", "explicit", "explicit"),  # explicit column wins
        ("no marker", "  ", None),  # blank explicit = missing
    ]
    df = spark.createDataFrame([(t, c) for t, c, _ in rows], ["text", "tool"])
    got = [r[0] for r in df.select(extract_tool_expr("text", "tool")).collect()]
    assert got == [w for _, _, w in rows]


def test_fingerprint(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("  ",), (None,), ("single",)], ["text"]
    )
    fp = df.select(fingerprint_expr("text").alias("fp")).collect()
    import hashlib

    assert fp[0][0] == hashlib.md5(b"a b c").hexdigest()


def test_clean_text_unicode_ws_parity(spark):
    """Java's \\s is ASCII-only; the Python mirror must not collapse
    NBSP/U+2003 where the JVM expr keeps them (round-5 fix — divergent
    cleaners would give the same text different dedup fingerprints
    depending on which path cleaned it)."""
    s = "a b   c\td  e "
    df = spark.createDataFrame([(s,)], "text string")
    expr_out = df.select(clean_text_expr("text")).first()[0]
    py_out = clean_text_py(s)
    assert expr_out == py_out
    assert " " in expr_out  # NBSP survives (NOT Java whitespace)
    assert " " in expr_out  # em-space survives too
    assert "\t" not in expr_out  # ASCII ws still collapses everywhere
