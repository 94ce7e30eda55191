"""Per-source raw-feed normalizers (SURVEY.md P4/P5 — the Spark
re-expression of Kahi's per-source parsers, ``KahiParser.py:136-206``
dispatching to the seven source modules: ``Lens.py``,
``WebOfScience.py``, ``Scopus.py``, ``Scielo.py:22``,
``Scholar.py:13``, ``Oadoi/Oadoi.py:12``, ``Doaj/Doaj.py:12``).

Each upstream feed delivers change records as JSON payloads in its
own incompatible shape (FIXTURES.md §5). One ``from_json`` + struct
expression per source maps it to the canonical EVENT shape; the
dispatcher ``normalize_feeds`` is a single CASE-WHEN over the parsed
per-source structs — ONE input scan regardless of fan-in (a
union-of-filters shape re-reads the source once per feed: 7 feeds ×
100 TB = 7 full passes; CASE branches evaluate lazily per row in
whole-stage codegen, so each payload is parsed by exactly one
branch).

Feed shapes (transcript-flavored analogues of the reference's raw
databases):

* ``lens``    — nested JSON (reference Lens: nested dicts)
* ``wos``     — flat 2-letter tag fields (reference WoS: TI/AB/PY…)
* ``scopus``  — human-readable CSV-export headers with spaces
* ``scielo``  — Spanish field names, dd/MM/yyyy dates, ALTA/BAJA ops
  (reference Scielo is the Latin-American feed)
* ``scholar`` — cluster-keyed with epoch-millis timestamps
* ``oadoi``   — enrichment feed: text-only updates (reference OADOI
  adds open-access info to existing records)
* ``doaj``    — enrichment feed: tool/journal metadata only
  (reference DOAJ supplies journal metadata keyed by ISSN)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

LENS_PAYLOAD = T.StructType(
    [
        T.StructField("conversation", T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("turn", T.IntegerType()),
        ])),
        T.StructField("speaker", T.StructType([T.StructField("role", T.StringType())])),
        T.StructField("body", T.StringType()),
        T.StructField("tool", T.StructType([T.StructField("name", T.StringType())])),
        T.StructField("sent_at", T.StringType()),  # ISO-8601
        T.StructField("operation", T.StringType()),
    ]
)

WOS_PAYLOAD = T.StructType(
    [
        T.StructField("CI", T.StringType()),   # conv id, composite "WOS:<id>"
        T.StructField("TI", T.IntegerType()),  # turn index
        T.StructField("RO", T.StringType()),   # role tag
        T.StructField("TX", T.StringType()),   # text
        T.StructField("TL", T.StringType()),   # tool
        T.StructField("TS", T.LongType()),     # epoch seconds
        T.StructField("OP", T.StringType()),   # I/U/D single-letter op
    ]
)

SCOPUS_PAYLOAD = T.StructType(
    [
        T.StructField("Conv Id", T.StringType()),
        T.StructField("Turn", T.StringType()),      # stringly-typed int
        T.StructField("Role", T.StringType()),
        T.StructField("Text", T.StringType()),
        T.StructField("Tool", T.StringType()),
        T.StructField("Timestamp", T.StringType()), # ISO-8601
        T.StructField("Op", T.StringType()),
    ]
)

SCIELO_PAYLOAD = T.StructType(
    [
        T.StructField("codigo", T.StringType()),  # composite "sci:<conv>"
        T.StructField("turno", T.StringType()),   # composite "T<k>"
        T.StructField("papel", T.StringType()),
        T.StructField("texto", T.StringType()),
        T.StructField("herramienta", T.StringType()),
        T.StructField("fecha", T.StringType()),   # dd/MM/yyyy HH:mm:ss
        T.StructField("accion", T.StringType()),  # ALTA / CAMBIO / BAJA
    ]
)

SCHOLAR_PAYLOAD = T.StructType(
    [
        T.StructField("cluster", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("who", T.StringType()),
        T.StructField("snippet", T.StringType()),
        T.StructField("ts_ms", T.LongType()),     # epoch millis
        T.StructField("verb", T.StringType()),    # add / mod / del
    ]
)

OADOI_PAYLOAD = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("turn", T.IntegerType()),
        T.StructField("oa_text", T.StringType()),
        T.StructField("updated", T.StringType()),  # ISO-8601
    ]
)

DOAJ_PAYLOAD = T.StructType(
    [
        T.StructField("conv", T.StringType()),
        T.StructField("turn", T.IntegerType()),
        T.StructField("tool_name", T.StringType()),
        T.StructField("updated_epoch", T.LongType()),
    ]
)

#: canonical event value fields emitted by every normalizer
CANON_FIELDS = ("op", "conv_id", "turn_idx", "role", "text", "tool", "ts")


def _canon(op, conv_id, turn_idx, role, text, tool, ts) -> Column:
    """Force every branch to the identical struct schema (CASE-WHEN
    branches must agree exactly)."""
    return F.struct(
        op.cast("string").alias("op"),
        conv_id.cast("string").alias("conv_id"),
        turn_idx.cast("int").alias("turn_idx"),
        role.cast("string").alias("role"),
        text.cast("string").alias("text"),
        tool.cast("string").alias("tool"),
        ts.cast("timestamp").alias("ts"),
    )


def lens_fields(p: Column) -> Column:
    """Nested-JSON feed → canonical struct (``Lens.py:13-143``)."""
    return _canon(
        F.coalesce(p["operation"], F.lit("insert")),
        p["conversation"]["id"],
        p["conversation"]["turn"],
        p["speaker"]["role"],
        p["body"],
        p["tool"]["name"],
        F.try_to_timestamp(p["sent_at"]),
    )


def wos_fields(p: Column) -> Column:
    """Flat-tag feed → canonical struct (``WebOfScience.py:23-182``;
    composite id split per F15, ``WebOfScience.py:163``)."""
    op = (
        F.when(p["OP"] == "D", "delete")
        .when(p["OP"] == "U", "update")
        .otherwise("insert")
    )
    return _canon(
        op,
        F.element_at(F.split(p["CI"], ":"), -1),
        p["TI"],
        p["RO"],
        p["TX"],
        p["TL"],
        F.timestamp_seconds(p["TS"]),
    )


def scopus_fields(p: Column) -> Column:
    """CSV-export-header feed → canonical struct
    (``Scopus.py:17-157``; stringly ints use the F8 safe cast)."""
    from kahi_spark.functions.scalars import safe_int_expr

    return _canon(
        F.lower(F.coalesce(p["Op"], F.lit("insert"))),
        p["Conv Id"],
        safe_int_expr(p["Turn"]),
        p["Role"],
        p["Text"],
        p["Tool"],
        F.try_to_timestamp(p["Timestamp"]),
    )


def scielo_fields(p: Column) -> Column:
    """Spanish-keyed feed → canonical struct (``Scielo.py:22-146``:
    field-name translation, op vocabulary map, dd/MM/yyyy dates,
    composite 'T<k>' turn per F15)."""
    op = (
        F.when(p["accion"] == "BAJA", "delete")
        .when(p["accion"] == "CAMBIO", "update")
        .otherwise("insert")
    )
    return _canon(
        op,
        F.element_at(F.split(p["codigo"], ":"), -1),
        F.substring(p["turno"], 2, 10).try_cast("int"),
        p["papel"],
        p["texto"],
        p["herramienta"],
        F.try_to_timestamp(p["fecha"], F.lit("dd/MM/yyyy HH:mm:ss")),
    )


def scholar_fields(p: Column) -> Column:
    """Cluster-keyed feed → canonical struct (``Scholar.py:13-125``;
    epoch-millis timestamps)."""
    op = (
        F.when(p["verb"] == "del", "delete")
        .when(p["verb"] == "mod", "update")
        .otherwise("insert")
    )
    return _canon(
        op,
        p["cluster"],
        p["pos"],
        p["who"],
        p["snippet"],
        F.lit(None),
        F.timestamp_millis(p["ts_ms"]),
    )


def oadoi_fields(p: Column) -> Column:
    """Enrichment feed: text-only UPDATE events (``Oadoi.py:12-60``:
    OADOI never creates records, it enriches existing ones — op is
    always update; the merge layer's fill policies decide what
    lands)."""
    return _canon(
        F.lit("update"),
        p["id"],
        p["turn"],
        F.lit(None),
        p["oa_text"],
        F.lit(None),
        F.try_to_timestamp(p["updated"]),
    )


def doaj_fields(p: Column) -> Column:
    """Enrichment feed: tool-metadata-only UPDATE events
    (``Doaj.py:12-58``: DOAJ supplies journal metadata for existing
    serials — here, tool annotations for existing turns)."""
    return _canon(
        F.lit("update"),
        p["conv"],
        p["turn"],
        F.lit(None),
        F.lit(None),
        p["tool_name"],
        F.timestamp_seconds(p["updated_epoch"]),
    )




SCHEMAS = {
    "lens": LENS_PAYLOAD,
    "wos": WOS_PAYLOAD,
    "scopus": SCOPUS_PAYLOAD,
    "scielo": SCIELO_PAYLOAD,
    "scholar": SCHOLAR_PAYLOAD,
    "oadoi": OADOI_PAYLOAD,
    "doaj": DOAJ_PAYLOAD,
}

FIELDS = {
    "lens": lens_fields,
    "wos": wos_fields,
    "scopus": scopus_fields,
    "scielo": scielo_fields,
    "scholar": scholar_fields,
    "oadoi": oadoi_fields,
    "doaj": doaj_fields,
}




def _from_struct(feed: DataFrame, src: str) -> DataFrame:
    """Single-source normalizer with EXACTLY ``normalize_feeds``'s
    semantics (the parity test unions these against the one-scan
    dispatch): payload parsed ONCE into its own column (building the
    canonical struct straight off ``from_json`` re-parses the payload
    once per field — measured 3.5× the whole normalize cost), then
    the same two malformed-payload guards — a NULL parse is skipped,
    and a truncated-but-parseable payload (struct of all-null fields)
    is dropped by the content filter instead of becoming a phantom
    all-null insert (round-5 review)."""
    parsed = feed.select(
        "seq", F.from_json(F.col("payload"), SCHEMAS[src]).alias("_p")
    )
    fields = FIELDS[src](F.col("_p"))
    return (
        parsed.select(
            "seq", F.when(F.col("_p").isNotNull(), fields).alias("_c")
        )
        .filter(F.col("_c").isNotNull())
        .filter(F.col("_c.conv_id").isNotNull() | F.col("_c.text").isNotNull())
        .select(
            "seq",
            *[F.col(f"_c.{f}").alias(f) for f in CANON_FIELDS],
            F.lit(src).alias("source"),
        )
    )


NORMALIZERS = {src: (lambda f, s=src: _from_struct(f, s)) for src in SCHEMAS}


import functools


@functools.lru_cache(maxsize=1)
def _dispatch_exprs() -> tuple:
    """The fixed Column trees of the one-scan dispatcher, built ONCE
    per process (round 7): every expression here references only the
    constant column names ``source``/``payload``/``_p_<src>``, so the
    trees are input-independent and reusable across DataFrames and
    sessions in one JVM — rebuilding them cost ~0.4 s of py4j
    round-trips on every normalize_feeds call (two gated queries and
    the feed cache builder each pay it)."""
    parsed_cols = tuple(
        F.when(F.col("source") == src, F.from_json(F.col("payload"), SCHEMAS[src]))
        .alias(f"_p_{src}")
        for src in SCHEMAS
    )
    expr: Column | None = None
    for src, fn in FIELDS.items():
        # gate on the PARSED struct: from_json returns NULL for a
        # malformed payload, but a canonical struct BUILT from that
        # null parse is itself non-null (a struct of nulls with op
        # defaulted to 'insert') — without this guard a truncated
        # payload for a known source became a phantom all-null insert
        # instead of being skipped (round-5 review finding; the
        # reference drops unparseable records, Lens.py:21-24)
        branch = F.when(F.col(f"_p_{src}").isNotNull(), fn(F.col(f"_p_{src}")))
        expr = (
            F.when(F.col("source") == src, branch)
            if expr is None
            else expr.when(F.col("source") == src, branch)
        )
    assert expr is not None
    return parsed_cols, expr


def normalize_feeds(feed: DataFrame) -> DataFrame:
    """P5 dispatch in ONE scan: a CASE-WHEN over the per-source parsed
    structs. ``feed`` has (seq, source, payload). Unknown sources
    yield a NULL struct (dropped — the reference skips unparseable
    records too).

    Each source's ``from_json`` materializes as its OWN source-gated
    column first (``when(source==s, from_json(...))`` — lazy, so each
    row is parsed exactly once, by its own schema), and the CASE
    branches only EXTRACT fields from the parsed structs. Referencing
    ``from_json`` directly inside the branch struct would re-parse
    the payload once per canonical field (7×/row — measured 3.5× the
    whole normalize cost; the same re-evaluation family as the
    transform-lambda and CollapseProject pitfalls)."""
    parsed_cols, expr = _dispatch_exprs()
    parsed = feed.select("seq", "source", *parsed_cols)
    return (
        parsed.select("seq", "source", expr.alias("_c"))
        .filter(F.col("_c").isNotNull())
        # parse-failure detection must be CONTENT-based: from_json
        # returns a struct of all-null FIELDS for malformed JSON (a
        # null struct only for an empty payload), so a truncated
        # payload would otherwise become a phantom all-null insert.
        # A record with neither key nor text is unusable by every
        # feed (the enrichment feeds always carry the key) — matching
        # the reference's skip of unparseable records.
        .filter(
            F.col("_c.conv_id").isNotNull() | F.col("_c.text").isNotNull()
        )
        .select("seq", *[F.col(f"_c.{f}").alias(f) for f in CANON_FIELDS], "source")
    )
