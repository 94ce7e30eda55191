"""Change-log sources.

* ``read_event_log`` / ``stream_event_log`` — batch / streaming
  readers over a Parquet binlog directory (the CDC reframing of
  Kahi's stage-collection iteration, reference ``KahiDb.py:476,517``).
  In production the same pipeline would point at Kafka; the file
  source keeps the sandbox hermetic while exercising identical
  Structured Streaming semantics (offsets, ordered discovery).
* ``derive_transcript_events`` — deterministic projection of the
  driver's generic ``events`` table into the transcript change-log
  shape. Defined ONCE as ANSI SQL so the Spark engine and the DuckDB
  oracle run literally the same derivation (parity by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kahi_spark.schema import EVENT_SCHEMA

# ANSI SQL, valid in both Spark SQL and DuckDB. Maps the driver's
# (event_id, ts, user_id, event_type, value, props) rows into
# insert/update/delete transcript events with raw roles and noisy
# text that the normalizer must canonicalize. NOTE: the TeX-ish
# backslash is spelled chr(92) because Spark SQL unescapes
# backslashes in string literals and DuckDB does not — chr(92) is
# the portable spelling.
DERIVE_EVENTS_SQL = """
SELECT
    event_id                                   AS seq,
    CASE
        WHEN event_type = 'purchase' THEN 'delete'
        WHEN event_type IN ('view', 'signup') THEN 'insert'
        ELSE 'update'
    END                                        AS op,
    'c' || CAST(user_id % 40 AS STRING)        AS conv_id,
    CAST(event_id % 25 AS INT)                 AS turn_idx,
    CASE event_type
        WHEN 'view'     THEN 'USER'
        WHEN 'click'    THEN 'Assistant'
        WHEN 'signup'   THEN 'SYSTEM'
        WHEN 'error'    THEN 'function'
        ELSE 'ai'
    END                                        AS role,
    '  ' || chr(92) || 'emph ' || event_type || '  turn $'
        || CAST(event_id AS STRING) || '$ ' || props AS text,
    CASE WHEN event_type = 'error' THEN 'search' ELSE NULL END AS tool,
    ts                                         AS ts,
    'src' || CAST(event_id % 3 AS STRING)      AS source
FROM {events}
"""


def derive_transcript_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript change log derived from the driver events table
    (read through the once-per-sf resharded copy — the single-file
    original caps the derive+normalize map side at one scan task; see
    ``sources/testdata.py``)."""
    from kahi_spark.sources.testdata import read_table

    events = read_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("_raw_events")
    return spark.sql(DERIVE_EVENTS_SQL.format(events="_raw_events"))


def derive_events_duckdb_sql(events_view: str = "events") -> str:
    """The same derivation as a DuckDB subquery (oracle side)."""
    return DERIVE_EVENTS_SQL.format(events=events_view)


# clean_text_expr parity fragment: TeX strip, markup strip, ws
# collapse, trim. Raw string: DuckDB string literals do no escape
# processing, so the SQL must carry a doubled backslash for RE2 to
# see an escaped '\'. The whitespace class is spelled EXPLICITLY:
# RE2's '\s' is [\t\n\f\r ] while the Spark side runs Java's \s,
# which also includes vertical tab \x0B — an \x0B in any event text
# would silently diverge engine and oracle on every downstream
# value hash (round-5 review; same class as functions.text._WS_RE_PY).
CLEAN_TEXT_SQL = (
    r"trim(regexp_replace(regexp_replace(regexp_replace("
    r"{col}, '\\[a-zA-Z]+', '', 'g'), '[$_^{{}}]', '', 'g'), "
    r"'[ \t\n\x0B\f\r]+', ' ', 'g'))"
)


def norm_events_cte() -> str:
    """derive + normalize (role canonicalization F11, text cleaning
    F7) as a shared oracle CTE prefix — the SQL mirror of
    ``normalize_events(derive_transcript_events(...))``."""
    from kahi_spark.functions.roles import role_case_sql

    return (
        "WITH ev AS ("
        + derive_events_duckdb_sql("events")
        + "),\nnorm AS (\n    SELECT seq, op, conv_id, turn_idx,\n           "
        + role_case_sql("role")
        + " AS role,\n           "
        + CLEAN_TEXT_SQL.format(col="text")
        + " AS text,\n           tool, ts, source\n    FROM ev\n)\n"
    )


def read_event_log(spark: SparkSession, path: str) -> DataFrame:
    """Batch scan of the Parquet binlog directory (SURVEY.md S1).

    Reads with the FIXED event schema — evolved extra columns in
    later binlog files surface through the sink's ADD COLUMN path
    (``schema.evolve_schema``), not parquet schema merging (Spark
    ignores ``mergeSchema`` whenever a user schema is supplied, so
    carrying the option here only implied behavior that never
    happened — round-5 review)."""
    return spark.read.schema(EVENT_SCHEMA).parquet(path)


def stream_event_log(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Structured Streaming tail of the binlog directory.

    ``maxFilesPerTrigger=1`` makes each binlog batch one micro-batch
    (one epoch), which is what the exactly-once ledger keys on.

    Epoch order is the file source's: oldest modification time first
    (millisecond resolution). Files with EQUAL times — a copied or
    restored binlog, whose copy stamps every file within the same
    millisecond — used to follow the directory listing order, which
    is filesystem hash order: a copied 3-file log replayed as epochs
    0, 2, 1, and the keyless resolver and the dedup index (both
    order-dependent by design: earlier epochs are the state later
    ones match against) ended one surrogate apart. Streaming from a
    glob over the directory's entries breaks those ties by file NAME
    (the binlog's own sequence: Hadoop's globber returns matches
    sorted), so one log always replays the same way. The glob skips
    ``_``/``.``-prefixed names, as the directory listing did: a
    writer's ``_temporary`` output must never become an epoch. Times
    out of name order still win: copy binlogs with timestamps
    preserved (``cp -p``).

    Spark checks that a plain path exists when the stream is built,
    but not a glob: a missing binlog directory is checked here through
    the Hadoop FileSystem (remote URIs included) and raises Spark's
    own ``PATH_NOT_FOUND`` — otherwise ``run_until_idle`` drains zero
    epochs and ``run_continuous`` waits on it forever.
    """
    reader = (
        spark.readStream.schema(schema or EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
    )
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return reader.parquet(path)  # raises PATH_NOT_FOUND
    return reader.parquet(path.rstrip("/") + "/[!_.]*")
