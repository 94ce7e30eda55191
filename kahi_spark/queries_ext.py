"""Round-2 query registry extension: oracle-gated ``queries()``
entries for every operator that was pytest-only in round 1
(VERDICT.md "Next round" #2) — staged entity-linking lookups
(J8-J10), positional list alignment (A7/W2), field-level merge
policies (A6/A9/W3), complement merge (J5), 7-source raw-feed
normalize + dispatch (P4/P5/F18) and 7-deep priority convergence
(A1), scalar codes (F8/F12/F14/F16), CSV work-list (S5/S9), the
keyless-event resolver (EP3), the staged fuzzy cascade (J6/J7),
portable SimHash banding, quantized-LSH ANN and near-dup pairs, and
the gazetteer contains-join (F13).

Same contract as ``queries.py``: the Spark side is idiomatic
DataFrame API; the oracle side is DuckDB SQL with IDENTICAL
semantics and IDENTICAL column aliases; floats rounded on both
sides; timestamps exported as epoch BIGINT where truncation is part
of the semantics.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kahi_spark.functions.scalars import (
    COUNTRY_ALIASES,
    country_alpha2_expr,
    issn_format_expr,
    name_parts_expr,
    safe_int_expr,
)
from kahi_spark.operators.similarity import lsh_planes
from kahi_spark.sources.events import derive_events_duckdb_sql, derive_transcript_events


# reshard/original routing — single implementation, rationale there
from kahi_spark.sources.testdata import read_query_table as _read  # noqa: E402


# ---------------------------------------------------------------------------
# J8-J10: staged entity-linking lookup (id stage → alias fallback)
# ---------------------------------------------------------------------------


def q_staged_lookup_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference probe-by-id-then-by-alias chains (``KahiDb.py:
    554-567`` authors, ``:626-646`` institutions, ``:753-758``
    serials): stage 0 probes an exact name key (every third customer
    deliberately misses), stage 1 resolves the remainder by alias —
    with DUPLICATE alias keys so the within-stage first-hit (lowest
    dim id, W1) is exercised."""
    from kahi_spark.operators.linking import staged_lookup

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    nk = F.col("c_nationkey").cast("string")
    probe0 = cust.select(
        F.col("c_custkey").alias("probe_id"),
        F.when(F.col("c_custkey") % 3 == 0, F.concat(F.lit("MISS_"), nk))
        .otherwise(F.concat(F.lit("NATION_"), nk))
        .alias("key"),
    )
    dim0 = nation.select(
        F.col("n_name").alias("key"), F.col("n_nationkey").cast("long").alias("dim_id")
    )
    probe1 = cust.select(
        F.col("c_custkey").alias("probe_id"), F.concat(F.lit("alias_"), nk).alias("key")
    )
    alias_key = F.concat(F.lit("alias_"), F.col("n_nationkey").cast("string"))
    dim1 = nation.select(
        alias_key.alias("key"), F.col("n_nationkey").cast("long").alias("dim_id")
    ).unionByName(
        nation.select(
            alias_key.alias("key"),
            (F.col("n_nationkey") + 100).cast("long").alias("dim_id"),
        )
    )
    return staged_lookup([(probe0, dim0), (probe1, dim1)])


ORACLE_STAGED_LOOKUP = """
WITH p0 AS (
    SELECT c_custkey AS probe_id,
           CASE WHEN c_custkey % 3 = 0 THEN 'MISS_' || CAST(c_nationkey AS STRING)
                ELSE 'NATION_' || CAST(c_nationkey AS STRING) END AS key
    FROM customer
),
d0 AS (SELECT n_name AS key, CAST(n_nationkey AS BIGINT) AS dim_id FROM nation),
s0 AS (SELECT probe_id, min(dim_id) AS dim_id FROM p0 JOIN d0 USING (key) GROUP BY probe_id),
p1 AS (
    SELECT c_custkey AS probe_id, 'alias_' || CAST(c_nationkey AS STRING) AS key
    FROM customer WHERE c_custkey NOT IN (SELECT probe_id FROM s0)
),
d1 AS (
    SELECT 'alias_' || CAST(n_nationkey AS STRING) AS key,
           CAST(n_nationkey AS BIGINT) AS dim_id FROM nation
    UNION ALL
    SELECT 'alias_' || CAST(n_nationkey AS STRING),
           CAST(n_nationkey + 100 AS BIGINT) FROM nation
),
s1 AS (SELECT probe_id, min(dim_id) AS dim_id FROM p1 JOIN d1 USING (key) GROUP BY probe_id)
SELECT probe_id, dim_id, 0 AS stage FROM s0
UNION ALL
SELECT probe_id, dim_id, 1 AS stage FROM s1
"""


# ---------------------------------------------------------------------------
# A7/W2: positional list alignment (author-list merge analogue)
# ---------------------------------------------------------------------------


def q_align_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``join_authors_institutions`` (``KahiParser.py:
    740-905``; positional assumption stated at ``:27``): the driver
    source's list supplies order and one field, the complement source
    fills the other field at the SAME POSITION. Built from the events
    table: per user, the 'lens' feed (even event_ids) has etype but
    no val; the 'wos' feed (odd) has val but no etype."""
    from kahi_spark.operators.align import align_positional_lists

    ev = _read(spark, sf_dir, "events")
    base = ev.select(
        F.col("user_id").alias("key"),
        F.when(F.col("event_id") % 2 == 0, "lens").otherwise("wos").alias("src"),
        "event_id",
        F.when(F.col("event_id") % 2 == 0, F.col("event_type")).alias("etype"),
        F.when(F.col("event_id") % 2 == 1, F.round("value", 4)).alias("val"),
    )
    lists = base.groupBy("key", "src").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_id", "etype", "val"))),
            lambda x: F.struct(x["etype"].alias("etype"), x["val"].alias("val")),
        ).alias("items")
    )
    merged = align_positional_lists(
        lists,
        key_cols=["key"],
        source_col="src",
        list_col="items",
        element_fields=["etype", "val"],
        priority=("lens", "wos"),
    )
    return merged.select(
        "key", F.posexplode("items").alias("pos", "el")
    ).select("key", "pos", F.col("el.etype").alias("etype"), F.col("el.val").alias("val"))


ORACLE_ALIGN_POSITIONAL = """
WITH base AS (
    SELECT user_id AS key,
           CASE WHEN event_id % 2 = 0 THEN 'lens' ELSE 'wos' END AS src,
           event_id,
           CASE WHEN event_id % 2 = 0 THEN event_type END AS etype,
           CASE WHEN event_id % 2 = 1 THEN round(value, 4) END AS val
    FROM events
),
pos AS (
    SELECT key, src,
           row_number() OVER (PARTITION BY key, src ORDER BY event_id) - 1 AS pos,
           etype, val,
           CASE src WHEN 'lens' THEN 0 ELSE 1 END AS rk
    FROM base
),
mins AS (SELECT key, min(rk) AS mrk FROM pos GROUP BY key),
drv AS (SELECT p.* FROM pos p JOIN mins m ON p.key = m.key AND p.rk = m.mrk),
oth AS (SELECT p.* FROM pos p JOIN mins m ON p.key = m.key AND p.rk > m.mrk),
best AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY key, pos ORDER BY rk) AS brn FROM oth
    ) WHERE brn = 1
)
SELECT d.key, CAST(d.pos AS INT) AS pos,
       coalesce(d.etype, b.etype) AS etype,
       coalesce(d.val, b.val) AS val
FROM drv d LEFT JOIN best b ON d.key = b.key AND d.pos = b.pos
"""


# ---------------------------------------------------------------------------
# A6/A9/W3 + S8: field-level merge policies through MERGE semantics
# ---------------------------------------------------------------------------


def q_merge_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's mod-patch computation (``KahiDb.py:571-622,
    650-732, 760-860``): lww (role/text = $set), fill_empty (tool —
    DOAJ-style fill, ``KahiParser.py:308-332``), union (tags —
    alias/keyword dedup-append), greatest (ts — max source_checked
    date, ``KahiDb.py:850-858``) — exercised through the full MERGE
    (even-seq events bootstrap state, odd-seq events merge in)."""
    from kahi_spark.operators.merge import (
        SYS_DELETED,
        SYS_SEQ,
        latest_change_per_key,
        merge_changes_into_state,
        state_from_reduced,
    )

    ev = derive_transcript_events(spark, sf_dir).withColumn(
        "tags", F.array("source", "op")
    )
    state = state_from_reduced(latest_change_per_key(ev.filter(F.col("seq") % 2 == 0)))
    changes = latest_change_per_key(ev.filter(F.col("seq") % 2 == 1))
    merged = merge_changes_into_state(
        state,
        changes,
        policies={"text": "lww", "tool": "fill_empty", "tags": "union", "ts": "greatest"},
    )
    return merged.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.concat_ws(",", F.array_sort("tags")).alias("tags"),
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.col(SYS_SEQ).alias("last_seq"),
        F.col(SYS_DELETED).cast("int").alias("deleted"),
    )


ORACLE_MERGE_POLICIES = f"""
WITH ev AS ({derive_events_duckdb_sql('events')}),
ev2 AS (SELECT *, [source, op] AS tags FROM ev),
h1 AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
        FROM ev2 WHERE seq % 2 = 0
    ) WHERE rn = 1
),
h2 AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
        FROM ev2 WHERE seq % 2 = 1
    ) WHERE rn = 1
),
j AS (
    SELECT coalesce(s.conv_id, c.conv_id) AS conv_id,
           coalesce(s.turn_idx, c.turn_idx) AS turn_idx,
           s.role AS s_role, s.text AS s_text, s.tool AS s_tool,
           s.ts AS s_ts, s.tags AS s_tags, s.seq AS s_seq,
           (s.op = 'delete') AS s_del,
           c.op AS c_op, c.role AS c_role, c.text AS c_text, c.tool AS c_tool,
           c.ts AS c_ts, c.tags AS c_tags, c.seq AS c_seq
    FROM h1 s FULL JOIN h2 c
      ON s.conv_id = c.conv_id AND s.turn_idx = c.turn_idx
),
w AS (
    SELECT *, (c_op IS NOT NULL AND (s_seq IS NULL OR c_ts > s_ts
               OR (c_ts = s_ts AND c_seq > s_seq))) AS wins
    FROM j
)
SELECT conv_id, turn_idx,
       CASE WHEN wins THEN c_role ELSE s_role END AS role,
       CASE WHEN wins THEN c_text ELSE s_text END AS text,
       CASE WHEN c_op IS NOT NULL THEN coalesce(s_tool, c_tool) ELSE s_tool END AS tool,
       CASE WHEN c_op IS NOT NULL
            THEN array_to_string(list_sort(list_distinct(
                     coalesce(s_tags, []) || coalesce(c_tags, []))), ',')
            ELSE array_to_string(list_sort(s_tags), ',') END AS tags,
       CAST(floor(epoch(CASE WHEN c_op IS NOT NULL THEN greatest(s_ts, c_ts)
                             ELSE s_ts END)) AS BIGINT) AS ts_epoch,
       CASE WHEN wins THEN c_seq ELSE s_seq END AS last_seq,
       CAST(CASE WHEN wins THEN (c_op = 'delete')
                 ELSE coalesce(s_del, false) END AS INT) AS deleted
FROM w
"""


# ---------------------------------------------------------------------------
# J5: complement merge (fill-empty + set-union after a match)
# ---------------------------------------------------------------------------


def q_complement_fill_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``find_complement`` (``KahiParser.py:668-738``): matched
    records fill each other's empty fields (coalesce) and set-union
    list fields. Every fifth document loses its lang; the complement
    record restores it and contributes tags."""
    from kahi_spark.operators.fuzzy import complement_merge

    docs = _read(spark, sf_dir, "documents")
    merged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(F.col("lang")).alias("lang"),
        F.array("source").alias("tags"),
    )
    fill = docs.select(
        "doc_id",
        F.concat(F.lit("xx-"), F.col("lang")).alias("lang"),
        F.array(F.lit("ext"), F.col("lang")).alias("tags"),
    )
    out = complement_merge(merged, fill, key=["doc_id"], fill_cols=["lang"], union_cols=["tags"])
    return out.select(
        "doc_id", "lang", F.concat_ws(",", F.array_sort("tags")).alias("tags")
    )


ORACLE_COMPLEMENT = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN 'xx-' || lang ELSE lang END AS lang,
       array_to_string(list_sort(list_distinct([source, 'ext', lang])), ',') AS tags
FROM documents
"""


# ---------------------------------------------------------------------------
# P4/P5/F18 + A1: 7-source raw-feed normalize, dispatch, convergence
# ---------------------------------------------------------------------------

_FEED_SOURCES = ("lens", "wos", "scopus", "scielo", "scholar", "oadoi", "doaj")


def _build_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 7-shape feed built FROM the events table: each
    derived change event is serialized into the payload shape of
    source ``seq % 7`` (nested JSON, flat tags, CSV headers, Spanish
    fields + dd/MM/yyyy, epoch-millis, and two enrichment shapes).
    The round trip (serialize → ``normalize_feeds`` parse) is what
    the oracle checks against a direct derivation."""
    ev = derive_transcript_events(spark, sf_dir)
    s = F.pmod(F.col("seq"), F.lit(7))
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    op = F.col("op")
    lens_p = F.to_json(
        F.struct(
            F.struct(
                F.col("conv_id").alias("id"), F.col("turn_idx").alias("turn")
            ).alias("conversation"),
            F.struct(F.col("role").alias("role")).alias("speaker"),
            F.col("text").alias("body"),
            F.struct(F.col("tool").alias("name")).alias("tool"),
            iso.alias("sent_at"),
            op.alias("operation"),
        )
    )
    wos_p = F.to_json(
        F.struct(
            F.concat(F.lit("WOS:"), F.col("conv_id")).alias("CI"),
            F.col("turn_idx").alias("TI"),
            F.col("role").alias("RO"),
            F.col("text").alias("TX"),
            F.col("tool").alias("TL"),
            F.unix_timestamp("ts").alias("TS"),
            F.when(op == "delete", "D").when(op == "update", "U").otherwise("I").alias("OP"),
        )
    )
    scopus_p = F.to_json(
        F.struct(
            F.col("conv_id").alias("Conv Id"),
            F.col("turn_idx").cast("string").alias("Turn"),
            F.col("role").alias("Role"),
            F.col("text").alias("Text"),
            F.col("tool").alias("Tool"),
            iso.alias("Timestamp"),
            F.upper(op).alias("Op"),
        )
    )
    scielo_p = F.to_json(
        F.struct(
            F.concat(F.lit("sci:"), F.col("conv_id")).alias("codigo"),
            F.concat(F.lit("T"), F.col("turn_idx").cast("string")).alias("turno"),
            F.col("role").alias("papel"),
            F.col("text").alias("texto"),
            F.col("tool").alias("herramienta"),
            F.date_format("ts", "dd/MM/yyyy HH:mm:ss").alias("fecha"),
            F.when(op == "delete", "BAJA").when(op == "update", "CAMBIO").otherwise("ALTA").alias("accion"),
        )
    )
    scholar_p = F.to_json(
        F.struct(
            F.col("conv_id").alias("cluster"),
            F.col("turn_idx").alias("pos"),
            F.col("role").alias("who"),
            F.col("text").alias("snippet"),
            # unix_millis rejects TIMESTAMP_NTZ; session tz is UTC so
            # the cast is epoch-preserving (matches DuckDB epoch())
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
            F.when(op == "delete", "del").when(op == "update", "mod").otherwise("add").alias("verb"),
        )
    )
    oadoi_p = F.to_json(
        F.struct(
            F.col("conv_id").alias("id"),
            F.col("turn_idx").alias("turn"),
            F.col("text").alias("oa_text"),
            iso.alias("updated"),
        )
    )
    doaj_p = F.to_json(
        F.struct(
            F.col("conv_id").alias("conv"),
            F.col("turn_idx").alias("turn"),
            F.coalesce(
                F.col("tool"), F.concat(F.lit("t"), F.col("turn_idx").cast("string"))
            ).alias("tool_name"),
            F.unix_timestamp("ts").alias("updated_epoch"),
        )
    )
    payloads = [lens_p, wos_p, scopus_p, scielo_p, scholar_p, oadoi_p, doaj_p]
    pay = F.when(s == 0, payloads[0])
    for i in range(1, 7):
        pay = pay.when(s == i, payloads[i])
    src = F.when(s == 0, _FEED_SOURCES[0])
    for i in range(1, 7):
        src = src.when(s == i, _FEED_SOURCES[i])
    return ev.select("seq", src.alias("source"), pay.alias("payload"))


#: bump when _build_feed's payload shapes change (invalidates the cache)
_FEED_CACHE_VER = 3


def _feed_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the constructed feed to parquet once per sf (a
    real deployment reads payload bytes from Kafka/object storage —
    and composing the 7-branch serialize CASE directly under the
    7-branch parse CASE builds a 49-way expression tree that blows
    codegen out to interpreted evaluation: observed >30× slowdown at
    sf0.1). Deterministic content; atomic rename for concurrent
    builders."""
    import shutil
    import uuid

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = f"/tmp/kahi_feed_cache_v{_FEED_CACHE_VER}/{sf_tag}"
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.build-{uuid.uuid4().hex}"
        # 32 files, hash-assigned by seq (deterministic): one fat file
        # is one row group = ONE scan task, single-threading the whole
        # map side of every consumer (the pipeline's binlog-layout
        # lesson applied to the feed fixture)
        _build_feed(spark, sf_dir).repartition(32, F.col("seq")).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def q_rawfeeds_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5/F18: serialize each event into its source's payload
    shape, then run the ONE-SCAN dispatcher (``normalize_feeds`` —
    a CASE over per-source ``from_json`` structs). The oracle derives
    the expected canonical rows directly, so any mis-parse in any of
    the 7 normalizers (field mapping, op vocabulary, composite-id
    split F15, epoch/ISO/dd-MM-yyyy timestamps F9, stringly int F8)
    breaks the gate."""
    from kahi_spark.sources.rawfeeds import normalize_feeds

    feed = spark.read.parquet(_feed_path(spark, sf_dir))
    norm = normalize_feeds(feed)
    return norm.select(
        "seq",
        "source",
        "op",
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


_FEED_SRC_CASE = (
    "CASE s WHEN 0 THEN 'lens' WHEN 1 THEN 'wos' WHEN 2 THEN 'scopus' "
    "WHEN 3 THEN 'scielo' WHEN 4 THEN 'scholar' WHEN 5 THEN 'oadoi' "
    "ELSE 'doaj' END"
)

ORACLE_RAWFEEDS_NORMALIZE = f"""
WITH ev AS ({derive_events_duckdb_sql('events')}),
f AS (SELECT *, seq % 7 AS s FROM ev)
SELECT seq,
       {_FEED_SRC_CASE} AS source,
       CASE WHEN s IN (5, 6) THEN 'update' ELSE op END AS op,
       conv_id, turn_idx,
       CASE WHEN s IN (5, 6) THEN NULL ELSE role END AS role,
       CASE WHEN s = 6 THEN NULL ELSE text END AS text,
       CASE WHEN s = 6 THEN coalesce(tool, 't' || CAST(turn_idx AS STRING))
            WHEN s IN (4, 5) THEN NULL ELSE tool END AS tool,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM f
"""


def q_multisource_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 at reference fan-in: the SAME keys arriving through all 7
    feed shapes converge via ``priority_merge`` with a 7-deep
    priority chain (the reference's per-field overwrite chains,
    ``KahiParser.py:366-376``) — one canonical record per key, each
    field from the highest-priority source that has it, lineage in
    ``sources``."""
    from kahi_spark.operators.merge import priority_merge
    from kahi_spark.sources.rawfeeds import normalize_feeds

    norm = normalize_feeds(spark.read.parquet(_feed_path(spark, sf_dir)))
    merged = priority_merge(
        norm, value_cols=["role", "text", "tool"], priority=_FEED_SOURCES
    )
    return merged.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.concat_ws(",", "sources").alias("sources"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def _src_pick_sql(col: str) -> str:
    tiers = ",\n             ".join(
        f"max(CASE WHEN source = '{p}' THEN {col} END)" for p in _FEED_SOURCES
    )
    return f"coalesce({tiers})"


ORACLE_MULTISOURCE_CONVERGENCE = f"""
WITH ev AS ({derive_events_duckdb_sql('events')}),
f AS (SELECT *, seq % 7 AS s FROM ev),
norm AS (
    SELECT seq,
           {_FEED_SRC_CASE} AS source,
           CASE WHEN s IN (5, 6) THEN 'update' ELSE op END AS op,
           conv_id, turn_idx,
           CASE WHEN s IN (5, 6) THEN NULL ELSE role END AS role,
           CASE WHEN s = 6 THEN NULL ELSE text END AS text,
           CASE WHEN s = 6 THEN coalesce(tool, 't' || CAST(turn_idx AS STRING))
                WHEN s IN (4, 5) THEN NULL ELSE tool END AS tool,
           CASE WHEN s = 4 THEN floor(epoch(ts) * 1000) / 1000.0
                ELSE floor(epoch(ts)) END AS tse
    FROM f
),
latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx, source ORDER BY tse DESC, seq DESC) AS rn
    FROM norm
),
per_src AS (SELECT * FROM latest WHERE rn = 1)
SELECT conv_id, turn_idx,
       {_src_pick_sql('role')} AS role,
       {_src_pick_sql('text')} AS text,
       {_src_pick_sql('tool')} AS tool,
       array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
       CAST(floor(max(tse)) AS BIGINT) AS ts_epoch
FROM per_src
GROUP BY conv_id, turn_idx
"""


# ---------------------------------------------------------------------------
# F8/F12/F14/F16: scalar code functions
# ---------------------------------------------------------------------------

_COUNTRY_NAMES = sorted(COUNTRY_ALIASES)


def q_scalars_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 int-cast-with-retry ('123a' → 123, ``KahiDb.py:201-207``),
    F12 country-name → alpha-2 with noisy case/whitespace
    (``Scopus.py:159-213``), F14 ISSN reformat (``KahiDb.py:252``),
    F16 name decomposition (``Scopus.py:396-404``)."""
    cust = _read(spark, sf_dir, "customer", reshard=False)
    n = len(_COUNTRY_NAMES)
    name = F.element_at(
        F.array(*[F.lit(x) for x in _COUNTRY_NAMES]),
        (F.pmod(F.col("c_custkey"), F.lit(n)) + 1).cast("int"),
    )
    noisy_country = F.concat(F.lit("  "), F.upper(name), F.lit(" "))
    digits8 = F.lpad(
        F.pmod(F.col("c_custkey") * 7919, F.lit(100000000)).cast("string"), 8, "0"
    )
    full_name = F.concat(F.col("c_mktsegment"), F.lit(" "), F.col("c_name"))
    parts = name_parts_expr(full_name)
    return cust.select(
        "c_custkey",
        safe_int_expr(F.concat(F.col("c_custkey").cast("string"), F.lit("a"))).alias(
            "retry_int"
        ),
        country_alpha2_expr(noisy_country).alias("country_code"),
        issn_format_expr(digits8).alias("issn"),
        parts["first_name"].alias("first_name"),
        parts["last_name"].alias("last_name"),
        parts["initials"].alias("initials"),
    )


def _country_case_sql(inp: str) -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(COUNTRY_ALIASES.items())
    )
    return f"CASE lower(trim({inp})) {whens} ELSE NULL END"


_COUNTRY_LIST_SQL = "[" + ", ".join(f"'{x}'" for x in _COUNTRY_NAMES) + "]"

ORACLE_SCALARS_CODES = f"""
WITH base AS (
    SELECT c_custkey, c_name, c_mktsegment,
           '  ' || upper({_COUNTRY_LIST_SQL}[CAST(c_custkey % {len(_COUNTRY_NAMES)} AS INT) + 1]) || ' ' AS noisy,
           lpad(CAST((c_custkey * 7919) % 100000000 AS STRING), 8, '0') AS digits8,
           CAST(c_custkey AS STRING) || 'a' AS retry_src
    FROM customer
)
SELECT c_custkey,
       coalesce(try_cast(retry_src AS INT),
                try_cast(regexp_extract(retry_src, '^(\\d+)', 1) AS INT)) AS retry_int,
       {_country_case_sql('noisy')} AS country_code,
       substr(digits8, 1, 4) || '-' || substr(digits8, 5, 4) AS issn,
       c_mktsegment AS first_name,
       c_name AS last_name,
       upper(substr(c_mktsegment, 1, 1)) || upper(substr(c_name, 1, 1)) AS initials
FROM base
"""


# ---------------------------------------------------------------------------
# F13: gazetteer country extraction (contains-join against a dimension)
# ---------------------------------------------------------------------------


def q_gazetteer_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoText analogue (``Scopus.py:363,467``): free text probed by
    a contains-join against a broadcast gazetteer dimension (here the
    nation table). Substring collisions (NATION_2 ⊂ NATION_21) are
    part of the semantics — both engines report every mention."""
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    txt = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(
        "c_custkey",
        F.lower(
            F.concat(
                F.lit("acct of "), F.col("c_name"), F.lit(" based in "),
                F.col("n_name"), F.lit(" dept"),
            )
        ).alias("txt"),
    )
    gaz = nation.select(F.col("n_name").alias("country"))
    return txt.join(
        F.broadcast(gaz), F.col("txt").contains(F.lower(F.col("country"))), "inner"
    ).select("c_custkey", "country")


ORACLE_GAZETTEER = """
WITH t AS (
    SELECT c_custkey,
           lower('acct of ' || c_name || ' based in ' || n_name || ' dept') AS txt
    FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT c_custkey, g.n_name AS country
FROM t JOIN nation g ON strpos(txt, lower(g.n_name)) > 0
"""


# ---------------------------------------------------------------------------
# S5/S9: CSV work-list + processed-set resume filter
# ---------------------------------------------------------------------------

_WORKLIST_CSV = "/tmp/kahi_worklist_gate.csv"
_WORKLIST_ROWS = (
    "cust_name,extra\n"
    "  Customer#000000001 ,a\n"
    "CUSTOMER#000000002,b\n"
    "customer#000000002,dup\n"
    "Ghost#000000001,c\n"
    " ,blank\n"
    "Ghost#000000002,d\n"
)


def _ensure_worklist_csv() -> str:
    """Deterministic CSV fixture. Called lazily (from the query and
    from ``ensure_oracle_fixtures`` — NOT at import: importing a
    library must not write to a world-shared /tmp path). If the path
    already exists its CONTENT is validated and rewritten when it
    differs (a stale or foreign file at the fixed path must never be
    served to the oracle)."""
    try:
        with open(_WORKLIST_CSV) as fh:
            if fh.read() == _WORKLIST_ROWS:
                return _WORKLIST_CSV
    except OSError:
        pass
    tmp = _WORKLIST_CSV + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(_WORKLIST_ROWS)
    os.replace(tmp, _WORKLIST_CSV)
    return _WORKLIST_CSV


def ensure_oracle_fixtures() -> None:
    """Materialize every filesystem fixture an oracle SQL string
    references (worklist CSV, expected-assets parquet, difflib
    ground-truth parquets). The driver may run the DuckDB side before
    the Spark side, so ``__spark_entry__.oracle_sql()`` calls this
    once up front; the corresponding ``queries()`` entries also
    ensure their own fixture lazily (either order works, import
    stays side-effect-free).

    The difflib fixtures are sf-DEPENDENT, so this pre-materializes
    them at the driver's compare scale (sf0.01); a query call at any
    other sf atomically rewrites them for its own scale before its
    oracle runs (query-then-oracle per name in every in-process
    harness)."""
    _ensure_worklist_csv()
    _ensure_expected_assets()
    driver_sf = "/root/testdata/sf0.01"
    if os.path.isdir(driver_sf):
        _ensure_expected_corresponding(driver_sf)
        _ensure_expected_colav(driver_sf)


def q_csv_worklist_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference ``extract_from_csv`` + processed-set filter
    (``KahiDb.py:353-381, 531-533``): CSV → trimmed/lowercased
    distinct key list (J2), anti-joined against already-present
    customers (S9/J11) — only the Ghost keys remain pending."""
    from kahi_spark.sources.csvlist import pending_worklist, read_worklist_csv

    path = _ensure_worklist_csv()
    wl = read_worklist_csv(spark, path, "cust_name", alias="key")
    done = _read(spark, sf_dir, "customer").select(F.lower(F.col("c_name")).alias("key"))
    return pending_worklist(wl, done, "key")


ORACLE_CSV_WORKLIST = f"""
WITH wl AS (
    SELECT DISTINCT lower(trim(cust_name)) AS key
    FROM read_csv('{_WORKLIST_CSV}', header = true)
    WHERE cust_name IS NOT NULL AND trim(cust_name) <> ''
)
SELECT key FROM wl
WHERE key NOT IN (SELECT lower(c_name) FROM customer)
"""


# ---------------------------------------------------------------------------
# EP3: keyless-event resolution (blocked fuzzy join vs table state)
# ---------------------------------------------------------------------------

from kahi_spark.operators.fuzzy import BIGRAMS_SQL as _BIGRAMS_SQL  # noqa: E402


def q_keyless_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 (``KahiDb.py:161-242, 385-450``): every 17th event loses
    its conv_id; the resolver blocks conjunctively on (turn_idx,
    feature-set-size bucket, any-of-N MinHash slots over the feature
    set), scores feature-set Jaccard (word-3gram shingles, falling
    back to char bigrams for short texts — the round-3 dual-regime
    featurization), applies the staged cascade (high score OR mid +
    matching role), picks first (W1), and mints a surrogate key when
    nothing matches. Fully deterministic (md5-keyed MinHash) → the
    oracle replicates blocking, the score, cascade and tie-breaks."""
    from kahi_spark.operators.keyless import resolve_keyless_events
    from kahi_spark.operators.merge import normalize_events, reduce_events_to_state

    # round 7: the STATE side reduces RAW events first and normalizes
    # only the LWW winners (key-cardinality rows) — the winner depends
    # only on (ts, seq), so this is result-identical to normalizing
    # every event before the reduce (the reduce↔normalize fusion's
    # transform); the null-marking depends only on seq and commutes
    # with normalize. Probes still normalize pre-featurization (the
    # resolver featurizes cleaned text) — but only the keyless slice
    # survives the pushed-down filter.
    raw = derive_transcript_events(spark, sf_dir)
    rawk = raw.withColumn(
        "conv_id",
        F.when(F.col("seq") % 17 == 0, F.lit(None)).otherwise(F.col("conv_id")),
    )
    # strategy="agg": at this shape (100k rows → ~1k keys) the
    # map-side-combining max_by reduce beat the window+WindowGroupLimit
    # path 1.1 vs 1.5-2.0 s warm (A/B'd in-session, checksum-equal;
    # the CDC gate queries measured a wash and keep the default)
    state = normalize_events(
        reduce_events_to_state(
            rawk.filter(F.col("conv_id").isNotNull()), strategy="agg"
        )
    )
    resolved = resolve_keyless_events(normalize_events(rawk), state)
    return resolved.filter(F.col("seq") % 17 == 0).select("seq", "conv_id")


#: word-3gram shingles (DuckDB) — the shared template beside
#: ``shingle_df`` (one copy repo-wide; round-5 review)
from kahi_spark.operators.dedup import H60_DUCKDB_SQL  # noqa: E402
from kahi_spark.operators.dedup import SHINGLES_SQL as _SHINGLES_SQL  # noqa: E402

#: the 60-bit md5 hash of every feature (mirrors keyless ``_ft``)
_H60_LIST_SQL = f"list_transform({{ft}}, t -> {H60_DUCKDB_SQL.format(x='t')})"


def _slot_sql(hs: str, i: int) -> str:
    """DuckDB mirror of the ``_m<i>`` slots in
    ``keyless._with_features``: min over the universal permutation
    (a·(h mod p) + b) mod p of the shared feature-hash list (one md5
    per feature, cheap per-slot ints)."""
    from kahi_spark.operators.dedup import MINHASH_P
    from kahi_spark.operators.keyless import SLOT_PERMS

    a, b = SLOT_PERMS[i]
    p = MINHASH_P
    return f"list_min(list_transform({hs}, h -> ({a} * (h % {p}) + {b}) % {p}))"


def _size_bucket_sql(size: str) -> str:
    """DuckDB mirror of ``_lb`` in ``keyless._with_features`` (integer
    geometric-boundary fold — no libm)."""
    from kahi_spark.operators.keyless import SIZE_BUCKETS

    return " + ".join(f"(CASE WHEN {size} >= {t} THEN 1 ELSE 0 END)" for t in SIZE_BUCKETS)


def _jacc_sql(a: str, b: str) -> str:
    return (
        f"round(len(list_intersect({a}, {b}))::DOUBLE "
        f"/ (len({a}) + len({b}) - len(list_intersect({a}, {b}))), 6)"
    )


def _oracle_keyless(
    null_pred: str = "seq % 17 = 0", state_pred: str = "TRUE"
) -> str:
    """Closed-form SQL mirror of the keyless resolver.

    ``null_pred``: which events lose their conv_id and become probes
    (also the final output filter).  ``state_pred``: which events
    form the candidate state (``TRUE`` = the whole log; the
    incremental-index entry restricts it to epochs 0-1)."""
    from kahi_spark.operators.keyless import HIGH, MID, MIN_SHINGLES, N_SLOTS
    from kahi_spark.sources.events import norm_events_cte

    bg = _BIGRAMS_SQL.format(x="text")
    sh = _SHINGLES_SQL.format(x="text")
    p_slots = ",\n           ".join(
        f"{_slot_sql('p_hs', i)} AS pm{i}" for i in range(N_SLOTS)
    )
    c_slots = ",\n           ".join(
        f"{_slot_sql('c_hs', i)} AS cm{i}" for i in range(N_SLOTS)
    )
    any_slot = " OR ".join(f"p.pm{i} = c.cm{i}" for i in range(N_SLOTS))
    return (
        norm_events_cte()
        + f"""
, evk AS (
    SELECT seq, op, turn_idx, role, text,
           CASE WHEN {null_pred} THEN NULL ELSE conv_id END AS conv_id,
           ts
    FROM norm
),
latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
    FROM evk WHERE conv_id IS NOT NULL AND ({state_pred})
),
state AS (
    SELECT conv_id, turn_idx, role, text
    FROM latest WHERE rn = 1 AND op <> 'delete'
),
pf AS (
    SELECT seq AS p_seq, turn_idx, role AS p_role, {sh} AS p_sh, text
    FROM evk WHERE conv_id IS NULL
),
pff AS (
    SELECT p_seq, turn_idx, p_role,
           CASE WHEN len(p_sh) >= {MIN_SHINGLES} THEN p_sh ELSE {bg} END AS p_ft
    FROM pf
),
pfh AS (
    SELECT *, {_H60_LIST_SQL.format(ft='p_ft')} AS p_hs FROM pff
),
pm AS (
    -- downstream compares HASH lists (p_hs), mirroring the Spark
    -- side's hashed feature sets
    SELECT p_seq, turn_idx, p_role, p_hs AS p_ft,
           {_size_bucket_sql('len(p_hs)')} AS p_lb,
           {p_slots}
    FROM pfh
),
cf AS (
    SELECT conv_id AS c_conv, turn_idx, role AS c_role, {sh} AS c_sh, text
    FROM state
),
cff AS (
    SELECT c_conv, turn_idx, c_role,
           CASE WHEN len(c_sh) >= {MIN_SHINGLES} THEN c_sh ELSE {bg} END AS c_ft
    FROM cf
),
cfh AS (
    SELECT *, {_H60_LIST_SQL.format(ft='c_ft')} AS c_hs FROM cff
),
cm AS (
    SELECT c_conv, turn_idx, c_role, c_hs AS c_ft,
           {_size_bucket_sql('len(c_hs)')} AS c_lb,
           {c_slots}
    FROM cfh
),
scored AS (
    SELECT p_seq, c_conv, p_role, c_role,
           {_jacc_sql('p_ft', 'c_ft')} AS score
    FROM pm p JOIN cm c
      ON p.turn_idx = c.turn_idx AND abs(p.p_lb - c.c_lb) <= 1
     AND ({any_slot})
),
hits AS (
    SELECT * FROM scored
    WHERE score >= {HIGH} OR (score >= {MID} AND p_role = c_role)
),
best AS (
    SELECT p_seq, c_conv FROM (
        SELECT *, row_number() OVER (
            PARTITION BY p_seq ORDER BY score DESC, c_conv ASC) AS rn
        FROM hits
    ) WHERE rn = 1
)
SELECT e.seq, coalesce(b.c_conv, 'u' || CAST(e.seq AS STRING)) AS conv_id
FROM evk e LEFT JOIN best b ON e.seq = b.p_seq
WHERE {null_pred}
"""
    )


# ---------------------------------------------------------------------------
# J6/J7: staged fuzzy cascade (SQL-expressible JVM scorer variant)
# ---------------------------------------------------------------------------


def q_fuzzy_staged_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's threshold cascade (``Scopus.py:268-287``:
    strict scorer first, looser scorer only for still-unmatched
    probes) with JVM bigram-Jaccard scorers so the oracle is exact:
    stage 0 = full-text Jaccard ≥ 0.5, stage 1 = first-30-chars
    Jaccard ≥ 0.35, blocked on lang."""
    from kahi_spark.operators.fuzzy import (
        bigram_jaccard_expr,
        char_bigrams_expr,
        staged_fuzzy_cascade,
    )

    docs = _read(spark, sf_dir, "documents")
    full = char_bigrams_expr(F.col("text"))
    head = char_bigrams_expr(F.substring("text", 1, 30))
    probes = docs.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("probe_id"), "lang", full.alias("bf_p"), head.alias("bh_p")
    )
    cands = docs.filter(F.col("doc_id") >= 40).select(
        F.col("doc_id").alias("cand_id"), "lang", full.alias("bf_c"), head.alias("bh_c")
    )
    return staged_fuzzy_cascade(
        probes,
        cands,
        ["lang"],
        "probe_id",
        "cand_id",
        [
            (bigram_jaccard_expr(F.col("bf_p"), F.col("bf_c")), 0.5),
            (bigram_jaccard_expr(F.col("bh_p"), F.col("bh_c")), 0.35),
        ],
    )


_BF_SQL = _BIGRAMS_SQL.format(x="text")
_BH_SQL = _BIGRAMS_SQL.format(x="substr(text, 1, 30)")

ORACLE_FUZZY_CASCADE = f"""
WITH bg AS (
    SELECT doc_id, lang, {_BF_SQL} AS bf, {_BH_SQL} AS bh
    FROM documents
),
p AS (SELECT * FROM bg WHERE doc_id < 40),
c AS (SELECT * FROM bg WHERE doc_id >= 40),
s0 AS (
    SELECT p.doc_id AS probe_id, c.doc_id AS cand_id,
           round(len(list_intersect(p.bf, c.bf))::DOUBLE
                 / (len(p.bf) + len(c.bf) - len(list_intersect(p.bf, c.bf))), 6) AS score
    FROM p JOIN c ON p.lang = c.lang
),
h0 AS (
    SELECT probe_id, cand_id, score, 0 AS stage FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, cand_id ASC) AS rn
        FROM s0 WHERE score >= 0.5
    ) WHERE rn = 1
),
s1 AS (
    SELECT p.doc_id AS probe_id, c.doc_id AS cand_id,
           round(len(list_intersect(p.bh, c.bh))::DOUBLE
                 / (len(p.bh) + len(c.bh) - len(list_intersect(p.bh, c.bh))), 6) AS score
    FROM p JOIN c ON p.lang = c.lang
    WHERE p.doc_id NOT IN (SELECT probe_id FROM h0)
),
h1 AS (
    SELECT probe_id, cand_id, score, 1 AS stage FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY score DESC, cand_id ASC) AS rn
        FROM s1 WHERE score >= 0.35
    ) WHERE rn = 1
)
SELECT * FROM h0 UNION ALL SELECT * FROM h1
"""


# ---------------------------------------------------------------------------
# persisted-expected oracles for the difflib entries.  difflib is not
# SQL-expressible, but the EXPECTED OUTPUT is exactly computable by a
# pure-pandas reimplementation of the cascade (same deterministic
# scalar scorers, INDEPENDENT plain-loop machinery — no blocking
# join, no anti-join staging, no window pick-first).  The query call
# regenerates the fixture for ITS sf_dir (the probe/cand rows derive
# from the sf's customer/documents tables), atomic-rename at a fixed
# path the static oracle SQL reads; both the pytest mirror and the
# driver run query-then-oracle per name, so the fixture is always
# fresh for the sf under compare.  Gate-scale only (a few KB).
# ---------------------------------------------------------------------------

# Scale-keyed paths (VERDICT r4 #7 — pid-keying made the fixture
# invisible to a process that didn't write it). The fixture content
# is sf-DEPENDENT (it derives from the sf's customer/documents
# tables), so each scale factor gets its OWN file, keyed by the
# source table's row count (150 / 1 500 / 15 000 … never collide
# across the driver's sf dirs), and every fixture row carries that
# count as ``n_src``. The oracle SQL reads the whole glob and keeps
# the rows whose ``n_src`` equals ``COUNT(*)`` of the registered
# DuckDB view — i.e. the oracle itself selects the fixture matching
# the sf under compare, from ANY process, with concurrent runs at
# different scales writing disjoint files.
_EXPECTED_CORR_GLOB = "/tmp/kahi_expected_corresponding_v2_n*.parquet"
_EXPECTED_COLAV_GLOB = "/tmp/kahi_expected_colav_v2_n*.parquet"


def _scale_keyed_path(glob_pattern: str, n_src: int) -> str:
    return glob_pattern.replace("*", str(n_src))


def _parquet_rows(path: str) -> int:
    """Row count from the parquet FOOTER — no data scan."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _round6_half_up(x: float) -> float:
    """Mirror Spark's ``F.round(col, 6)``: BigDecimal HALF_UP on the
    exact binary double (NOT Python's banker's rounding)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _atomic_write_parquet(pdf, path: str) -> None:
    tmp = path + f".tmp.{os.getpid()}"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)


def _ensure_expected_corresponding(sf_dir: str) -> None:
    """Plain-loop ground truth for ``q_corresponding_author``: the
    staged difflib cascade (partial_ratio → token_set →
    partial_token_set, each ≥ 0.9, best-score-then-lowest-cand-id
    within a stage, later stages see only unresolved probes) over the
    same probe/cand construction, driven by dict-at-a-time Python
    like the reference (``Scopus.py:268-287``) rather than by joins."""
    from difflib import SequenceMatcher

    import pandas as pd

    from kahi_spark.operators.fuzzy import _partial_ratio_py

    cust = pd.read_parquet(
        f"{sf_dir}/customer.parquet",
        columns=["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
    )
    name = (cust.c_mktsegment + " " + cust.c_name).str.lower()
    probes = [
        (int(k), int(b), n)
        for k, b, n in zip(cust.c_custkey, cust.c_nationkey, name)
        if k < 40
    ]
    cands = [
        (int(k) + 1_000_000, int(b), f"email: {n}, office {int(k)}")
        for k, b, n in zip(cust.c_custkey, cust.c_nationkey, name)
    ]

    def norm(s: str) -> str:
        return " ".join(sorted(set(str(s).lower().split())))

    scorers = [
        lambda x, y: _partial_ratio_py(x, y),
        # autojunk=False mirrors token_set_ratio_pandas exactly
        lambda x, y: SequenceMatcher(None, norm(x), norm(y), autojunk=False).ratio(),
        lambda x, y: _partial_ratio_py(norm(x), norm(y)),
    ]
    out, unresolved = [], probes
    for stage, scorer in enumerate(scorers):
        still = []
        for pid, blk, pname in unresolved:
            best = None  # (score, cand_id)
            for cid, cblk, caddr in cands:
                if cblk != blk or cid == pid:
                    continue
                s = scorer(pname, caddr)
                if s >= 0.9 and (best is None or s > best[0] or (s == best[0] and cid < best[1])):
                    best = (s, cid)
            if best is None:
                still.append((pid, blk, pname))
            else:
                out.append((pid, best[1], _round6_half_up(best[0]), stage))
        unresolved = still
    pdf = pd.DataFrame(out, columns=["probe_id", "cand_id", "score", "stage"])
    pdf = pdf.astype(
        {"probe_id": "int64", "cand_id": "int64", "score": "float64", "stage": "int32"}
    )
    pdf["n_src"] = len(cust)  # the oracle's scale selector
    _atomic_write_parquet(
        pdf, _scale_keyed_path(_EXPECTED_CORR_GLOB, len(cust))
    )


ORACLE_CORRESPONDING = f"""
SELECT probe_id, cand_id, score, stage
FROM read_parquet('{_EXPECTED_CORR_GLOB}', union_by_name = true)
WHERE n_src = (SELECT COUNT(*) FROM customer)
"""


def _ensure_expected_colav(sf_dir: str) -> None:
    """Plain-loop ground truth for ``q_colav_similarity_match``: the
    full ``colav_similarity`` decision (``KahiDb.py:23-110``) over
    every lang-blocked (probe, cand) pair — the reference's own
    O(N·M) candidate-loop shape, no Spark machinery."""
    import pandas as pd

    from kahi_spark.operators.fuzzy import colav_similarity_py

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang", "source"]
    )
    docs = docs[docs.doc_id < 30]
    out = []
    for _, p in docs.iterrows():
        for _, c in docs.iterrows():
            if p.lang != c.lang:
                continue
            if colav_similarity_py(
                p.text[:90],
                c.text[7:107],
                p.source,
                c.source,
                int(p.doc_id) % 3,
                int(c.doc_id) % 3,
            ):
                out.append((int(p.doc_id), int(c.doc_id) + 1000))
    pdf = pd.DataFrame(out, columns=["probe_id", "cand_id"]).astype("int64")
    n_src = _parquet_rows(f"{sf_dir}/documents.parquet")
    pdf["n_src"] = n_src  # the oracle's scale selector
    _atomic_write_parquet(pdf, _scale_keyed_path(_EXPECTED_COLAV_GLOB, n_src))


ORACLE_COLAV = f"""
SELECT probe_id, cand_id
FROM read_parquet('{_EXPECTED_COLAV_GLOB}', union_by_name = true)
WHERE n_src = (SELECT COUNT(*) FROM documents)
"""


def q_corresponding_author(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: the reference's corresponding-author cascade with the REAL
    pandas scorer family (``Scopus.py:268-287``: partial_ratio>90 →
    token_set>90 → partial_token_set>90) — a short author name probed
    against 'Correspondence Address' blobs. difflib scoring is not
    SQL-expressible, so the oracle reads the persisted plain-loop
    ground truth (``_ensure_expected_corresponding``) — a VALUE gate
    on the distributed blocking/staging/pick-first machinery."""
    _ensure_expected_corresponding(sf_dir)
    from kahi_spark.operators.fuzzy import (
        partial_ratio_pandas,
        partial_token_set_ratio_pandas,
        staged_fuzzy_cascade,
        token_set_ratio_pandas,
    )

    cust = _read(spark, sf_dir, "customer")
    name = F.lower(F.concat(F.col("c_mktsegment"), F.lit(" "), F.col("c_name")))
    probes = cust.filter(F.col("c_custkey") < 40).select(
        F.col("c_custkey").alias("probe_id"),
        F.col("c_nationkey").alias("blk"),
        name.alias("p_name"),
    )
    cands = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("cand_id"),
        F.col("c_nationkey").alias("blk"),
        F.concat(
            F.lit("email: "), name, F.lit(", office "), F.col("c_custkey").cast("string")
        ).alias("c_addr"),
    )
    stages = [
        (partial_ratio_pandas(F.col("p_name"), F.col("c_addr")), 0.9),
        (token_set_ratio_pandas(F.col("p_name"), F.col("c_addr")), 0.9),
        (partial_token_set_ratio_pandas(F.col("p_name"), F.col("c_addr")), 0.9),
    ]
    out = staged_fuzzy_cascade(probes, cands, ["blk"], "probe_id", "cand_id", stages)
    return out.select("probe_id", "cand_id", F.round("score", 6).alias("score"), "stage")


# ---------------------------------------------------------------------------
# SimHash banding (portable md5 32-bit variant, recall-1 pigeonhole)
# ---------------------------------------------------------------------------


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs at SimHash Hamming ≤ 3 over the portable
    32-bit md5 fingerprint (4 bands × 8 bits; pigeonhole ⇒ recall
    exactly 1 at radius 3). ``simhash_neardup_wide`` is the wide-band
    variant."""
    from kahi_spark.operators.dedup import simhash32_neardup_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash32_neardup_pairs(docs, max_hamming=3, n_bands=4)


def _oracle_simhash() -> str:
    votes = ",\n           ".join(
        f"sum(CASE WHEN substr(h, {b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{b}"
        for b in range(32)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    bandlist = ", ".join(f"(s >> {b * 8}) & 255" for b in range(4))
    return f"""
WITH sh AS (
    SELECT doc_id,
           {_SHINGLES_SQL.format(x="text")} AS grams
    FROM documents
),
tok AS (SELECT doc_id, unnest(grams) AS tok FROM sh),
hs AS (SELECT doc_id, md5(tok) AS h FROM tok),
sums AS (
    SELECT doc_id,
           {votes}
    FROM hs GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS s FROM sums),
bands AS (
    SELECT doc_id, s, generate_subscripts(bv, 1) AS band_idx, unnest(bv) AS band_val
    FROM (SELECT doc_id, s, [{bandlist}] AS bv FROM fp)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
"""


def q_simhash_neardup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs at Hamming ≤ 3 over the portable 60-bit md5
    SimHash, banded 4 × 15 bits (pigeonhole ⇒ recall exactly 1 at
    radius 3). This is the gated representative of the wide-band
    family: the 15-bit band key space (32k values) is what keeps the
    band join linear at 10^8+ docs, where the 8-bit bands of
    ``simhash_neardup`` (kept as the portable radius query) go
    quadratic. The oracle mirrors the fingerprint bit-for-bit
    (``h60`` = first 15 md5 hex digits as a long in both engines)."""
    from kahi_spark.operators.dedup import simhash_wide_neardup_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_wide_neardup_pairs(docs, max_hamming=3, n_bands=4)


def _oracle_simhash_wide() -> str:
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(60)
    )
    bandlist = ", ".join(f"(s >> {b * 15}) & 32767" for b in range(4))
    return f"""
WITH sh AS (
    SELECT doc_id,
           {_SHINGLES_SQL.format(x="text")} AS grams
    FROM documents
),
tok AS (SELECT doc_id, unnest(grams) AS tok FROM sh),
hs AS (SELECT doc_id, {H60_DUCKDB_SQL.format(x='tok')} AS h FROM tok),
sums AS (
    SELECT doc_id,
           {votes}
    FROM hs GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS s FROM sums),
bands AS (
    SELECT doc_id, s, generate_subscripts(bv, 1) AS band_idx, unnest(bv) AS band_val
    FROM (SELECT doc_id, s, [{bandlist}] AS bv FROM fp)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
"""


# ---------------------------------------------------------------------------
# Quantized-LSH ANN + near-dup pairs (oracle mirrors the bucketing)
# ---------------------------------------------------------------------------

_PLANES = lsh_planes(dim=64, n_planes=8, n_tables=4, seed=42)


def _lsh_cte_sql() -> str:
    rows = ",\n        ".join(
        f"({t}, {pl}, {plane})"
        for t, tbl in enumerate(_PLANES)
        for pl, plane in enumerate(tbl)
    )
    return f"""
planes(tbl, pl, p) AS (VALUES
        {rows}),
q AS (
    SELECT vec_id,
           CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
buckets AS (
    SELECT q.vec_id, planes.tbl,
           CAST(sum(CASE WHEN list_inner_product(planes.p::BIGINT[], q.qv) > 0
                         THEN CAST(2 ** planes.pl AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM q CROSS JOIN planes
    GROUP BY q.vec_id, planes.tbl
)"""


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 cosine neighbors via quantized-hyperplane
    LSH (8 planes × 4 tables): probes only score corpus vectors
    sharing a bucket in some table. The oracle reproduces the
    bucketing bit-for-bit (integer dot products), so this gates the
    FULL approximate pipeline, not just the verify step."""
    from kahi_spark.operators.similarity import knn_lsh

    emb = _read(spark, sf_dir, "embeddings", reshard=False)
    probes = emb.filter(F.col("vec_id") < 5)
    return knn_lsh(probes, emb, k=5, n_planes=8, n_tables=4, dim=64, seed=42)


def _oracle_knn_lsh() -> str:
    return f"""
WITH {_lsh_cte_sql()},
cand AS (
    SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
    FROM buckets p JOIN buckets c ON p.tbl = c.tbl AND p.bucket = c.bucket
    WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id
),
scored AS (
    SELECT probe_id, neighbor_id,
           round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS score
    FROM cand
    JOIN q x ON x.vec_id = probe_id
    JOIN q y ON y.vec_id = neighbor_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT probe_id, neighbor_id, rank, score FROM ranked WHERE rank <= 5
"""


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse-quantizer cells via distributed k-means) run
    at ``nprobe = n_cells`` — searching every cell is EXACTLY brute
    force because the cells partition the corpus, so the brute-force
    SQL oracle gates the full IVF machinery (assignment, cell
    routing, scoring, ranking) independent of centroid float
    nondeterminism. The recall/cost tradeoff at nprobe < n_cells is
    pytest-verified (`test_ivf_knn_*`)."""
    from kahi_spark.operators.similarity import ivf_knn

    emb = _read(spark, sf_dir, "embeddings", reshard=False)
    probes = emb.filter(F.col("vec_id") < 5)
    return ivf_knn(probes, emb, k=5, n_cells=8, nprobe=8, iters=2)


ORACLE_KNN_IVF = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
scored AS (
    SELECT p.vec_id AS probe_id, x.vec_id AS neighbor_id,
           round(list_inner_product(p.v, x.v) / (p.nrm * x.nrm), 6) AS score
    FROM e p JOIN e x ON x.vec_id <> p.vec_id
    WHERE p.vec_id < 5
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored
)
SELECT probe_id, neighbor_id, rank, score FROM ranked WHERE rank <= 5
"""


def q_knn_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at ``nprobe=2 < n_cells=8`` — the approximation a user
    actually runs (VERDICT r5 #6). The portable variant's coarse
    quantizer is hash-seeded and integer-quantized, so the oracle
    reproduces cell assignment, probe routing and ranking exactly
    (see ``ivf_knn_portable``); no stage is degenerate."""
    from kahi_spark.operators.similarity import ivf_knn_portable

    emb = _read(spark, sf_dir, "embeddings", reshard=False)
    probes = emb.filter(F.col("vec_id") < 5)
    return ivf_knn_portable(probes, emb, k=5, n_cells=8, nprobe=2)


# mirrors ivf_knn_portable stage by stage: same h60-seeded centroid
# selection, same integer-quantized affinity (exact in both engines:
# |int dot| < 2^53 so the DOUBLE division inputs are identical), same
# (d DESC, cell ASC) tie rule, same rounded-float final scoring
ORACLE_KNN_IVF_PRUNED = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm,
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(round(x * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
seeds AS (
    SELECT c, row_number() OVER (ORDER BY h, vid) AS cell FROM (
        SELECT qv AS c,
               {H60_DUCKDB_SQL.format(x='CAST(vec_id AS STRING)')} AS h,
               vec_id AS vid
        FROM e WHERE nrm IS NOT NULL AND nrm <> 0
        ORDER BY h, vid LIMIT 8) t
),
cn AS (
    SELECT cell, c,
           sqrt(CAST(list_inner_product(c, c) AS DOUBLE)) AS cnorm
    FROM seeds
),
aff AS (
    SELECT e.vec_id, cn.cell,
           CAST(list_inner_product(e.qv, cn.c) AS DOUBLE) / cn.cnorm AS d
    FROM e CROSS JOIN cn
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn
        FROM aff) t
    WHERE rn = 1
),
pcells AS (
    SELECT vec_id AS probe_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn
        FROM aff WHERE vec_id < 5) t
    WHERE rn <= 2
),
scored AS (
    SELECT p.probe_id, a.vec_id AS neighbor_id,
           round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS score
    FROM pcells p
    JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.probe_id
    JOIN e x ON x.vec_id = p.probe_id
    JOIN e y ON y.vec_id = a.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored WHERE score IS NOT NULL
)
SELECT probe_id, neighbor_id, rank, score FROM ranked WHERE rank <= 5
"""


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs over the FULL table via LSH bucket
    blocking (no silent caps): candidates share a bucket in some
    table, exact cosine ≥ 0.4 on candidates only. Companion to the
    brute-force ``embedding_neardup`` (exact, quadratic verifier)."""
    from kahi_spark.operators.similarity import lsh_cosine_pairs

    emb = _read(spark, sf_dir, "embeddings", reshard=False)
    return lsh_cosine_pairs(emb, threshold=0.4, n_planes=8, n_tables=4, dim=64, seed=42)


def _oracle_neardup_lsh() -> str:
    return f"""
WITH {_lsh_cte_sql()},
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
    FROM buckets a JOIN buckets c
      ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT id_a, id_b,
       round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS score
FROM cand
JOIN q x ON x.vec_id = id_a
JOIN q y ON y.vec_id = id_b
WHERE round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) >= 0.4
"""


def q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9.6 UDAF-analogue: per-conversation session statistics via
    ``applyInPandas`` (ordered gap iteration + set aggregation) over
    the LWW transcript state, oracled by the equivalent windowed SQL.
    Gap stats are INTEGER microseconds (sum + max) so the comparison
    is exact — engines' float round() algorithms disagree at decimal
    boundaries. One shuffle on the group key; Python runs once per
    Arrow group."""
    from kahi_spark.operators.custom import conversation_stats_exact
    from kahi_spark.operators.merge import normalize_events, reduce_events_to_state

    state = reduce_events_to_state(
        normalize_events(derive_transcript_events(spark, sf_dir))
    )
    return conversation_stats_exact(state)


def _oracle_conversation_stats() -> str:
    from kahi_spark.sources.events import norm_events_cte

    return (
        norm_events_cte()
        + """
, latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
    FROM norm
),
state AS (
    SELECT conv_id, turn_idx, role, tool, ts
    FROM latest WHERE rn = 1 AND op <> 'delete'
),
g AS (
    SELECT conv_id, role, tool,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx, ts) AS gap_us
    FROM state
)
SELECT conv_id,
       CAST(count(*) AS INT) AS n_turns,
       CAST(count(DISTINCT role) AS INT) AS n_roles,
       CAST(count(tool) AS INT) AS n_tool_calls,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM g GROUP BY conv_id
"""
    )


def q_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: external-id-to-element fuzzy assignment (the reference
    splits ORCID/ResearcherID composites and fuzz-matches each to an
    author name, ``WebOfScience.py:251-297``): composite 'fragment::
    ID-n' strings are split (F15), the fragment fuzzy-matched against
    candidate elements within the lang block, best element wins (W1).
    Fragments are offset windows of their own document's text, so the
    correct assignment dominates; fully SQL-expressible (bigram
    Jaccard) → exact oracle."""
    from kahi_spark.operators.fuzzy import bigram_jaccard_expr, char_bigrams_expr

    docs = _read(spark, sf_dir, "documents")
    authors = docs.select(
        "lang",
        F.col("doc_id").alias("author_id"),
        char_bigrams_expr(F.substring("text", 1, 50)).alias("bg_a"),
    )
    composite = F.concat(
        F.substring("text", 5, 40), F.lit("::ID-"), F.col("doc_id").cast("string")
    )
    probes = docs.filter(F.col("doc_id") % 3 == 0).select(
        "lang", composite.alias("composite")
    )
    probes = probes.select(
        "lang",
        F.element_at(F.split("composite", "::"), 2).alias("ext_id"),
        char_bigrams_expr(F.element_at(F.split("composite", "::"), 1)).alias("bg_f"),
    )
    scored = (
        probes.join(authors, on="lang")
        .withColumn("score", bigram_jaccard_expr(F.col("bg_f"), F.col("bg_a")))
        .filter(F.col("score") >= 0.3)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ext_id").orderBy(F.desc("score"), F.asc("author_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("ext_id", "author_id", "score")
    )


_BG_FRAG = _BIGRAMS_SQL.format(x="string_split(composite, '::')[1]")
_BG_AUTH = _BIGRAMS_SQL.format(x="substr(text, 1, 50)")

ORACLE_ID_ASSIGNMENT = f"""
WITH authors AS (
    SELECT lang, doc_id AS author_id, {_BG_AUTH} AS bg_a
    FROM documents
),
comp AS (
    SELECT lang,
           substr(text, 5, 40) || '::ID-' || CAST(doc_id AS STRING) AS composite
    FROM documents WHERE doc_id % 3 = 0
),
probes AS (
    SELECT lang,
           string_split(composite, '::')[2] AS ext_id,
           {_BG_FRAG} AS bg_f
    FROM comp
),
scored AS (
    SELECT p.ext_id, a.author_id,
           round(len(list_intersect(p.bg_f, a.bg_a))::DOUBLE
                 / (len(p.bg_f) + len(a.bg_a) - len(list_intersect(p.bg_f, a.bg_a))), 6) AS score
    FROM probes p JOIN authors a ON p.lang = a.lang
)
SELECT ext_id, author_id, score FROM (
    SELECT *, row_number() OVER (
        PARTITION BY ext_id ORDER BY score DESC, author_id ASC) AS rn
    FROM scored WHERE score >= 0.3
) WHERE rn = 1
"""


def q_colav_similarity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 with the reference's FULL decision cascade
    (``colav_similarity``, ``KahiDb.py:23-110``: direct ratio →
    multi-language bracket variants → partial + journal/year rescue),
    as an Arrow-batched boolean scorer over lang-blocked candidate
    pairs. difflib scoring is not SQL-expressible, so the oracle
    reads the persisted plain-candidate-loop ground truth
    (``_ensure_expected_colav``) — a VALUE gate on the blocked
    distributed evaluation of THE colav decision."""
    from kahi_spark.operators.fuzzy import colav_similarity_pandas

    _ensure_expected_colav(sf_dir)

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    probes = docs.select(
        F.col("doc_id").alias("probe_id"),
        "lang",
        F.substring("text", 1, 90).alias("p_title"),
        F.col("source").alias("p_journal"),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("int").alias("p_year"),
    )
    # candidates: a SHIFTED window of each doc's own text — the
    # direct-ratio branch fails but the partial-alignment branch (and
    # journal+year rescue) fires, exactly the reference's fallback
    # path; cross-doc pairs in the same lang block score False
    cands = docs.select(
        (F.col("doc_id") + 1000).alias("cand_id"),
        "lang",
        F.substring("text", 8, 100).alias("c_title"),
        F.col("source").alias("c_journal"),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("int").alias("c_year"),
    )
    matched = (
        probes.join(cands, on="lang")
        .filter(
            colav_similarity_pandas(
                F.col("p_title"),
                F.col("c_title"),
                F.col("p_journal"),
                F.col("c_journal"),
                F.col("p_year"),
                F.col("c_year"),
            )
        )
        .select("probe_id", "cand_id")
    )
    return matched


# ---------------------------------------------------------------------------
# §2.8 session windows: Spark's NATIVE session_window operator
# ---------------------------------------------------------------------------


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (the streaming-capable
    session operator — same expression works under ``readStream`` +
    watermark). Oracle = gaps-and-islands SQL with the SAME boundary
    rule: Spark session windows are half-open ``[ts, ts+gap)``, so an
    event arriving at EXACTLY the gap starts a new session (hence
    ``>=`` in the oracle, where the hand-rolled ``sessionize_events``
    uses ``>``).

    Original single-file events read (not read_table): the
    ``round(sum(value), 4)`` output is order-sensitive at x.xxxx5
    boundaries and a multi-split input makes partial-sum merge order
    scheduling-dependent (see sources/testdata.py SHARD_KEYS note)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
            F.min("ts").alias("_start"),
        )
        .select(
            "user_id",
            F.unix_timestamp("_start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


ORACLE_SESSION_WINDOW = """
WITH g AS (
    SELECT *,
           CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) >= 1800
                  OR lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_start
    FROM events
),
s AS (
    SELECT *, CAST(sum(is_start) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM g
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM s GROUP BY user_id, session_id
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 grouping sets: ROLLUP (hierarchical subtotals — the
    companion to the gated CUBE entry)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_ROLLUP_REVENUE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set ops: INTERSECT (customers in the BUILDING segment who
    actually placed orders)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    ordered = orders.select(F.col("o_custkey").alias("custkey"))
    return building.intersect(ordered)


ORACLE_INTERSECT = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS custkey FROM orders
"""


# ---------------------------------------------------------------------------
# Text analysis (training-data ops): BPE-ish tokenization + quality
# ---------------------------------------------------------------------------

#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
#: marks — the split shape byte-pair encoders start from. RE2-safe and
#: identical in Spark (Java regex) and DuckDB (RE2).
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

_STOPWORDS = ("the", "and", "of", "a", "to", "in")


def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: regex pre-tokenization (letter runs /
    digit runs / punctuation marks) vs whitespace tokens — the two
    counts a training-data pipeline tracks per document."""
    docs = _read(spark, sf_dir, "documents", reshard=False)
    # staged projections: the bpe array is consumed twice (size +
    # distinct-size) and the lowered text three times — inlining them
    # re-runs the regex / lower per consumer in one projection
    # (CollapseProject keeps multi-referenced non-cheap aliases)
    low = docs.select("doc_id", F.lower(F.col("text")).alias("_low"))
    arrs = low.select(
        "doc_id",
        F.regexp_extract_all(F.col("_low"), F.lit(_BPE_RE), 0).alias("_bpe"),
        F.split(F.trim(F.col("_low")), r"\s+").alias("_ws"),
    )
    return arrs.select(
        "doc_id",
        F.size("_bpe").alias("n_bpe_tokens"),
        F.size("_ws").alias("n_ws_tokens"),
        F.size(F.array_distinct("_bpe")).alias("n_bpe_distinct"),
    )


ORACLE_TOKEN_BPE = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens,
       len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_ws_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '{_BPE_RE}'))) AS n_bpe_distinct
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: length, punctuation-character ratio,
    stopword-token ratio (the filters a pretraining pipeline gates
    on). Pure JVM expressions; ratios rounded to 6 on both sides."""
    docs = _read(spark, sf_dir, "documents", reshard=False)
    # staged like q_token_bpe: lower once, then derive counts/tokens,
    # then the ratios — not one projection re-lowering per consumer
    low = docs.select("doc_id", F.lower(F.col("text")).alias("_low"))
    staged = low.select(
        "doc_id",
        F.length("_low").alias("_n_chars"),
        (
            F.length("_low")
            - F.length(F.regexp_replace(F.col("_low"), r"[^a-z0-9\s]", ""))
        ).alias("_n_punct"),
        F.split(F.trim(F.col("_low")), r"\s+").alias("_toks"),
    )
    sw = F.size(F.filter(F.col("_toks"), lambda x: x.isin(*_STOPWORDS)))
    return staged.select(
        "doc_id",
        F.col("_n_chars").alias("n_chars"),
        F.round(F.col("_n_punct").cast("double") / F.col("_n_chars"), 6).alias(
            "punct_ratio"
        ),
        F.round(sw.cast("double") / F.size("_toks"), 6).alias("stopword_ratio"),
    )


_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

ORACLE_QUALITY_SCORE = f"""
SELECT doc_id,
       length(lower(text)) AS n_chars,
       round((length(lower(text)) -
              length(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')))::DOUBLE
             / length(lower(text)), 6) AS punct_ratio,
       round(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             x -> x IN ({_SW_SQL})))::DOUBLE
             / len(regexp_split_to_array(trim(lower(text)), '\\s+')), 6)
           AS stopword_ratio
FROM documents
"""


# ---------------------------------------------------------------------------
# §2.9.5: multimodal decode (mapInPandas over real container bytes).
# The decode itself is not SQL-expressible, but its RESULT is exactly
# checkable: the asset generator knows every payload's true
# (width, height, n_bytes, crc32) at construction, so the ground
# truth is persisted as a parquet fixture and the DuckDB oracle just
# selects it — the mapInPandas header parsers are gated value-exact.
# ---------------------------------------------------------------------------

_EXPECTED_ASSETS_PQ = "/tmp/kahi_expected_assets_v1.parquet"
_N_ASSETS, _N_VIDEO = 60, 15


def _ensure_expected_assets() -> str:
    """Write (or validate) the construction-time ground-truth fixture
    the multimodal oracle reads. Content-checked when the path
    already exists (never trust a stale/foreign file at a fixed /tmp
    path); lazy — never runs at import."""
    import pandas as pd

    from kahi_spark.operators.multimodal import expected_real_assets

    want = expected_real_assets(_N_ASSETS, _N_VIDEO)
    try:
        have = pd.read_parquet(_EXPECTED_ASSETS_PQ)
        if have.shape == want.shape and have.reset_index(drop=True).equals(
            want.reset_index(drop=True)
        ):
            return _EXPECTED_ASSETS_PQ
    except Exception:
        pass
    tmp = _EXPECTED_ASSETS_PQ + f".tmp.{os.getpid()}"
    want.to_parquet(tmp, index=False)
    os.replace(tmp, _EXPECTED_ASSETS_PQ)
    return _EXPECTED_ASSETS_PQ


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9.5: mapInPandas header decode over real PNG/BMP/GIF/WAV/MP4
    bytes; oracle = the construction-time expectations fixture
    (independent of the parse path being checked)."""
    from kahi_spark.operators.multimodal import decode_image_batch, make_real_assets

    _ensure_expected_assets()
    assets = make_real_assets(spark, n=_N_ASSETS, n_video=_N_VIDEO)
    return decode_image_batch(assets)


ORACLE_MULTIMODAL = f"""
SELECT asset_id, kind, n_bytes, width, height, checksum
FROM read_parquet('{_EXPECTED_ASSETS_PQ}')
"""


# ---------------------------------------------------------------------------
# registries (merged into kahi_spark.queries)
# ---------------------------------------------------------------------------

QUERIES_EXT: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "staged_lookup_entities": q_staged_lookup_entities,
    "align_positional": q_align_positional,
    "merge_policies": q_merge_policies,
    "complement_fill_union": q_complement_fill_union,
    "rawfeeds_normalize": q_rawfeeds_normalize,
    "multisource_convergence": q_multisource_convergence,
    "scalars_codes": q_scalars_codes,
    "gazetteer_country": q_gazetteer_country,
    "csv_worklist_pending": q_csv_worklist_pending,
    "keyless_resolution": q_keyless_resolution,
    "fuzzy_staged_cascade": q_fuzzy_staged_cascade,
    "corresponding_author": q_corresponding_author,
    "conversation_stats": q_conversation_stats,
    "id_assignment": q_id_assignment,
    "colav_similarity_match": q_colav_similarity_match,
    "session_window_native": q_session_window_native,
    "intersect_custkeys": q_intersect_custkeys,
    "rollup_revenue": q_rollup_revenue,
    "token_bpe": q_token_bpe,
    "quality_score": q_quality_score,
    "simhash_neardup": q_simhash_neardup,
    "simhash_neardup_wide": q_simhash_neardup_wide,
    "knn_lsh": q_knn_lsh,
    "knn_ivf": q_knn_ivf,
    "knn_ivf_pruned": q_knn_ivf_pruned,
    "embedding_neardup_lsh": q_embedding_neardup_lsh,
    "multimodal_decode": q_multimodal_decode,
}

ORACLES_EXT: dict[str, str] = {
    "staged_lookup_entities": ORACLE_STAGED_LOOKUP,
    "align_positional": ORACLE_ALIGN_POSITIONAL,
    "merge_policies": ORACLE_MERGE_POLICIES,
    "complement_fill_union": ORACLE_COMPLEMENT,
    "rawfeeds_normalize": ORACLE_RAWFEEDS_NORMALIZE,
    "multisource_convergence": ORACLE_MULTISOURCE_CONVERGENCE,
    "scalars_codes": ORACLE_SCALARS_CODES,
    "gazetteer_country": ORACLE_GAZETTEER,
    "csv_worklist_pending": ORACLE_CSV_WORKLIST,
    "keyless_resolution": _oracle_keyless(),
    "fuzzy_staged_cascade": ORACLE_FUZZY_CASCADE,
    # difflib cascades: persisted plain-loop ground truth (see
    # _ensure_expected_corresponding / _ensure_expected_colav)
    "corresponding_author": ORACLE_CORRESPONDING,
    "colav_similarity_match": ORACLE_COLAV,
    "conversation_stats": _oracle_conversation_stats(),
    "id_assignment": ORACLE_ID_ASSIGNMENT,
    "session_window_native": ORACLE_SESSION_WINDOW,
    "intersect_custkeys": ORACLE_INTERSECT,
    "rollup_revenue": ORACLE_ROLLUP_REVENUE,
    "token_bpe": ORACLE_TOKEN_BPE,
    "quality_score": ORACLE_QUALITY_SCORE,
    "simhash_neardup": _oracle_simhash(),
    "simhash_neardup_wide": _oracle_simhash_wide(),
    "knn_lsh": _oracle_knn_lsh(),
    "knn_ivf": ORACLE_KNN_IVF,
    "knn_ivf_pruned": ORACLE_KNN_IVF_PRUNED,
    "embedding_neardup_lsh": _oracle_neardup_lsh(),
    # binary decode is gated against the persisted construction-time
    # ground truth (see _ensure_expected_assets)
    "multimodal_decode": ORACLE_MULTIMODAL,
}
