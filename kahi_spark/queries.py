"""Query registry: every operator from SURVEY.md §2 as a
(spark_callable, duckdb_oracle_sql) pair over the driver's parquet
tables. The Spark side is idiomatic DataFrame API (Catalyst plans);
the oracle side is ANSI SQL with IDENTICAL semantics, so the driver's
side-by-side compare is a real correctness gate.

Column aliases match exactly between both sides (driver hashes after
sorting columns by name). Float results are rounded on BOTH sides to
keep value-hashes stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kahi_spark.operators.merge import (
    latest_change_per_key,
    normalize_events,
    priority_merge,
    reduce_events_to_state,
)
from kahi_spark.sources.events import (
    derive_events_duckdb_sql,
    derive_transcript_events,
    norm_events_cte as _norm_events_cte,
)


def _t(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# reshard/original routing — single implementation, rationale there
from kahi_spark.sources.testdata import read_query_table as _read  # noqa: E402


# ---------------------------------------------------------------------------
# CDC family (events table → transcript change log)
# ---------------------------------------------------------------------------


def q_cdc_apply_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full change-log replay → final transcript state.
    derive → LWW reduce (A1/W4) → normalize the winners (S1/P4/F7/
    F11) → live rows. One shuffle (the keyed window).

    Round 7: REDUCE BEFORE NORMALIZE — the reduce↔normalize fusion's
    result-identical transform (the LWW winner depends only on
    (ts, seq), never on normalized content), applied to the gate
    query: the regex normalize runs on the ≤1-row-per-key winners
    (~key-cardinality rows) instead of every raw event. The oracle
    (normalize-then-reduce SQL) is unchanged and keeps matching by
    the same argument."""
    ev = derive_transcript_events(spark, sf_dir)
    return reduce_events_to_state(normalize_events(ev)).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


ORACLE_CDC_APPLY_LWW = (
    _norm_events_cte()
    + """
, latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
    FROM norm
)
SELECT conv_id, turn_idx, role, text, tool, ts
FROM latest WHERE rn = 1 AND op <> 'delete'
"""
)


def q_cdc_latest_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 first-match-wins: the final change per key, incl deletes."""
    ev = derive_transcript_events(spark, sf_dir)
    return latest_change_per_key(ev).select("conv_id", "turn_idx", "op", "seq")


ORACLE_CDC_LATEST_CHANGE = f"""
WITH ev AS ({derive_events_duckdb_sql('events')}),
latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
    FROM ev
)
SELECT conv_id, turn_idx, op, seq FROM latest WHERE rn = 1
"""


def q_cdc_stable_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 parity rule: per-turn text under stable turn ordering —
    window over conv_id ordered by (turn_idx, ts)."""
    state = q_cdc_apply_lww(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    return state.withColumn("turn_rank", F.row_number().over(w)).select(
        "conv_id", "turn_rank", "turn_idx", "role", "text"
    )


ORACLE_CDC_STABLE_READBACK = (
    _norm_events_cte()
    + """
, latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
    FROM norm
),
state AS (
    SELECT conv_id, turn_idx, role, text, ts
    FROM latest WHERE rn = 1 AND op <> 'delete'
)
SELECT conv_id,
       row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS turn_rank,
       turn_idx, role, text
FROM state
"""
)


def q_cdc_tombstoned_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/J11 anti-join: keys whose final change is a delete — i.e.
    delete-touched keys anti-joined against the live state."""
    ev = derive_transcript_events(spark, sf_dir)
    deleted = ev.filter(F.col("op") == "delete").select("conv_id", "turn_idx").distinct()
    live = q_cdc_apply_lww(spark, sf_dir).select("conv_id", "turn_idx")
    return deleted.join(live, on=["conv_id", "turn_idx"], how="left_anti")


ORACLE_CDC_TOMBSTONED_KEYS = f"""
WITH ev AS ({derive_events_duckdb_sql('events')}),
latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) AS rn
    FROM ev
),
live AS (SELECT conv_id, turn_idx FROM latest WHERE rn = 1 AND op <> 'delete'),
deleted AS (SELECT DISTINCT conv_id, turn_idx FROM ev WHERE op = 'delete')
SELECT d.conv_id, d.turn_idx FROM deleted d
WHERE NOT EXISTS (
    SELECT 1 FROM live l
    WHERE l.conv_id = d.conv_id AND l.turn_idx = d.turn_idx)
"""


def q_cdc_multisource_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A7 priority-coalesce merge: the same key arriving from
    several feeds converges to one canonical record, each field from
    the highest-priority source that has it (Kahi ``join_document``
    re-expression, reference KahiParser.py:334-666).

    The per-(key, source) LWW pre-pass fuses with the normalize
    (``latest_change_per_key``'s reduce↔normalize fusion): it runs on
    RAW events and only the winners are normalized — the winner
    depends only on (ts, seq), so this is result-identical while the
    regex work shrinks from every event to key×source cardinality."""
    ev = derive_transcript_events(spark, sf_dir)
    merged = priority_merge(
        normalize_events(ev),
        value_cols=["role", "text", "tool"],
        priority=("src0", "src1", "src2"),
    )
    return merged.select("conv_id", "turn_idx", "role", "text", "tool")


ORACLE_CDC_MULTISOURCE_MERGE = (
    _norm_events_cte()
    + """
, per_source AS (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx, source ORDER BY ts DESC, seq DESC) AS rn
    FROM norm
),
latest AS (SELECT * FROM per_source WHERE rn = 1)
SELECT conv_id, turn_idx,
    coalesce(max(CASE WHEN source='src0' THEN role END),
             max(CASE WHEN source='src1' THEN role END),
             max(CASE WHEN source='src2' THEN role END)) AS role,
    coalesce(max(CASE WHEN source='src0' THEN text END),
             max(CASE WHEN source='src1' THEN text END),
             max(CASE WHEN source='src2' THEN text END)) AS text,
    coalesce(max(CASE WHEN source='src0' THEN tool END),
             max(CASE WHEN source='src1' THEN tool END),
             max(CASE WHEN source='src2' THEN tool END)) AS tool
FROM latest
GROUP BY conv_id, turn_idx
"""
)


# ---------------------------------------------------------------------------
# Relational family (TPC-H-ish; SURVEY.md §2.1-2.6 scans/joins/aggs/windows)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-series aggregation with predicate pushdown (S2) and
    map-side partial aggregation; Kahi A8 count analogue."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                            AS sum_qty,
       round(sum(l_extendedprice), 2)                       AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
       count(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join chain + agg + deterministic top-k (J1/A8/limit)."""
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_TOP_REVENUE_ORDERS = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiway equi-join J1 shape: region→nation→customer→orders→
    lineitem; dimensions broadcast."""
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


ORACLE_NATION_REVENUE = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
"""


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: point lookups become a broadcast-hash join of the key
    list (reference find_one loops, KahiDb.py:313-330)."""
    orders = _read(spark, sf_dir, "orders")
    keys = spark.createDataFrame([(1,), (7,), (42,), (1000,)], ["o_orderkey"])
    return orders.join(F.broadcast(keys), on="o_orderkey", how="inner").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


ORACLE_POINT_LOOKUP = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey IN (1, 7, 42, 1000)
"""


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W3 window: latest-wins per partition."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


ORACLE_LATEST_ORDER_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
    SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
) WHERE rn = 1
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 anti-join (the processed-set / resume filter shape)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    return cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey", how="left_anti"
    ).select("c_custkey", "c_name", "c_nationkey")


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name, c_nationkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (§2.6): union + distinct."""
    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = _read(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.unionByName(supp).distinct()


ORACLE_UNION_DISTINCT_NATIONS = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# Text analysis family (documents table; training-data pipeline ops)
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring (length / uniqueness ratios),
    all JVM-side expressions."""
    docs = _read(spark, sf_dir, "documents", reshard=False)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n, 6).alias(
            "uniq_token_ratio"
        ),
        F.round(F.length("text").cast("double") / n, 6).alias("avg_token_span"),
    )


ORACLE_TEXT_STATS = """
SELECT doc_id,
       len(string_split(text, ' '))                      AS n_tokens,
       length(text)                                      AS n_chars_computed,
       round(len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')), 6)          AS uniq_token_ratio,
       round(length(text)::DOUBLE
             / len(string_split(text, ' ')), 6)          AS avg_token_span
FROM documents
"""


#: marker stopwords per language for the n-gram/stopword lang-id
#: heuristic (F10 analogue — langid.classify, reference Lens.py:64).
#: Deterministic rule: count marker hits per language, argmax wins,
#: ties broken by language name order, 0 hits → 'und'.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "es": ["el", "la", "los", "de"],
    "fr": ["le", "les", "des", "une"],
    "de": ["der", "die", "das", "und"],
}


def _lang_hits_expr(toks, lang: str):
    total = F.lit(0)
    for m in _LANG_MARKERS[lang]:
        total = total + F.size(F.filter(toks, lambda x: x == F.lit(m)))
    return total


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-marker voting (deterministic,
    SQL-expressible so the oracle is exact). The token array is
    materialized in its OWN projection — inlining ``split(text)``
    into each of the 16 marker filters re-splits the document per
    filter (CollapseProject keeps a multi-referenced non-cheap
    alias, so two selects = one split per row)."""
    docs = _read(spark, sf_dir, "documents", reshard=False)
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
    scored = toked.select(
        "doc_id",
        *[
            _lang_hits_expr(F.col("_toks"), lg).alias(f"hits_{lg}")
            for lg in _LANG_MARKERS
        ],
    )
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in _LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lg in sorted(_LANG_MARKERS):
        pred = pred.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    return scored.select("doc_id", pred.alias("lang_pred"))


def _lang_hits_sql(lang: str) -> str:
    parts = [
        f"len(list_filter(string_split(text, ' '), x -> x = '{m}'))"
        for m in _LANG_MARKERS[lang]
    ]
    return " + ".join(parts)


ORACLE_LANG_ID = f"""
WITH scored AS (
    SELECT doc_id,
           {', '.join(f'{_lang_hits_sql(lg)} AS hits_{lg}' for lg in _LANG_MARKERS)}
    FROM documents
),
best AS (
    SELECT *, greatest({', '.join(f'hits_{lg}' for lg in _LANG_MARKERS)}) AS top
    FROM scored
)
SELECT doc_id,
       CASE WHEN top = 0 THEN 'und'
            {' '.join(f"WHEN hits_{lg} = top THEN '{lg}'" for lg in sorted(_LANG_MARKERS))}
       END AS lang_pred
FROM best
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text (exact-dedup
    blocking key; deterministic across engines)."""
    from kahi_spark.functions.text import fingerprint_expr

    docs = _read(spark, sf_dir, "documents", reshard=False)
    return docs.select("doc_id", fingerprint_expr("text").alias("fp"))


ORACLE_DOC_FINGERPRINT = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the min doc_id per fingerprint group
    (hash-groupBy; one shuffle)."""
    from kahi_spark.functions.text import fingerprint_expr

    docs = _read(spark, sf_dir, "documents", reshard=False)
    return (
        docs.withColumn("fp", fingerprint_expr("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


ORACLE_EXACT_DEDUP = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Near-duplicate / similarity family (documents + embeddings)
# ---------------------------------------------------------------------------


#: stop-shingle document-frequency cap for the gated n-gram query.
#: Measured max df is 25 at sf0.1 (9 at sf0.001), so 64 leaves these
#: datasets untouched while bounding the self-join blowup on skewed
#: corpora (one boilerplate shingle in d docs would contribute d²
#: join rows). The oracle mirrors the cap exactly.
NGRAM_MAX_DF = 64


def q_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3gram Jaccard ≥ 0.8 (J3 fuzzy-join
    family): shingle equi-join as the blocking step — the cross
    product never materializes, only shingle-sharing pairs do.
    Shingles with document frequency > NGRAM_MAX_DF are dropped
    before the self-join (hot-shingle quadratic-blowup guard; see
    ``jaccard_pairs`` for the bounded-error argument)."""
    from kahi_spark.operators.dedup import jaccard_pairs, shingle_df

    docs = _read(spark, sf_dir, "documents")
    return jaccard_pairs(shingle_df(docs), threshold=0.8, max_df=NGRAM_MAX_DF)


from kahi_spark.operators.dedup import SHINGLES_SQL as _SHINGLES_SQL  # noqa: E402

_SHINGLE_CTE = f"""
WITH s AS (
    SELECT doc_id,
           {_SHINGLES_SQL.format(x="text")} AS sh
    FROM documents
)"""

# uncapped variant — the exact-verification oracle for minhash LSH
ORACLE_NGRAM_JACCARD_UNCAPPED = (
    _SHINGLE_CTE
    + """,
e AS (SELECT doc_id, unnest(sh) AS g, len(sh) AS n FROM s),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS common, any_value(a.n) AS na, any_value(b.n) AS nb
    FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common::DOUBLE / (na + nb - common), 6) AS jaccard
FROM pairs
WHERE round(common::DOUBLE / (na + nb - common), 6) >= 0.8
"""
)

# capped variant — mirrors jaccard_pairs(max_df=NGRAM_MAX_DF): both
# the intersection and the per-doc set sizes use the rare-shingle
# subsets
ORACLE_NGRAM_JACCARD = (
    _SHINGLE_CTE
    + f""",
e0 AS (SELECT doc_id, unnest(sh) AS g FROM s),
kept AS (
    SELECT doc_id, g FROM (
        SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM e0
    ) WHERE df <= {NGRAM_MAX_DF}
),
cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common::DOUBLE / (ca.n + cb.n - common), 6) AS jaccard
FROM pairs
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE round(common::DOUBLE / (ca.n + cb.n - common), 6) >= 0.8
"""
)


def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup: shingle → 64 minhashes →
    16 bands × 4 rows → band-bucket join for candidates → exact
    Jaccard verification ≥ 0.8.

    The LSH join is the SCALE path (candidates only, never the cross
    product); the exact verify makes the output identical to the
    brute-force oracle whenever band recall is 1 at the threshold
    (P(miss at j=0.8) = (1-0.8^4)^16 < 2e-4; planted dups here sit
    at j≈0.98 where recall is ~1-1e-12)."""
    from kahi_spark.operators.dedup import minhash_lsh_pairs, shingle_df, verify_jaccard

    docs = _read(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, id_col="doc_id", n_hashes=64, n_bands=16)
    # exact Jaccard verification restricted to the candidate set
    return verify_jaccard(cand, shingle_df(docs), threshold=0.8)


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: probes broadcast
    against the corpus, dot product via zip_with/aggregate (JVM
    higher-order functions, no UDF)."""
    from kahi_spark.operators.similarity import knn_bruteforce

    emb = _read(spark, sf_dir, "embeddings", reshard=False)
    probes = emb.filter(F.col("vec_id") < 5)
    return knn_bruteforce(probes, emb, k=5)


ORACLE_KNN_COSINE = """
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


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the FULL table — the
    exact quadratic verifier (no caps). The scale path is
    ``embedding_neardup_lsh`` (bucket-blocked candidates; see
    queries_ext), verified against this output at test scale."""
    from kahi_spark.operators.similarity import cosine_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, threshold=0.4)


ORACLE_EMBEDDING_NEARDUP = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS score
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4
"""


def q_fuzzy_title_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 blocked fuzzy join: probes vs candidates blocked on
    (lang, source), scored by char-bigram Jaccard of the first 60
    chars (JVM higher-order functions), W1 pick-first per probe."""
    from kahi_spark.operators.fuzzy import (
        bigram_jaccard_expr,
        char_bigrams_expr,
        fuzzy_join,
    )

    docs = _read(spark, sf_dir, "documents")
    head = char_bigrams_expr(F.substring("text", 1, 60))
    probes = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("probe_id"), "lang", "source", head.alias("bg_p")
    )
    cands = docs.filter(F.col("doc_id") >= 50).select(
        F.col("doc_id").alias("cand_id"), "lang", "source", head.alias("bg_c")
    )
    return fuzzy_join(
        probes,
        cands,
        ["lang", "source"],
        "probe_id",
        "cand_id",
        bigram_jaccard_expr(F.col("bg_p"), F.col("bg_c")),
        threshold=0.45,
    ).select("probe_id", "cand_id", "score")


from kahi_spark.operators.fuzzy import BIGRAMS_SQL as _BIGRAMS_SQL  # noqa: E402

ORACLE_FUZZY_TITLE_MATCH = f"""
WITH bg AS (
    SELECT doc_id, lang, source,
           {_BIGRAMS_SQL.format(x="substr(text, 1, 60)")} AS grams
    FROM documents
),
scored AS (
    SELECT p.doc_id AS probe_id, c.doc_id AS cand_id,
           round(len(list_intersect(p.grams, c.grams))::DOUBLE
                 / (len(p.grams) + len(c.grams)
                    - len(list_intersect(p.grams, c.grams))), 6) AS score
    FROM bg p
    JOIN bg c ON p.lang = c.lang AND p.source = c.source
    WHERE p.doc_id < 50 AND c.doc_id >= 50
),
best AS (
    SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY score DESC, cand_id ASC) AS rn
    FROM scored WHERE score >= 0.45
)
SELECT probe_id, cand_id, score FROM best WHERE rn = 1
"""


def q_ids_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15/F16 scalar family: composite-id split + name decomposition
    on the customer dimension."""
    cust = _read(spark, sf_dir, "customer", reshard=False)
    return cust.select(
        "c_custkey",
        F.element_at(F.split(F.col("c_name"), "#"), 2).cast("int").alias("name_id"),
        F.upper(F.substring("c_mktsegment", 1, 1)).alias("segment_initial"),
        F.initcap(F.lower("c_mktsegment")).alias("segment_cap"),
    )


ORACLE_IDS_EXTRACT = """
SELECT c_custkey,
       CAST(string_split(c_name, '#')[2] AS INT) AS name_id,
       upper(substr(c_mktsegment, 1, 1))         AS segment_initial,
       -- initcap equivalent for single-word segments
       upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2)) AS segment_cap
FROM customer
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (streaming §2.8 analogue) as gaps-and-islands:
    a new session starts after >30 min of user inactivity. Two
    windows, both partitioned on user_id — one shuffle reused across
    both (Catalyst reuses the hash partitioning).

    Reads the ORIGINAL single-file events table, not the resharded
    copy: `round(sum(value), 4)` is order-sensitive at x.xxxx5
    boundaries, and a >1-split input makes the partial-sum merge
    order scheduling-dependent (same reason lineitem/orders are
    excluded from SHARD_KEYS — see sources/testdata.py)."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    gap = epoch - F.lag(epoch).over(w)
    with_start = ev.withColumn(
        "is_start", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = with_start.withColumn("session_id", F.sum("is_start").over(w2))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


ORACLE_SESSIONIZE_EVENTS = """
WITH g AS (
    SELECT *,
           CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  OR lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_start
    FROM events
),
s AS (
    -- CAST: DuckDB's windowed sum returns HUGEINT, which pandas
    -- renders as float64 and breaks the driver's value hash against
    -- Spark's BIGINT (values are otherwise identical).
    SELECT *, CAST(sum(is_start) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM s GROUP BY user_id, session_id
"""


def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (the batch shape of
    ``groupBy(window("ts", "1 hour"))`` — event-time windowed agg).

    Original single-file events read, same rounded-double-sum
    determinism reason as q_sessionize_events."""
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


ORACLE_TUMBLING_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
"""


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group (§2.4 note: distinct-count
    aggregates are one-liners in the engine)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_USERS = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / CUBE (SURVEY.md §2.4 note: one-liner in the
    engine even though absent in the reference)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


ORACLE_CUBE_REVENUE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cdc_apply_lww": q_cdc_apply_lww,
    "cdc_latest_change": q_cdc_latest_change,
    "cdc_stable_readback": q_cdc_stable_readback,
    "cdc_tombstoned_keys": q_cdc_tombstoned_keys,
    "cdc_multisource_merge": q_cdc_multisource_merge,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "nation_revenue": q_nation_revenue,
    "point_lookup": q_point_lookup,
    "latest_order_per_customer": q_latest_order_per_customer,
    "customers_without_orders": q_customers_without_orders,
    "union_distinct_nations": q_union_distinct_nations,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard_neardup": q_ngram_jaccard_neardup,
    "minhash_lsh_neardup": q_minhash_lsh_neardup,
    "knn_cosine": q_knn_cosine,
    "embedding_neardup": q_embedding_neardup,
    "fuzzy_title_match": q_fuzzy_title_match,
    "ids_extract": q_ids_extract,
    "sessionize_events": q_sessionize_events,
    "tumbling_hourly": q_tumbling_hourly,
    "cube_revenue": q_cube_revenue,
    "distinct_users": q_distinct_users,
}

ORACLES: dict[str, str] = {
    "cdc_apply_lww": ORACLE_CDC_APPLY_LWW,
    "cdc_latest_change": ORACLE_CDC_LATEST_CHANGE,
    "cdc_stable_readback": ORACLE_CDC_STABLE_READBACK,
    "cdc_tombstoned_keys": ORACLE_CDC_TOMBSTONED_KEYS,
    "cdc_multisource_merge": ORACLE_CDC_MULTISOURCE_MERGE,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "top_revenue_orders": ORACLE_TOP_REVENUE_ORDERS,
    "nation_revenue": ORACLE_NATION_REVENUE,
    "point_lookup": ORACLE_POINT_LOOKUP,
    "latest_order_per_customer": ORACLE_LATEST_ORDER_PER_CUSTOMER,
    "customers_without_orders": ORACLE_CUSTOMERS_WITHOUT_ORDERS,
    "union_distinct_nations": ORACLE_UNION_DISTINCT_NATIONS,
    "text_stats": ORACLE_TEXT_STATS,
    "lang_id": ORACLE_LANG_ID,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "exact_dedup": ORACLE_EXACT_DEDUP,
    "ngram_jaccard_neardup": ORACLE_NGRAM_JACCARD,
    # LSH + exact verify == uncapped brute force (recall math in the
    # q_minhash_lsh_neardup docstring)
    "minhash_lsh_neardup": ORACLE_NGRAM_JACCARD_UNCAPPED,
    "knn_cosine": ORACLE_KNN_COSINE,
    "embedding_neardup": ORACLE_EMBEDDING_NEARDUP,
    "fuzzy_title_match": ORACLE_FUZZY_TITLE_MATCH,
    "ids_extract": ORACLE_IDS_EXTRACT,
    "sessionize_events": ORACLE_SESSIONIZE_EVENTS,
    "tumbling_hourly": ORACLE_TUMBLING_HOURLY,
    "cube_revenue": ORACLE_CUBE_REVENUE,
    "distinct_users": ORACLE_DISTINCT_USERS,
}

# round-2 extension: gated entries for every operator that was
# pytest-only in round 1 (see kahi_spark/queries_ext.py)
from kahi_spark.queries_ext import ORACLES_EXT, QUERIES_EXT  # noqa: E402

QUERIES.update(QUERIES_EXT)
ORACLES.update(ORACLES_EXT)

# round-3 extension: the real sink machinery (epoch ledger, MOR
# compaction, schema evolution) behind the gate
from kahi_spark.queries_sink import ORACLES_SINK, QUERIES_SINK  # noqa: E402

QUERIES.update(QUERIES_SINK)
ORACLES.update(ORACLES_SINK)

# round-4 extension: the persistent incremental indexes (dedup-at-
# ingest, keyless feature state) behind the gate
from kahi_spark.queries_index import ORACLES_INDEX, QUERIES_INDEX  # noqa: E402

QUERIES.update(QUERIES_INDEX)
ORACLES.update(ORACLES_INDEX)

# ---------------------------------------------------------------------------
# gate-window ordering.  The driver's CORRECTNESS compare covers the
# FIRST `GATE_WINDOW` entries of `queries()` in iteration order
# (evidence: CORRECTNESS_r02/_r03 each name exactly registry
# positions 1-50 of the then-current registry).  Round 3 appended its
# headline deliverables at the tail and they silently got no driver
# verdict.  Fix: every entry is registered above in its module of
# origin, then the final registry is REORDERED here so that critical
# entries sit inside the window and only `_DEMOTED` twins (operators
# whose coverage is duplicated by a gated sibling and by the sf0.001
# pytest mirror) sit past it.  tests/test_registry_window.py guards
# the invariant.
# ---------------------------------------------------------------------------

GATE_WINDOW = 50

#: entries whose driver verdict is redundant with a gated sibling —
#: these (and ONLY these) may sit past the window:
#:   embedding_neardup    — exact-quadratic twin of embedding_neardup_lsh
#:   simhash_neardup      — 32-bit twin of simhash_neardup_wide
#:   cube_revenue         — §2.6 twin of rollup_revenue
#:   sessionize_events    — §2.8d twin of session_window_native
#:   intersect_custkeys   — §2.6 set-op twin of union_distinct_nations
#:   distinct_users       — A8 twin of text_stats / conversation_stats
#:   doc_fingerprint      — md5-fingerprint component keeps gated
#:                          sibling exact_dedup (same VERDICT row),
#:                          and the text-analysis family keeps four
#:                          gated members (token_bpe / lang_id /
#:                          text_stats / quality_score); demoted so
#:                          quality_score — whose punct/stopword
#:                          gating has NO gated sibling (ADVICE r4)
#:                          — gets driver-scale coverage back
#:   knn_ivf              — nprobe=n_cells degenerate (≡ brute force,
#:                          same verdict as gated knn_cosine); its
#:                          IVF machinery is now gated by
#:                          knn_ivf_pruned at nprobe < n_cells with a
#:                          stage-mirroring oracle (VERDICT r5 #6)
_DEMOTED = [
    "embedding_neardup",
    "simhash_neardup",
    "cube_revenue",
    "sessionize_events",
    "intersect_custkeys",
    "distinct_users",
    "doc_fingerprint",
    "knn_ivf",
]

#: entries that MUST hold early positions: the round-3 sink/decode/
#: index machinery whose driver verdict is the whole point.
_FRONT = [
    "cdc_apply_lww",
    "cdc_latest_change",
    "cdc_stable_readback",
    "cdc_tombstoned_keys",
    "cdc_multisource_merge",
    "cdc_resume_replay",
    "cdc_schema_evolution",
    "cdc_bucketed_compaction",
    "incremental_dedup",
    "keyless_incremental",
    "multimodal_decode",
    "embedding_neardup_lsh",
]


def _reorder(d: dict) -> dict:
    front = [n for n in _FRONT if n in d]
    tail = [n for n in _DEMOTED if n in d]
    mid = [n for n in d if n not in front and n not in tail]
    return {n: d[n] for n in front + mid + tail}


QUERIES = _reorder(QUERIES)
ORACLES = {n: ORACLES[n] for n in QUERIES if n in ORACLES}
