"""Change-event reduction and MERGE semantics (SURVEY.md §2.4).

This is the heart of the engine — the Spark re-expression of Kahi's
merge machinery:

* ``normalize_events``   — raw change events → canonical columns
  (reference per-source parsers, ``KahiParser.py:136-206``).
* ``latest_change_per_key`` — last-writer-wins reduction per
  ``(conv_id, turn_idx)`` ordered by ``(ts, seq)``; the window-W4
  "stable turn ordering" rule from BASELINE.json. ``strategy="agg"``
  bounds per-task work for hot conv_ids (north_rule skew handling).
  Applied to ``normalize_events`` output it reduces the raw events
  first and normalizes only the winners — the engine's one
  reduce-first path (the pipeline, the sink MERGE and the queries
  all reach it by writing ``reduce(normalize(ev))``).
* ``priority_merge``     — Kahi's per-field source-priority
  coalesce (``join_document``, ``KahiParser.py:334-666``): multiple
  raw feeds describing the same turn converge to ONE canonical
  record, each field taken from the highest-priority source that
  has it.
* ``merge_changes_into_state`` — pure-DataFrame MERGE INTO
  semantics (upsert + delete) used by the snapshot sink; the
  reference analogue is ``insert_one``'s insert-or-``$set`` upsert
  (``KahiDb.py:864-909``).

Everything here is native DataFrame ops — shuffles happen exactly
once per reduction (one hash partition by key), aggregations are
map-side-combinable, and no Python touches the hot path.
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kahi_spark.functions.roles import canonical_role_expr
from kahi_spark.functions.text import clean_text_expr
from kahi_spark.functions.tools import extract_tool_expr, strip_tool_marker_expr
from kahi_spark.schema import KEY_COLS

#: default source priority, highest first. The reference's
#: publication_type merge (``KahiParser.py:366-376``) is an OVERWRITE
#: chain — scielo written first, then scopus/wos/lens each overwrite
#: if present — so the LAST writer (lens) is the effective
#: highest-priority source; this tuple lists that effective priority
#: highest-first. Kept configurable per SURVEY.md §7 "non-standard
#: merge semantics" (other fields use other chains, e.g. abstract
#: ``KahiParser.py:413-425``).
DEFAULT_SOURCE_PRIORITY = ("lens", "wos", "scopus", "scielo", "scholar", "oadoi")


#: the column rewrites of ``normalize_events``, name → Column builder
#: (builders, not Columns: a Column needs a live SparkContext). The
#: reduce-fusion guard reads the names from here, so a column that
#: normalize starts rewriting can never slip past it — the fusion
#: needs normalize to NEVER touch the reduction keys or the (ts, seq)
#: replay ordering.
_NORMALIZE = {
    "role": lambda: canonical_role_expr("role"),
    # tool first (extracted from raw text), then text loses the marker
    "tool": lambda: extract_tool_expr("text", "tool"),
    "text": lambda: clean_text_expr(strip_tool_marker_expr("text")),
}
_NORMALIZED_COLS = frozenset(_NORMALIZE)


def normalize_events(events: DataFrame) -> DataFrame:
    """Raw change events → canonical event columns.

    Role canonicalization (F11), text cleaning (F7), tool-field
    extraction (J4 analogue) — all JVM-side.

    The returned frame carries a fusion tag: when it flows DIRECTLY
    into ``latest_change_per_key`` (the replay composition
    ``reduce(normalize(ev))``), the reduce rewrites itself to
    reduce-first / normalize-the-winners — see the fusion note there.
    Any intermediate transformation drops the tag and the composition
    runs exactly as written.
    """
    out = events.withColumns({c: build() for c, build in _NORMALIZE.items()})
    # fusion tag: the raw parent, consumed (and validated) by
    # latest_change_per_key. A plain instance attribute: every
    # DataFrame transformation returns a NEW object, so only `out`
    # carries it — but cache()/persist() return `out` itself, so the
    # reduce also checks is_cached and reads a persisted frame as
    # written.
    out._kahi_deferred_normalize = events
    return out


#: the event-time floor a NULL ``ts`` reads as in LWW comparisons
_TS_FLOOR = "1970-01-01 00:00:00"


def lww_order(ts: Column | str = "ts", seq: Column | str = "seq") -> list[Column]:
    """The one last-writer-wins order, as ascending sort keys: event
    time, then log position (W4), with a NULL ``ts`` read as the 1970
    floor. Every Spark-side LWW site orders or compares through this —
    the window and agg reduces, ``_newer_than``, the MOR read resolve
    and the dedup index's text picker — so they pick the same winner
    even for a NULL ts next to a pre-1970 one (a bare ``ts desc``
    sorts NULL below every real time instead)."""
    t = F.col(ts) if isinstance(ts, str) else ts
    s = F.col(seq) if isinstance(seq, str) else seq
    return [F.coalesce(t, F.to_timestamp(F.lit(_TS_FLOOR))), s]


def latest_change_per_key(
    events: DataFrame,
    key_cols: list[str] | None = None,
    strategy: str = "window",
) -> DataFrame:
    """Reduce a change batch to its final change per key (LWW).

    Within one batch only the LAST change (by ``lww_order``: ts, then
    seq, NULL ts as the 1970 floor) per ``(conv_id, turn_idx)``
    matters for the final state — a delete followed by a re-insert
    survives as the insert, an insert followed by updates survives as
    the last update.

    ``strategy``:

    * ``"window"`` (default) — ``row_number() over (partition by key
      order by lww_order desc) = 1``: one shuffle on the key, one
      per-partition sort. Fastest at moderate skew (measured: a
      single key holding 10% — even 50% — of a 24M-event log costs
      the window path nothing visible at local[32]; the tail task's
      in-memory sort is cheap next to the shuffle).
    * ``"agg"`` — ``max_by(struct(values), struct(ts, seq))`` with
      map-side PARTIAL aggregation: a hot key collapses to ONE row
      per map partition BEFORE the shuffle, so per-task work is
      bounded by construction at ANY skew — at 10^10 events with
      10% on one conversation, the window path's hot task sorts
      10^9 rows (spilling, wall-dominating) while this path shuffles
      ≤ n_map_partitions rows for that key. Measured at 24M/local[32]:
      fastest under extreme skew (3.5 s vs 4.2 s window at a 50%-hot
      key), ~1.4× slower than window on uniform input (high
      distinct-key cardinality pays the aggregation-merge overhead).
      The production default for genuinely skewed logs; ties on
      (ts, seq) pick an arbitrary winner exactly like row_number.
    """
    keys = key_cols or KEY_COLS
    # reduce↔normalize fusion (round 7, guide §2.2 "shuffle fewer
    # bytes / do less work before the shuffle"): when the input is the
    # DIRECT output of normalize_events, rewrite reduce(normalize(ev))
    # → normalize(reduce(ev)). Result-identical because the winner per
    # key depends ONLY on (key_cols, ts, seq) — none of which
    # normalize touches (checked below, not assumed) — and the
    # normalize columns are row-wise functions of the winning row.
    # Catalyst has no rule to defer expensive projections past a
    # Window/aggregate, so at 24M events the regex cleaner ran on
    # every raw event (measured: normalize was >50% of the n32 replay
    # wall) instead of on the ~half that survive LWW. A persisted
    # frame is reduced as written: its cache already holds the
    # normalized rows.
    raw = getattr(events, "_kahi_deferred_normalize", None)
    if (
        raw is not None
        and not events.is_cached
        and not ({*keys, "ts", "seq"} & _NORMALIZED_COLS)
    ):
        return normalize_events(_reduce(raw, keys, strategy))
    return _reduce(events, keys, strategy)


def _reduce(events: DataFrame, keys: list[str], strategy: str) -> DataFrame:
    """The LWW reduction of ``latest_change_per_key``, as written."""
    if strategy == "agg":
        vals = [c for c in events.columns if c not in keys]
        won = events.groupBy(*keys).agg(
            F.max_by(F.struct(*[F.col(c) for c in vals]), F.struct(*lww_order())).alias("_w")
        )
        # restore the original column order (callers and checksums
        # are column-order sensitive)
        return won.select(
            *[
                F.col(f"_w.{c}").alias(c) if c in vals else F.col(c)
                for c in events.columns
            ]
        )
    if strategy != "window":
        raise ValueError(f"unknown reduce strategy {strategy!r}")
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in lww_order()])
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def priority_merge(
    events: DataFrame,
    value_cols: list[str],
    priority: tuple[str, ...] = DEFAULT_SOURCE_PRIORITY,
    key_cols: list[str] | None = None,
    reduce_strategy: str = "window",
) -> DataFrame:
    """Multi-source convergence: one canonical record per key, each
    field from the highest-priority source that provides it.

    Spark re-expression of ``join_document`` (``KahiParser.py:
    334-666``): instead of per-field Python overwrite chains, a
    single ``groupBy(key)`` with, per field,
    ``coalesce(max(when(source=p0, v)), max(when(source=p1, v)), …)``
    — one shuffle, map-side partial aggregation, fully
    Catalyst-optimized. Sources not in ``priority`` rank last (by
    name, deterministic); within one source the latest ``(ts, seq)``
    wins first (A1 + W4 composed); on ``normalize_events`` output
    that per-source reduce fuses, so only the winners are normalized.
    """
    keys = key_cols or KEY_COLS
    # Within each (key, source), keep the latest version first.
    per_source = latest_change_per_key(
        events, key_cols=keys + ["source"], strategy=reduce_strategy
    )
    aggs = list(_priority_pick_aggs(tuple(value_cols), tuple(priority)))
    return per_source.groupBy(*keys).agg(*aggs)


@_functools.lru_cache(maxsize=32)
def _priority_pick_aggs(value_cols: tuple[str, ...], priority: tuple[str, ...]) -> tuple:
    """The fixed per-field aggregate Columns of ``priority_merge``,
    built once per (value_cols, priority) per process (round 7: the
    trees reference only constant column names, and rebuilding ~30
    aggregate chains cost ~0.2 s of py4j round-trips per call)."""

    def pick(col: str) -> Column:
        tiers = [
            F.max(F.when(F.col("source") == p, F.col(col))) for p in priority
        ]
        # unknown sources: deterministic fallback — the value from the
        # lexicographically-smallest unknown source that HAS the field
        # (struct min is lexicographic: source name first, then value
        # for same-source ties).
        known = F.lit(False)
        for p in priority:
            known = known | (F.col("source") == p)
        unknown_pick = F.min(
            F.when(~known & F.col(col).isNotNull(), F.struct(F.col("source"), F.col(col).alias("v")))
        ).getField("v")
        tiers.append(unknown_pick)
        return F.coalesce(*tiers).alias(col)

    aggs = [pick(c) for c in value_cols]
    # lineage: which feeds contributed (Kahi's source_checked,
    # json_schema.txt:10-13) and the latest event time.
    aggs.append(F.array_sort(F.collect_set("source")).alias("sources"))
    aggs.append(F.max("ts").alias("ts"))
    return tuple(aggs)


#: system columns carried inside the stored state (never exposed by
#: SnapshotTable.read()): the last writer's log position and a
#: delete tombstone. Tombstones make out-of-order CDC correct: a
#: delete in epoch N must not be resurrected by an older insert
#: arriving in epoch N+1 (events are late/out-of-order by design —
#: the reference tolerates this because Mongo upserts are keyed,
#: SURVEY.md §2.8; we tolerate it by versioned conditional MERGE).
SYS_SEQ = "_seq"
SYS_DELETED = "_deleted"


def _newer_than(new_ts: Column, new_seq: Column, old_ts: Column, old_seq: Column) -> Column:
    """True where (new_ts, new_seq) is later than (old_ts, old_seq)
    in ``lww_order``."""
    nts, nseq = lww_order(new_ts, new_seq)
    ots, oseq = lww_order(old_ts, old_seq)
    return (nts > ots) | ((nts == ots) & (nseq > oseq))


#: Field-level merge policies (A9 — the reference's "mod" patch
#: computation, KahiDb.py:571-622 (authors), :650-732 (institutions),
#: :760-860 (sources)):
#:   lww        — newer (ts, seq) wins wholesale (default; $set)
#:   fill_empty — target keeps its value, change fills NULLs only
#:                (Kahi: "if reg[k] and not stored[k]")
#:   union      — array set-union, order-normalized
#:                (Kahi: aliases/keywords/ids/serials dedup append)
#:   greatest   — max of both (Kahi: max source_checked date,
#:                KahiDb.py:850-858)
#: union/greatest are COMMUTATIVE (replay order can't change the
#: result); fill_empty is only IDEMPOTENT — first-non-null-wins
#: depends on batch arrival order across batches, so replaying the
#: SAME epoch is safe (the ledger guarantees that) but reordering
#: different epochs can change which batch filled a NULL first.
MERGE_POLICIES = ("lww", "fill_empty", "union", "greatest")


def merge_changes_into_state(
    state: DataFrame,
    changes: DataFrame,
    key_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
    policies: dict[str, str] | None = None,
) -> DataFrame:
    """Versioned MERGE INTO semantics over plain DataFrames.

    ``state`` carries system columns ``_seq`` / ``_deleted``;
    ``changes`` must already be reduced to ≤1 row per key (use
    ``latest_change_per_key``) and carry ``op``/``seq``/``ts``.

    WHEN MATCHED AND change is newer AND op='delete' → tombstone
    WHEN MATCHED AND change is newer                 → UPDATE SET *
    WHEN MATCHED AND change is older                 → keep target
    WHEN NOT MATCHED                                 → INSERT *
                                (deletes insert as tombstones)

    Implemented as one full-outer join on the key — the plan an
    Iceberg copy-on-write MERGE produces. With both sides bucketed
    on ``conv_id`` this is a storage-partitioned join on a real
    cluster; locally it's sort-merge with AQE skew splitting.
    """
    keys = key_cols or KEY_COLS
    vals = value_cols or [
        c for c in state.columns if c not in keys + [SYS_SEQ, SYS_DELETED]
    ]
    ch = changes.select(
        *keys,
        F.col("op").alias("_op"),
        F.col("seq").alias("_new_seq"),
        *[F.col(c).alias(f"_new_{c}") for c in vals if c in changes.columns],
    )
    joined = state.join(ch, on=keys, how="full_outer")
    has_change = F.col("_op").isNotNull()
    is_new_row = F.col(SYS_SEQ).isNull()
    new_ts = F.col("_new_ts") if "_new_ts" in ch.columns else F.lit(None).cast("timestamp")
    wins = has_change & (
        is_new_row | _newer_than(new_ts, F.col("_new_seq"), F.col("ts"), F.col(SYS_SEQ))
    )
    pol = policies or {}
    out_cols: list[Column] = [F.col(k) for k in keys]
    for c in vals:
        new_c = f"_new_{c}"
        if new_c not in joined.columns:
            out_cols.append(F.col(c))
            continue
        p = pol.get(c, "lww")
        if p == "lww":
            merged = F.when(wins, F.col(new_c)).otherwise(F.col(c))
        elif p == "fill_empty":
            merged = F.when(has_change, F.coalesce(F.col(c), F.col(new_c))).otherwise(
                F.col(c)
            )
        elif p == "union":
            merged = F.when(
                has_change,
                F.array_sort(
                    F.array_distinct(
                        F.array_union(
                            F.coalesce(F.col(c), F.array()),
                            F.coalesce(F.col(new_c), F.array()),
                        )
                    )
                ),
            ).otherwise(F.col(c))
        elif p == "greatest":
            merged = F.when(has_change, F.greatest(F.col(c), F.col(new_c))).otherwise(
                F.col(c)
            )
        else:
            raise ValueError(f"unknown merge policy {p!r} for column {c!r}")
        out_cols.append(merged.alias(c))
    out_cols.append(
        F.when(wins, F.col("_new_seq")).otherwise(F.col(SYS_SEQ)).alias(SYS_SEQ)
    )
    out_cols.append(
        F.when(wins, F.col("_op") == F.lit("delete"))
        .otherwise(F.coalesce(F.col(SYS_DELETED), F.lit(False)))
        .alias(SYS_DELETED)
    )
    return joined.select(*out_cols)


def state_from_reduced(reduced: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Bootstrap internal state (with system columns) from a reduced
    change batch — deletes become tombstones."""
    keys = key_cols or KEY_COLS
    vals = [c for c in reduced.columns if c not in keys + ["op", "seq", "source"]]
    return reduced.select(
        *keys,
        *vals,
        F.col("seq").alias(SYS_SEQ),
        (F.col("op") == "delete").alias(SYS_DELETED),
    )


def reduce_events_to_state(
    events: DataFrame,
    key_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
    strategy: str = "window",
) -> DataFrame:
    """Full replay: change log → final table state in one pass.

    LWW per key, then drop keys whose final op is delete. This is
    the batch "reference reducer" used for parity checks and the
    fast path for initial table bootstrap (one shuffle total).
    """
    keys = key_cols or KEY_COLS
    last = latest_change_per_key(events, key_cols=keys, strategy=strategy)
    live = last.filter(F.col("op") != "delete")
    vals = value_cols or [
        c for c in live.columns if c not in keys and c not in ("op", "seq", "source")
    ]
    return live.select(*keys, *vals)
