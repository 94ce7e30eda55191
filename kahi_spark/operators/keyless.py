"""Keyless-event resolution (SURVEY.md EP3 / §7.8 — the reference's
similarity-driven ingest: records with no DOI are matched against the
preloaded candidate lists by fuzzy title+journal+year scoring,
``KahiDb.py:161-242, 385-450``).

CDC reframing: change events sometimes arrive with a NULL ``conv_id``
(a feed that lost the key). Instead of the reference's O(N·M) driver-
side loop, the resolver is a blocked fuzzy join against the CURRENT
TABLE STATE.

**Feature set.** Each text is represented by ONE feature set ``_ft``:
distinct word-3gram shingles, falling back to distinct char bigrams
below ``MIN_SHINGLES`` shingles. Shingles keep long low-alphabet
texts discriminative (char bigrams saturate there — the round-2
source of 5.5% wrong resolutions at scale); bigrams keep short texts
dense (a 4-element shingle set quantizes Jaccard so coarsely that
one edit drops j below any useful threshold). The two regimes cannot
cross-match (a 2-char bigram never equals a ≥5-char shingle), and a
near-dup pair lands in the same regime because near-equal texts have
near-equal shingle counts.

**Blocking** — three CONJUNCTIVE keys (the reference blocks on exact
year only, ``KahiDb.py:84-86`` — a ~25-value key, so at 10^10 rows
each probe would meet ~4% of the table):

* ``turn_idx`` (exact);
* a GEOMETRIC feature-count bucket: integer boundaries each ≥
  1/``mid`` × the previous (``_lb`` in ``_with_features``), probe
  exploded to {b-1, b, b+1}. Score ≥ mid forces a feature-set size
  ratio ≥ mid, and consecutive boundary ratios ≥ 1/mid make any
  such pair land within one bucket — the exact version of the recall
  bound a fixed-width length bucket only approximates (round-2
  ADVICE);
* a MinHash slot over ``_ft``: one portable 60-bit md5 hash per
  feature, then ``N_SLOTS`` universal-hash permutations
  ``(a·h + b) mod p`` min-folded per slot; candidate pairs collide
  when ANY slot matches. P(collide) = 1-(1-j)^N_SLOTS over feature
  Jaccard j (≥ 99.6% at j = 0.75, →1 as j→1), while the slot VALUE
  space is the full hash range — unlike fixed-width SimHash bands
  (256 / 65k values) the key cardinality never saturates, so bucket
  population is driven by feature document-frequency, not key
  exhaustion. This third conjunctive key removes the round-2
  ~10³-bucket ceiling (measured: 1 candidate/probe at 100k state vs
  ~10³ before).

**Scoring** — feature-set Jaccard over the 60-bit feature HASHES
(JVM long-array intersection — 8-byte compares instead of string
compares, identical values in both engines, 2^-60 collision odds;
rounded to 6), staged cascade: a high bare-text threshold OR a medium
threshold AND matching role (the reference's title≥90 OR (title≥80
AND journal>90 AND year equal) cascade, ``KahiDb.py:49-87``); W1
pick-first per event (best score, lowest conv_id). Matched events
adopt the matched ``conv_id``; unmatched events mint a deterministic
surrogate (``u<seq>``) — same shape as Kahi inserting a brand-new
record when no candidate matches.

**Join shape** (the 100-TB part): probe block rows are SLIM (ids +
block keys) and broadcast into ONE streaming pass over state; the
state side streams its feature arrays through the slot explode into
the hash probe (only colliding rows SURVIVE into the dropDuplicates
+ probe-feature re-join). The state side is never shuffled and never
re-scanned. A slimmer variant — keys-only through the explode plus a
second pass over the checkpointed features to fetch arrays — was
A/B'd in round 6 and LOST 12% at sf0.1 (the rescan outweighs the 4×
array duplication at this scale; BASELINE.md round-6 keyless note),
so the array-carrying single pass is the measured choice here. At
10^10 rows the feature/slot columns come from a PERSISTED index
maintained at merge time (the ``sinks/dedup_index.py`` pattern)
instead of being recomputed per batch — the join shape is identical,
and the slim-rejoin idea is worth re-measuring there since the
rescan becomes columnar and bucket-prunable.

Everything is deterministic (md5-keyed hashing, fixed permutation
constants), so the DuckDB oracle replicates blocking, score, cascade
and tie-breaks bit-for-bit.

Consumption-marking falls out of MERGE, as SURVEY.md §3 EP3 notes:
once a keyless event lands under a conv_id, the next batch sees it
in state.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kahi_spark.operators.dedup import H60_SPARK_SQL, MINHASH_P, _shingles_sql

#: cascade thresholds (defaults; see resolve_keyless_events)
HIGH, MID = 0.85, 0.65

#: shingle sets smaller than this fall back to char bigrams
MIN_SHINGLES = 8

#: independent MinHash slots for the third conjunctive block key
N_SLOTS = 4

#: fixed permutation constants (a_i, b_i) — spelled identically in
#: the DuckDB oracle (see queries_ext._slot_sql)
SLOT_PERMS = [(1_103_515_245, 12_345), (69_069, 362_437), (214_013, 2_531_011), (134_775_813, 1)]

#: geometric feature-count bucket boundaries: each ≥ (1/MID)× the
#: previous, so a size ratio > MID implies adjacent-or-equal buckets
SIZE_BUCKETS: list[int] = [1]
while SIZE_BUCKETS[-1] < 200_000:
    SIZE_BUCKETS.append(math.ceil(SIZE_BUCKETS[-1] / MID))


def jaccard_expr(a: Column, b: Column) -> Column:
    """Set Jaccard of two arrays, rounded to 6 (engine-portable:
    integer set sizes, one double division). Two EMPTY sets score
    NULL — not 1.0, and not an ANSI DIVIDE_BY_ZERO (DuckDB's x/0 is
    NULL too), so featureless pairs never match."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, F.round(inter.cast("double") / union, 6))


def _with_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Staged feature columns: ``_ft`` (the 60-bit md5 hashes of the
    shingle-or-bigram feature set — all downstream consumers compare
    HASHES: 8-byte longs intersect/shuffle far cheaper than feature
    strings, and both engines compute identical values so the oracle
    is unaffected; a 2^-60 collision is the accepted trade),
    ``_m0..`` MinHash slots, ``_lb`` geometric size bucket. Each
    stage is its own projection so CollapseProject cannot re-evaluate
    the expensive array/md5 expressions per downstream reference;
    ``lower``/``split`` materialize first: inside the per-element
    lambdas they would re-run per shingle/bigram, O(len²) per doc
    (measured 3.7× the extraction cost at 100k docs). Bigrams are
    inside the CASE, so long-text rows never pay for them; texts
    shorter than a bigram (incl. '' and NULL) get the EMPTY set, so
    two contentless rows never score 1.0. An empty set has NULL
    MinHash slots (NULL join keys never match, so featureless probes
    mint surrogates); ``_lb`` folds integer comparisons only, so it
    is bit-exact across engines (a log() bucket would hit libm
    differences at boundaries)."""
    # round 7: the feature expressions are spelled as SQL strings (one
    # parser call each) — Column-builder spellings cost ~0.6 s of py4j
    # round-trips per query construction (measured). The DuckDB oracle
    # (queries_ext) is the independent formulation.
    bigrams_sql = (
        "CASE WHEN length(_lc) >= 2 THEN array_distinct(transform("
        "sequence(1, greatest(length(_lc) - 1, 1)), "
        "i -> substring(_lc, i, 2))) ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    staged = df.withColumns(
        {"_lc": F.lower(F.col(text_col)), "_tk": F.split(F.col(text_col), " ")}
    )
    staged = staged.withColumn("_sh", F.expr(_shingles_sql("_tk", 3)))
    staged = staged.withColumn(
        "_fs",
        F.expr(f"CASE WHEN size(_sh) >= {MIN_SHINGLES} THEN _sh ELSE {bigrams_sql} END"),
    ).drop("_lc", "_tk", "_sh")
    staged = staged.withColumn(
        "_ft", F.expr(f"transform(_fs, t -> {H60_SPARK_SQL.format(x='t')})")
    ).drop("_fs")
    staged = staged.withColumns(
        {
            f"_m{i}": F.expr(
                f"array_min(transform(_ft, h -> "
                f"pmod({a} * pmod(h, {MINHASH_P}) + {b}, {MINHASH_P})))"
            )
            for i, (a, b) in enumerate(SLOT_PERMS[:N_SLOTS])
        }
    )
    lb_sql = " + ".join(
        f"(CASE WHEN size(_ft) >= {t} THEN 1 ELSE 0 END)" for t in SIZE_BUCKETS
    )
    return staged.withColumn("_lb", F.expr(lb_sql))


import functools as _functools


@_functools.lru_cache(maxsize=1)
def _probe_block_explode() -> Column:
    """Probe-side (±1 lb × slot) block-row explode — a fixed Column
    tree over the constant ``_lb``/``_m<i>`` names, built once per
    process (round 7: the 12-struct loop cost ~0.1 s of py4j per
    resolve construction)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    (F.col("_lb") + d).alias("_lb"),
                    F.lit(i).alias("_si"),
                    F.col(f"_m{i}").alias("_sv"),
                )
                for d in (-1, 0, 1)
                for i in range(N_SLOTS)
            ]
        )
    )


@_functools.lru_cache(maxsize=1)
def _state_slot_explode() -> Column:
    """State-side slot explode (fixed tree; see _probe_block_explode)."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("_si"), F.col(f"_m{i}").alias("_sv"))
                for i in range(N_SLOTS)
            ]
        )
    )


def resolve_keyless_events(
    events: DataFrame,
    state: DataFrame,
    high: float = HIGH,
    mid: float = MID,
    state_features: DataFrame | None = None,
    blocking: str = "conjunctive",
) -> DataFrame:
    """``events``: normalized change events, possibly with NULL
    conv_id. ``state``: current table rows (conv_id, turn_idx, role,
    text, …). Returns events with conv_id resolved everywhere.

    ``state_features``: a precomputed candidate-feature frame
    (conv_id, turn_idx, role, _ft, _m0.., _lb) — pass
    ``KeylessFeatureIndex.features()`` so the state is featurized
    once per version instead of once per batch (the only shape that
    works at 10^10 state rows). When given, ``state`` is ignored.

    ``blocking``:
    * ``"conjunctive"`` (default, the 10^10-row shape): candidates
      must share (turn_idx, ±1 size bucket, any MinHash slot) — the
      gate queries mirror exactly this path, so it stays the
      deterministic default.
    * ``"single"``: block on turn_idx alone — no probe explosion, no
      slot fan-out; candidate recall is a strict SUPERSET of the
      conjunctive path (more pairs scored, never fewer), so small
      states trade a bounded scoring increase for the removed fixed
      cost.
    """
    if mid < MID and blocking != "single":
        # SIZE_BUCKETS geometry (ratio MID between consecutive
        # boundaries) guarantees the conjunctive ±1-bucket blocking
        # reaches every pair with jaccard ≥ MID; a looser threshold
        # would need wider buckets or a wider ± window — candidates
        # between `mid` and MID would silently never be generated
        # (round-5 review). blocking="single" has no bucket key and
        # accepts any mid.
        raise ValueError(
            f"mid={mid} below {MID}: the conjunctive size-bucket "
            f"geometry only guarantees recall down to jaccard >= {MID} "
            "(use blocking='single' or widen SIZE_BUCKETS to go lower)"
        )
    keyed = events.filter(F.col("conv_id").isNotNull())
    keyless = events.filter(F.col("conv_id").isNull())

    # The featurized frames are materialized ONCE (eager checkpoint).
    # Two reasons, both measured (profile in BASELINE.md round 5):
    # (a) the ±1-bucket × N_SLOTS explode below references _m*/_lb
    # across 12 struct elements, and Catalyst's projection collapse
    # re-evaluates the md5/shingle featurization per exploded element
    # (~12× the one-shot cost — 4.0 s of the gate query's 4.9 s);
    # (b) p is consumed twice (block rows + scoring re-join). Probes
    # are batch-small BY DESIGN (the keyless fraction of one epoch).
    _feat_cols = ["_ft", *[f"_m{i}" for i in range(N_SLOTS)], "_lb"]
    if state_features is not None:
        # persistent-index mode (the 10^10-row shape): state features
        # come precomputed; only the probes featurize + checkpoint
        p = _with_features(
            keyless.select(
                F.col("seq").alias("_p_seq"),
                F.col("turn_idx"),
                F.col("role").alias("_p_role"),
                F.col("text"),
            )
        ).localCheckpoint(eager=True)
        c = state_features.select(
            F.col("conv_id").alias("_c_conv"),
            F.col("turn_idx"),
            F.col("role").alias("_c_role"),
            *_feat_cols,
        )
    else:
        # recompute-per-batch mode: featurize probes AND state in ONE
        # tagged-union pass and checkpoint once (round 7 — two eager
        # checkpoint jobs were ~1.2 s of the gate query; the fused
        # single job A/B'd 2.5-3.1 s vs 2.9-3.7 s end-to-end,
        # checksum-equal). NULL-typed id columns on the opposite side
        # keep the union schema exact with no value round-trips.
        seq_t = events.schema["seq"].dataType
        conv_t = state.schema["conv_id"].dataType
        pu = keyless.select(
            F.lit("p").alias("_side"),
            F.col("seq").alias("_p_seq"),
            F.lit(None).cast(conv_t).alias("_c_conv"),
            F.col("turn_idx"),
            F.col("role").alias("_role"),
            F.col("text"),
        )
        cu = state.select(
            F.lit("c").alias("_side"),
            F.lit(None).cast(seq_t).alias("_p_seq"),
            F.col("conv_id").alias("_c_conv"),
            F.col("turn_idx"),
            F.col("role").alias("_role"),
            F.col("text"),
        )
        feats = _with_features(pu.unionByName(cu)).localCheckpoint(eager=True)
        p = feats.filter(F.col("_side") == "p").select(
            "_p_seq", "turn_idx", F.col("_role").alias("_p_role"), *_feat_cols
        )
        c = feats.filter(F.col("_side") == "c").select(
            "_c_conv", "turn_idx", F.col("_role").alias("_c_role"), *_feat_cols
        )
    if blocking == "single":
        cands = c.select(
            "_c_conv", "turn_idx", "_c_role", F.col("_ft").alias("_c_ft")
        ).join(
            F.broadcast(p.select("_p_seq", "turn_idx")), on="turn_idx", how="inner"
        )
    else:
        # slim probe block rows, exploded to (lb offset × slot): the
        # equi-join hash-keys on ALL FOUR block columns; ±1 lb
        # offsets keep bucket-boundary recall, N_SLOTS rows give
        # any-slot-matches
        p_slim = p.select(
            "_p_seq", "turn_idx", _probe_block_explode().alias("_blk")
        ).select("_p_seq", "turn_idx", "_blk._lb", "_blk._si", "_blk._sv")
        cands = (
            c.select(
                "_c_conv",
                "turn_idx",
                "_c_role",
                F.col("_ft").alias("_c_ft"),
                "_lb",
                _state_slot_explode().alias("_blk"),
            )
            .select(
                "_c_conv", "turn_idx", "_c_role", "_c_ft", "_lb", "_blk._si", "_blk._sv"
            )
            .join(F.broadcast(p_slim), on=["turn_idx", "_lb", "_si", "_sv"], how="inner")
            .dropDuplicates(["_p_seq", "_c_conv", "turn_idx"])
        )
    p_feats = p.select("_p_seq", "_p_role", F.col("_ft").alias("_p_ft"))
    scored = (
        cands.join(p_feats, on="_p_seq", how="inner")
        .withColumn("_score", jaccard_expr(F.col("_p_ft"), F.col("_c_ft")))
        .filter(
            (F.col("_score") >= high)
            | ((F.col("_score") >= mid) & (F.col("_p_role") == F.col("_c_role")))
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_p_seq").orderBy(F.desc("_score"), F.asc("_c_conv"))
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("_p_seq").alias("seq"), F.col("_c_conv").alias("_resolved"))
    )
    # best is ≤ one row per probe (batch-small by construction) but
    # sits above a window aggregation whose size Spark cannot estimate
    # — without the hint the left join plans as sort-merge and
    # shuffles+sorts BOTH sides (round-7 before-plan: Exchange+Sort on
    # the probe branch just for this join)
    resolved = (
        keyless.join(F.broadcast(best), on="seq", how="left")
        .withColumn(
            "conv_id",
            F.coalesce(F.col("_resolved"), F.concat(F.lit("u"), F.col("seq"))),
        )
        .drop("_resolved")
    )
    return keyed.unionByName(resolved.select(*keyed.columns))
