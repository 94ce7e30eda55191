"""Oracle-gated entries for the PERSISTENT incremental indexes — the
100-TB shape of dedup-at-ingest and keyless resolution (the two
components VERDICT r3 called "the 100-TB story", pytest-only until
now):

* ``incremental_dedup`` — an ``LshDedupIndex`` built over epochs 0-1
  of the document stream, then epoch 2 (which includes PERTURBED
  COPIES of epoch-0 docs — first word dropped) deduped against it:
  cross-epoch near-dup detection without re-shingling the corpus.
  Epoch 1 is re-added under its committed epoch id first (idempotent
  replay, same discipline as the snapshot ledger).  Oracle =
  closed-form SQL over the whole documents table: the production
  MinHash signature (md5-60 shingle hashes, ``LshDedupIndex``
  defaults) mirrored bit-for-bit in DuckDB, and the band
  join omitted BY PIGEONHOLE — with threshold 0.8 > 1 - 16/64, any
  pair with ≥ ⌈0.8·64⌉ = 52 equal slots has ≤ 12 unequal slots,
  which can break at most 12 of the 16 bands, so ≥ 1 band is fully
  equal and band candidacy is implied (and a hash-collision
  candidate that passes verification is likewise slot-equal, so the
  two candidate sets agree EXACTLY after the est-Jaccard filter).
  Reference analogue: Kahi's already-in-db skip
  (``KahiDb.py:161-242``).
* ``keyless_incremental`` — a ``KeylessFeatureIndex`` updated over
  state epochs 0-1 (epoch 1 replayed idempotently, then compacted),
  then epoch-2 keyless probes resolved against ``features()``
  instead of re-featurizing state.  Oracle = the parameterized
  keyless-resolver SQL (``queries_ext._oracle_keyless``) with the
  state restricted to epochs 0-1.  Reference analogue:
  ``Kahi.py:195-199`` resume-from-checkpoint candidate preload.

Both run against throwaway /tmp dirs (a few MB at gate scale) and
are fully deterministic: epoch splits are arithmetic on stable ids.
"""

from __future__ import annotations

import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kahi_spark.operators.merge import normalize_events
from kahi_spark.sources.events import derive_transcript_events

#: the ``LshDedupIndex`` defaults the incremental_dedup oracle mirrors
N_HASHES, N_BANDS, THRESHOLD, SEED = 64, 16, 0.8, 42


def _doc_stream(spark: SparkSession, sf_dir: str):
    """(epoch0, epoch1, epoch2) document batches as (key, text):
    epochs split by doc_id % 3; epoch 2 additionally carries a
    perturbed copy (first word dropped, key + 100000) of every
    epoch-0 doc — guaranteed strong near-dups ACROSS epochs, the
    case the index exists for. Keys are zero-padded so the
    lexicographic in-batch ordering (string keys) matches numeric."""
    from kahi_spark.sources.testdata import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    key = F.lpad(F.col("doc_id").cast("string"), 6, "0")
    by_epoch = [
        docs.filter(F.pmod("doc_id", F.lit(3)) == e).select(key.alias("key"), "text")
        for e in range(3)
    ]
    perturbed = docs.filter(F.pmod("doc_id", F.lit(3)) == 0).select(
        F.lpad((F.col("doc_id") + 100000).cast("string"), 6, "0").alias("key"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    return by_epoch[0], by_epoch[1], by_epoch[2].unionByName(perturbed)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest via the persistent LSH index: epochs 0-1
    indexed (epoch 1 twice — idempotent replay), epoch 2 checked.
    Returns (key, match_key, est_jaccard) for every epoch-2 doc
    judged a near-dup of an indexed or lower-keyed in-batch doc."""
    from kahi_spark.sinks.dedup_index import LshDedupIndex

    e0, e1, e2 = _doc_stream(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="kahi_dedup_idx_")
    try:
        idx = LshDedupIndex(spark, tmp)
        # sign each epoch once: add() writes sigs and bands from its
        # frame, and find_neardups reads its probe frame several times
        s0, s1, s2 = (
            idx._signatures(b, "key", "text").localCheckpoint(eager=True) for b in (e0, e1, e2)
        )
        for eid, sigs in ((0, s0), (1, s1), (1, s1)):  # epoch 1 replayed
            idx.add(sigs, epoch_id=eid)
        # materialize before the tmp dir is removed; gate-scale rows
        return (
            idx.find_neardups(s2)
            .select("key", "match_key", "est_jaccard")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _oracle_incremental_dedup() -> str:
    from kahi_spark.operators.dedup import (
        H60_DUCKDB_SQL,
        MINHASH_P,
        SHINGLES_SQL,
        minhash_coeffs,
    )

    coeffs = minhash_coeffs(N_HASHES, SEED)
    # word-3gram distinct shingles (shared template beside shingle_df)
    shingles = SHINGLES_SQL.format(x="text")
    # the 60-bit md5 shingle hashes, mod p
    hs = f"list_transform({shingles}, t -> {H60_DUCKDB_SQL.format(x='t')} % {MINHASH_P})"
    slots = ",\n           ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P})) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    sig_list = "[" + ", ".join(f"m{i}" for i in range(N_HASHES)) + "]"
    return f"""
WITH base AS (
    SELECT lpad(CAST(doc_id AS VARCHAR), 6, '0') AS key, text,
           CAST(doc_id % 3 AS INT) AS ep
    FROM documents
),
stream AS (
    SELECT key, text, ep FROM base
    UNION ALL
    SELECT lpad(CAST(doc_id + 100000 AS VARCHAR), 6, '0') AS key,
           substr(text, strpos(text, ' ') + 1) AS text,
           2 AS ep
    FROM documents WHERE doc_id % 3 = 0
),
hashed AS (SELECT key, ep, {hs} AS hs FROM stream),
sigs AS (
    SELECT key, ep, {slots}
    FROM hashed
),
s AS (SELECT key, ep, {sig_list} AS sig FROM sigs),
-- candidate = (new epoch-2 doc) x (indexed epoch-0/1 doc OR lower-keyed
-- epoch-2 doc); the band join is implied by the est filter (pigeonhole:
-- threshold {THRESHOLD} > 1 - {N_BANDS}/{N_HASHES})
pairs AS (
    SELECT n.key AS key, o.key AS match_key,
           round(len(list_filter(range(1, {N_HASHES} + 1),
                                 i -> n.sig[i] = o.sig[i]))::DOUBLE / {N_HASHES},
                 6) AS est_jaccard
    FROM s n JOIN s o
      ON n.ep = 2 AND (o.ep < 2 OR (o.ep = 2 AND o.key < n.key))
     AND n.key <> o.key
),
hits AS (SELECT * FROM pairs WHERE est_jaccard >= {THRESHOLD})
SELECT key, match_key, est_jaccard FROM (
    SELECT *, row_number() OVER (
        PARTITION BY key ORDER BY est_jaccard DESC, match_key ASC) AS rn
    FROM hits
) WHERE rn = 1
"""


def _epoch_events(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    ev = normalize_events(derive_transcript_events(spark, sf_dir))
    return [ev.filter(F.pmod(F.col("seq"), F.lit(3)) == e) for e in range(3)]


def q_keyless_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 against the PERSISTENT feature index: state features come
    from ``KeylessFeatureIndex.features()`` (built incrementally over
    epochs 0-1, epoch 1 replayed idempotently, then compacted into a
    base) instead of re-featurizing the table per batch — the only
    shape that works at 10^10 state rows.  Epoch-2 events with
    seq % 17 == 0 arrive keyless and are resolved (or minted a
    surrogate)."""
    from kahi_spark.operators.keyless import resolve_keyless_events
    from kahi_spark.sinks.keyless_index import KeylessFeatureIndex

    e = _epoch_events(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="kahi_keyless_idx_")
    idx = KeylessFeatureIndex(spark, tmp)
    for eid in (0, 1, 1):  # epoch 1 replayed under its committed id
        idx.update(e[eid], epoch_id=eid)
    idx.compact()
    probes = (
        e[2]
        .filter(F.pmod(F.col("seq"), F.lit(17)) == 0)
        .withColumn("conv_id", F.lit(None).cast("string"))
    )
    resolved = resolve_keyless_events(probes, state=None, state_features=idx.features())
    out = resolved.select("seq", "conv_id").localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def _oracle_keyless_incremental() -> str:
    from kahi_spark.queries_ext import _oracle_keyless

    return _oracle_keyless(
        null_pred="seq % 3 = 2 AND seq % 17 = 0",
        state_pred="seq % 3 < 2",
    )


QUERIES_INDEX: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "incremental_dedup": q_incremental_dedup,
    "keyless_incremental": q_keyless_incremental,
}

ORACLES_INDEX: dict[str, str] = {
    "incremental_dedup": _oracle_incremental_dedup(),
    "keyless_incremental": _oracle_keyless_incremental(),
}
