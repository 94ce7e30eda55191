"""Scale probe for the training-data dedup/similarity SCALE PATHS:
runs them on synthetic corpora 20× the sf0.1 bench tables (100k docs
/ 100k vectors, generated distributed — nothing ever collects to the
driver) and prints one JSON line of walls + result counts. Evidence
for the would-it-survive-100× question; results recorded in
BASELINE.md.

Usage: python scripts/scale_probe.py [n_docs] [n_vecs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
N_VECS = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
VOCAB = [f"w{i}" for i in range(5000)]


def gen_docs(spark, n: int):
    """n documents of 20-200 words (realistic length spread — the
    keyless resolver's length-bucket blocking needs variance) from a
    5k vocab; every 100th doc is a planted near-dup of its
    predecessor (one word changed)."""
    base = spark.range(n).withColumnRenamed("id", "doc_id")
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    # the text of doc k is a pure function of k so planted dups can
    # reference their neighbor's text without a join
    def text_of(k):
        n_words = F.pmod(F.xxhash64(k * 31), F.lit(181)) + 19
        words = F.transform(
            F.sequence(F.lit(0), n_words.cast("int")),
            lambda j: F.element_at(
                vocab, (F.pmod(F.xxhash64(k * 1000 + j), F.lit(len(VOCAB))) + 1).cast("int")
            ),
        )
        return F.concat_ws(" ", words)

    is_dup = (F.col("doc_id") % 100 == 1) & (F.col("doc_id") > 0)
    text = F.when(
        is_dup, F.concat(text_of(F.col("doc_id") - 1), F.lit(" changed"))
    ).otherwise(text_of(F.col("doc_id")))
    return base.select("doc_id", text.alias("text"))


def gen_vecs(spark, n: int, dim: int = 64, n_clusters: int = 50):
    """n vectors in LOOSE clusters (same-cluster cosine ≈ 0.5-0.6 —
    below any near-dup threshold, so only the planted pairs are true
    positives; a ±0.1-noise version made every within-cluster pair a
    genuine ≥0.95 near-dup and the probe output itself was ~10^8
    rows); every 100th vector is a planted near-dup of its
    predecessor (tiny deterministic nudge)."""
    base = spark.range(n).withColumnRenamed("id", "vec_id")
    center = F.pmod(F.col("vec_id"), F.lit(n_clusters))

    def vec_of(k, cent):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                F.pmod(F.xxhash64(cent * 1000 + j), F.lit(2001)).cast("double") / 1000.0
                - 1.0
                + (
                    F.pmod(F.xxhash64(k * 7919 + j), F.lit(1601)).cast("double") / 1000.0
                    - 0.8
                )
            ),
        )

    is_dup = (F.col("vec_id") % 100 == 1) & (F.col("vec_id") > 0)
    prev_center = F.pmod(F.col("vec_id") - 1, F.lit(n_clusters))
    v = F.when(
        is_dup,
        F.transform(
            vec_of(F.col("vec_id") - 1, prev_center), lambda x: x + F.lit(0.003)
        ),
    ).otherwise(vec_of(F.col("vec_id"), center))
    return base.select("vec_id", v.alias("embedding"))


def main():
    from kahi_spark.operators.dedup import (
        minhash_lsh_pairs,
        shingle_df,
        verify_jaccard,
    )
    from kahi_spark.operators.similarity import knn_lsh, lsh_cosine_pairs
    from kahi_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="scale_probe", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    # size-keyed cache root: a rerun with different sizes must NOT
    # silently reuse (and mis-report) the previous corpus/indexes
    tmp = f"/tmp/kahi_scale_probe_{N_DOCS}_{N_VECS}"
    out = {"n_docs": N_DOCS, "n_vecs": N_VECS}

    docs_path, vecs_path = f"{tmp}/docs", f"{tmp}/vecs"
    if not os.path.exists(docs_path):
        gen_docs(spark, N_DOCS).write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(vecs_path):
        gen_vecs(spark, N_VECS).write.mode("overwrite").parquet(vecs_path)
    docs = spark.read.parquet(docs_path)
    vecs = spark.read.parquet(vecs_path)

    def phase(name, fn):
        t0 = time.time()
        res = fn()
        out[name] = {"wall_s": round(time.time() - t0, 1), **res}
        print(f"# {name}: {out[name]}", file=sys.stderr, flush=True)

    phase(
        "minhash_lsh_verify",
        lambda: {
            "pairs": verify_jaccard(
                minhash_lsh_pairs(docs, id_col="doc_id", n_hashes=64, n_bands=16),
                shingle_df(docs),
                threshold=0.8,
            ).count()
        },
    )
    # clustered corpora need MORE planes: at 8 planes whole clusters
    # share buckets and the candidate join goes quadratic inside them
    # (observed: 100k clustered vectors at 8 planes blew past 10 min;
    # 14 planes cut candidates ~50×). Parameter choice IS the scale
    # lever for dense data.
    phase(
        "lsh_cosine_neardup_14planes",
        lambda: {"pairs": lsh_cosine_pairs(vecs, threshold=0.95, n_planes=14).count()},
    )
    phase(
        "knn_lsh_100probes_14planes",
        lambda: {
            "rows": knn_lsh(
                vecs.filter(F.col("vec_id") < 100), vecs, k=10, n_planes=14
            ).count()
        },
    )

    def keyless_phase():
        from kahi_spark.operators.keyless import resolve_keyless_events

        state = docs.select(
            F.concat(F.lit("s"), F.col("doc_id").cast("string")).alias("conv_id"),
            F.pmod(F.col("doc_id"), F.lit(25)).cast("int").alias("turn_idx"),
            F.when(F.col("doc_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
            "text",
        )
        probes = docs.filter(F.col("doc_id") % 20 == 3).select(
            (F.col("doc_id") + 1_000_000_000).alias("seq"),
            F.lit("update").alias("op"),
            F.lit(None).cast("string").alias("conv_id"),
            F.pmod(F.col("doc_id"), F.lit(25)).cast("int").alias("turn_idx"),
            F.when(F.col("doc_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
            "text",
            F.col("doc_id").alias("_truth"),
        )
        resolved = resolve_keyless_events(probes.drop("_truth"), state)
        correct = (
            resolved.join(
                probes.select("seq", "_truth"), on="seq"
            )
            .filter(
                F.col("conv_id") == F.concat(F.lit("s"), F.col("_truth").cast("string"))
            )
            .count()
        )
        total = probes.count()
        return {"probes": total, "correct": correct}

    phase("keyless_resolve_vs_100k_state", keyless_phase)

    # one-time index build OUTSIDE the timed phase: the steady-state
    # question is the per-batch resolve cost once state featurization
    # is incremental (the build is the amortized merge-time cost)
    from kahi_spark.sinks.keyless_index import KeylessFeatureIndex

    _kidx = KeylessFeatureIndex(spark, f"{tmp}/keyless_index")
    if not _kidx.exists():
        t0 = time.time()
        _kidx.update(
            docs.select(
                F.col("doc_id").alias("seq"),
                F.lit("insert").alias("op"),
                F.concat(F.lit("s"), F.col("doc_id").cast("string")).alias("conv_id"),
                F.pmod(F.col("doc_id"), F.lit(25)).cast("int").alias("turn_idx"),
                F.when(F.col("doc_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
                "text",
                F.lit(None).cast("timestamp").alias("ts"),
            ),
            epoch_id=0,
        )
        out["keyless_index_build_s"] = round(time.time() - t0, 1)

    def keyless_indexed_phase():
        """Same resolve, state features from the persistent index —
        the per-batch cost at the 10^10-row steady state."""
        from kahi_spark.operators.keyless import resolve_keyless_events

        idx = _kidx
        probes = docs.filter(F.col("doc_id") % 20 == 3).select(
            (F.col("doc_id") + 1_000_000_000).alias("seq"),
            F.lit("update").alias("op"),
            F.lit(None).cast("string").alias("conv_id"),
            F.pmod(F.col("doc_id"), F.lit(25)).cast("int").alias("turn_idx"),
            F.when(F.col("doc_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
            "text",
            F.col("doc_id").alias("_truth"),
        )
        resolved = resolve_keyless_events(
            probes.drop("_truth"),
            state=probes.limit(0).drop("_truth"),
            state_features=idx.features(),
        )
        correct = (
            resolved.join(probes.select("seq", "_truth"), on="seq")
            .filter(
                F.col("conv_id") == F.concat(F.lit("s"), F.col("_truth").cast("string"))
            )
            .count()
        )
        return {"probes": probes.count(), "correct": correct}

    phase("keyless_resolve_indexed_state", keyless_indexed_phase)

    # -- incremental dedup index: per-batch cost at steady state -----------
    # one-time 100k-doc index build outside the timed phase (the
    # amortized ingest-time cost); timed = checking a NEW 5k batch
    # (half fresh, half perturbed copies of indexed docs) against
    # everything already ingested — the corpus is never re-shingled
    from kahi_spark.sinks.dedup_index import LshDedupIndex

    _didx = LshDedupIndex(spark, f"{tmp}/dedup_index", threshold=0.8)
    if not os.path.isdir(f"{tmp}/dedup_index/sigs"):
        t0 = time.time()
        corpus = docs.select(F.col("doc_id").cast("string").alias("k"), "text")
        _didx.add(_didx._signatures(corpus, "k", "text"), epoch_id=0)
        out["dedup_index_build_s"] = round(time.time() - t0, 1)

    def incremental_dedup_phase():
        # genuinely novel: reversed word order shares ~zero word-3gram
        # shingles with the original (a prefixed copy would still be
        # ~95% shingle-identical and correctly flag as a near-dup)
        fresh = docs.filter(F.col("doc_id") % 40 == 7).select(
            (F.col("doc_id") + 2_000_000).cast("string").alias("k"),
            F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
        )
        copies = docs.filter(F.col("doc_id") % 40 == 21).select(
            (F.col("doc_id") + 3_000_000).cast("string").alias("k"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
        batch = fresh.unionByName(copies)
        dups = _didx.find_neardups(_didx._signatures(batch, "k", "text"))
        return {"batch": batch.count(), "dups": dups.count()}

    phase("incremental_dedup_5k_batch_vs_100k_index", incremental_dedup_phase)

    # -- bucketed vs global MOR compaction at a big-base/small-delta shape --
    # 2M-row base, one 20k-row delta: the steady-state fold this sink
    # targets (at 10^10 rows the global fold's whole-table shuffle is
    # the bottleneck; the bucketed fold shuffles only the delta).
    def compaction_phase():
        import shutil as _sh

        from kahi_spark.sinks.snapshot import SnapshotTable

        res = {}
        base = spark.range(0, 2_000_000).select(
            F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
            F.pmod("id", F.lit(10)).cast("int").alias("turn_idx"),
            F.concat(F.lit("text body "), F.col("id").cast("string")).alias("text"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") % 86400).alias("ts"),
        )
        delta = spark.range(0, 20_000).select(
            (F.col("id") + 5_000_000).alias("seq"),
            F.lit("update").alias("op"),
            F.concat(F.lit("c"), (F.col("id") * 97).cast("string")).alias("conv_id"),
            F.pmod(F.col("id") * 97, F.lit(10)).cast("int").alias("turn_idx"),
            F.lit("updated text").alias("text"),
            F.timestamp_seconds(F.lit(1_800_000_000)).alias("ts"),
        )
        for strat in ("global", "bucketed"):
            path = f"{tmp}/compact_{strat}"
            _sh.rmtree(path, ignore_errors=True)
            t = SnapshotTable(spark, path, n_buckets=int(cpus), mode="mor", compact_every=100)
            t.init(base)
            t.merge(delta, epoch_id=0)
            t0 = time.time()
            t.compact(strategy=strat)
            res[f"{strat}_fold_s"] = round(time.time() - t0, 1)
            res[f"{strat}_rows"] = t.read().count()
        return res

    phase("mor_compaction_2M_base_20k_delta", compaction_phase)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
