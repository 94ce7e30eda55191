"""Approximate operators: LSH kNN recall vs brute force, SimHash
near-dup detection, MinHash signature properties."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_knn_lsh_recall_vs_bruteforce(spark):
    from kahi_spark.operators.similarity import knn_bruteforce, knn_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in knn_bruteforce(probes, emb, k=5).collect()
    }
    # these embeddings are near-random (top cosine ~0.4 ≈ 66°), the
    # hardest regime for hyperplane LSH: collision prob per table is
    # (1-θ/π)^planes, so recall needs few planes + many tables.
    # Real embedding corpora are clustered (θ small for true
    # neighbors) and support more planes / stronger pruning.
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in knn_lsh(probes, emb, k=5, n_planes=4, n_tables=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall:.2f} too low"
    # determinism: same params → same result
    again = {
        (r.probe_id, r.neighbor_id)
        for r in knn_lsh(probes, emb, k=5, n_planes=4, n_tables=16).collect()
    }
    assert approx == again


def test_simhash_wide_finds_planted_neardups(spark):
    """The 60-bit/15-bit-band portable SimHash (the scale-shaped
    gated representative) keeps recall on the planted near-dups at a
    radius where banding is pigeonhole-guaranteed."""
    from kahi_spark.operators.dedup import (
        jaccard_pairs,
        shingle_df,
        simhash_wide_neardup_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    truth = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(shingle_df(docs), threshold=0.9).collect()
    }
    assert truth, "fixture should contain planted near-dups"
    found = {
        (r.doc_a, r.doc_b)
        # hamming ≤ 14 over 60 bits ≈ the hamming-12-of-64 radius the
        # 64-bit test uses; 15 bands ⇒ pigeonhole recall 1 at ≤ 14
        for r in simhash_wide_neardup_pairs(docs, max_hamming=14, n_bands=15).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.8, f"simhash60 recall {recall:.2f}"


def test_minhash_signature_similarity_tracks_jaccard(spark):
    """Signature agreement rate ≈ true Jaccard (MinHash property)."""
    from kahi_spark.operators.dedup import minhash_bands

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),
            (2, "a b c d e f g h i j k z"),  # ~0.83 trigram overlap
            (3, "z y x w v u t s r q p o"),  # disjoint
        ],
        ["doc_id", "text"],
    )
    sig = minhash_bands(docs, n_hashes=128).collect()
    rows = {r.doc_id: r.sig for r in sig}

    def agree(a, b):
        return sum(x == y for x, y in zip(rows[a], rows[b])) / 128

    assert agree(1, 2) > 0.5
    assert agree(1, 3) < 0.15


def test_ivf_knn_full_probe_equals_bruteforce(spark):
    """nprobe = n_cells searches every cell — cells PARTITION the
    corpus, so the result is exactly brute force regardless of how
    good the centroids are."""
    from kahi_spark.operators.similarity import ivf_knn, knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 5")
    exact = sorted(map(tuple, knn_bruteforce(probes, emb, k=5).collect()))
    ivf = sorted(map(tuple, ivf_knn(probes, emb, k=5, n_cells=8, nprobe=8, iters=2).collect()))
    assert ivf == exact


def test_ivf_knn_recall_at_small_nprobe(spark):
    """On cluster-structured data (the embeddings table has 10
    labeled clusters), probing a fraction of the cells keeps useful
    recall while touching ~nprobe/n_cells of the corpus."""
    from kahi_spark.operators.similarity import ivf_centroids, ivf_knn, knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 10")
    cents = ivf_centroids(emb, n_cells=10, iters=4)
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in knn_bruteforce(probes, emb, k=5).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in ivf_knn(probes, emb, k=5, n_cells=10, nprobe=3, centroids=cents).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.4, recall  # clustered data; generous floor for
    # float-nondeterministic centroid boundaries


def _quantize_ref(x: float) -> int:
    """round(x·1000) half AWAY FROM ZERO on the exact double, as Spark
    and DuckDB round (Python's round() is half-to-even)."""
    a = abs(x * 1000)
    return int(math.copysign(math.floor(a) + (a - math.floor(a) >= 0.5), x))


def _lsh_buckets_ref(q: list[int], planes) -> list[int]:
    """Per-table bucket of a quantized vector: bit ``pl`` is set when
    the integer dot with plane ``pl`` is positive."""
    return [
        sum(1 << pl for pl, plane in enumerate(tbl) if sum(a * b for a, b in zip(q, plane)) > 0)
        for tbl in planes
    ]


def test_lsh_bucketing_matches_reference(spark):
    """``bucketed_lsh``'s Arrow/numpy matmul must produce the buckets a
    pure-Python integer reference computes (the DuckDB oracle's integer
    arithmetic) — including the round-half-away-from-zero edge (numpy's
    default is half-to-even; 0.0625·1000 = 62.5 exactly)."""
    import random

    from kahi_spark.operators.similarity import bucketed_lsh, lsh_planes

    planes = lsh_planes(dim=64, n_planes=8, n_tables=4, seed=42)
    rows = [(i, [((i * 7 + j) % 13 - 6) / 16.0 for j in range(64)]) for i in range(50)]
    rows.append((100, [0.0625] * 64))   # exact .5 after ×1000
    rows.append((101, [-0.0625] * 64))
    # the largest doubles below ±.0005: ×1000 they are ±0.4999999999999999,
    # which Spark and DuckDB round to 0
    rows.append((102, [0.49999999999999994 / 1000.0] * 64))
    rows.append((103, [-0.49999999999999994 / 1000.0] * 64))
    # rows whose buckets hang on the tie rule: a constant vector's
    # signs cannot tell 63 from 62, so mix ±62.5 with other values and
    # keep the rows where half-to-even (Python's round) flips a bucket
    rnd = random.Random(7)
    while len(rows) < 58:
        vec = [rnd.choice((0.0625, -0.0625, 0.001, -0.003)) for _ in range(64)]
        even = [round(x * 1000) for x in vec]
        if _lsh_buckets_ref(even, planes) != _lsh_buckets_ref([_quantize_ref(x) for x in vec], planes):
            rows.append((200 + len(rows), vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {
        (vid, t): b
        for vid, vec in rows
        for t, b in enumerate(_lsh_buckets_ref([_quantize_ref(x) for x in vec], planes))
    }
    got = {
        (r.x_id, r.table_idx): r.bucket
        for r in bucketed_lsh(emb, planes, prefix="x").collect()
    }
    assert got == want and len(got) == 58 * 4


def test_ivf_vectorized_cell_assignment_bounds_plan(spark):
    """Cell assignment runs as the Arrow matmul: the plan stays O(1)
    in k instead of inlining n_cells×dim literals (16k doubles at
    256×64 blows codegen), and nprobe=n_cells stays exactly brute
    force."""
    from kahi_spark.operators.similarity import (
        _assign_cells,
        _with_norm,
        ivf_knn,
        knn_bruteforce,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [[((i * 13 + j) % 29 - 14) / 10.0 for j in range(64)] for i in range(256)]
    base = _with_norm(emb.limit(50), "vec_id", "embedding", "x")
    assigned = _assign_cells(base, "x_v", cents)
    plan = assigned._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 20_000, f"plan inlines centroid literals ({len(plan)} chars)"
    cells = [r.cell for r in assigned.collect()]
    assert all(1 <= c <= 256 for c in cells) and len(set(cells)) > 1
    # large-k end-to-end: full-probe IVF (matmul assignment and
    # routing) still equals brute force
    probes = emb.filter("vec_id < 3")
    exact = sorted(map(tuple, knn_bruteforce(probes, emb, k=3).collect()))
    ivf = sorted(
        map(
            tuple,
            ivf_knn(probes, emb, k=3, n_cells=256, nprobe=256, centroids=cents).collect(),
        )
    )
    assert ivf == exact


def test_argmax_cell_uses_centroid_norm(spark):
    """A large-norm centroid must not attract a vector that is more
    COSINE-similar to a small-norm one (spherical semantics)."""
    from kahi_spark.operators.similarity import _assign_cells, _with_norm

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    # centroid 1 points at the vector (cos 1.0, tiny norm); centroid 2
    # is 45° off but 100× the magnitude (bigger raw dot)
    cents = [[0.01, 0.0], [70.0, 70.0]]
    base = _with_norm(emb, "vec_id", "embedding", "x")
    got = _assign_cells(base, "x_v", cents).collect()[0].cell
    assert got == 1, f"unnormalized dot won ({got})"


def test_zero_norm_vectors_never_rank(spark):
    """Round-5 fix: an all-zero embedding must not rank (0/0 was NaN,
    which Spark sorts ABOVE every real score) — NULL-norm rows are
    excluded on both the corpus and probe side."""
    from kahi_spark.operators.similarity import knn_bruteforce

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    probes = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = knn_bruteforce(probes, corpus, k=3).collect()
    assert all(r.neighbor_id != 2 for r in rows)  # zero corpus vec never ranks
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert 20 not in by_probe  # zero probe has no defined similarity
    ranked = sorted(by_probe[10], key=lambda r: r.rank)
    assert [r.neighbor_id for r in ranked] == [1, 3]
    assert all(r.score is not None for r in rows)


def test_ivf_handles_zero_norm_vectors(spark):
    """A zero embedding must not crash the Lloyd update (its cell is
    NULL — the centroid loop once dereferenced None) nor drag
    centroids, and full-probe IVF must still equal brute force on the
    remaining vectors."""
    import numpy as np

    from kahi_spark.operators.similarity import (
        _cells_pandas_udf,
        ivf_centroids,
        ivf_knn,
        knn_bruteforce,
    )

    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=16).astype("float64").tolist(), 0) for i in range(60)]
    rows.append((60, [0.0] * 16, 0))  # the zero vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cluster int")

    cents = ivf_centroids(emb, n_cells=4, iters=2)  # no crash
    assert len(cents) == 4 and all(any(x != 0 for x in c) for c in cents)
    # with vs without the zero vector: identical centroids (it must
    # not participate in any cell mean)
    cents2 = ivf_centroids(emb.filter("vec_id < 60"), n_cells=4, iters=2)
    assert cents == cents2

    probes = emb.filter("vec_id IN (0, 1, 60)")
    exact = sorted(map(tuple, knn_bruteforce(probes, emb, k=3).collect()))
    ivf = sorted(
        map(tuple, ivf_knn(probes, emb, k=3, n_cells=4, nprobe=4, iters=2).collect())
    )
    assert ivf == exact
    assert not any(r[1] == 60 for r in ivf)  # zero vector never ranks

    # the cell ranking gives the zero vector no cell
    udf = _cells_pandas_udf(cents, nprobe=1)
    got = {
        r.vec_id: r.c
        for r in emb.select("vec_id", udf("embedding").alias("c")).collect()
    }
    assert got[60] == []
    assert all(len(got[i]) == 1 for i in range(60))

    # ...and through _assign_cells: plain element_at on the empty
    # sentinel throws under ANSI; the cell must come back NULL instead
    from kahi_spark.operators.similarity import _assign_cells, _with_norm

    base = _with_norm(emb, "vec_id", "embedding", "x")
    cells = {r.x_id: r.cell for r in _assign_cells(base, "x_v", cents).collect()}
    assert cells[60] is None
    assert all(cells[i] is not None for i in range(60))


def test_ivf_portable_full_probe_equals_bruteforce(spark):
    """The portable variant at nprobe = n_cells is exactly brute
    force (cells partition the corpus) — same invariant as the Lloyd
    variant, independent of the hash-seeded centroid quality."""
    from kahi_spark.operators.similarity import ivf_knn_portable, knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 5")
    exact = sorted(map(tuple, knn_bruteforce(probes, emb, k=5).collect()))
    ivf = sorted(
        map(tuple, ivf_knn_portable(probes, emb, k=5, n_cells=8, nprobe=8).collect())
    )
    assert ivf == exact


def _portable_cell_ranking(emb, n_cells: int) -> dict:
    """Local re-computation of ``ivf_knn_portable``'s cell ranking:
    quantize each vector, integer dots with the portable centroids,
    divide by the centroid norm, order by (d desc, cell asc). Returns
    {vec_id: [1-based cells, best first]}."""
    from kahi_spark.operators.similarity import ivf_portable_centroids

    cents = ivf_portable_centroids(emb, n_cells)
    cnorm = [math.sqrt(sum(x * x for x in c)) for c in cents]
    ranking = {}
    for r in emb.select("vec_id", "embedding").collect():
        q = [_quantize_ref(x) for x in r.embedding]
        d = [sum(a * b for a, b in zip(q, c)) / n for c, n in zip(cents, cnorm)]
        ranking[r.vec_id] = [i + 1 for i in sorted(range(n_cells), key=lambda i: (-d[i], i))]
    return ranking


def test_ivf_portable_matches_reference(spark):
    """``ivf_knn_portable`` row for row against the local cell ranking:
    each probe's top-k over exactly the corpus rows whose assigned cell
    is among its ``nprobe`` best cells (brute-force scores, restricted
    to those candidates), at a pruned and at the full nprobe."""
    from kahi_spark.operators.similarity import ivf_knn_portable, knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 10")
    ranking = _portable_cell_ranking(emb, 8)
    every = knn_bruteforce(probes, emb, k=emb.count()).collect()
    every.sort(key=lambda r: (r.probe_id, r.rank))
    for nprobe in (2, 8):
        want = []
        for pid in range(10):
            probed = set(ranking[pid][:nprobe])
            kept = [r for r in every if r.probe_id == pid and ranking[r.neighbor_id][0] in probed]
            want += [(pid, r.neighbor_id, i + 1, r.score) for i, r in enumerate(kept[:5])]
        got = sorted(
            map(tuple, ivf_knn_portable(probes, emb, k=5, n_cells=8, nprobe=nprobe).collect())
        )
        assert got == sorted(want), nprobe
        assert len(got) == 50, nprobe


def test_ivf_portable_pruning_is_real(spark):
    """At nprobe=2 of 8 cells the candidate restriction must actually
    bite: every returned neighbor's assigned cell lies in its probe's
    probed-cell set, and recall vs brute force stays useful on the
    cluster-structured embeddings."""
    from kahi_spark.operators.similarity import ivf_knn_portable, knn_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter("vec_id < 10")
    got = ivf_knn_portable(probes, emb, k=5, n_cells=8, nprobe=2).collect()
    assert got, "portable IVF returned nothing"

    # independent re-computation of assignments/routing
    ranking = _portable_cell_ranking(emb, 8)
    for r in got:
        assert ranking[r.neighbor_id][0] in ranking[r.probe_id][:2], r

    exact = {
        (r.probe_id, r.neighbor_id)
        for r in knn_bruteforce(probes, emb, k=5).collect()
    }
    approx = {(r.probe_id, r.neighbor_id) for r in got}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.3, recall
