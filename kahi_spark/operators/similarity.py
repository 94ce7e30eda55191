"""Similarity search over embedding columns (array<float>).

* ``knn_bruteforce`` — exact cosine top-k: probes broadcast against
  the corpus, dot products via ``zip_with``/``aggregate`` (JVM
  higher-order functions — whole-stage codegen, no UDF, no Python).
  The baseline and the verifier for approximate variants.
* ``knn_lsh`` — random-hyperplane LSH bucketing: corpus hashed once,
  probes join only their bucket (multi-probe over ``n_tables``
  tables). The scale path: at 10^9 vectors the bucket join touches
  a tiny corpus slice per probe instead of all of it.
* ``lsh_cosine_pairs`` — near-dup pairs via the same LSH buckets:
  candidates = pairs sharing any (table, bucket), then exact cosine
  ≥ threshold on candidates only (never the N² cross product).
* ``cosine_pairs`` — all-pairs cosine ≥ threshold over a bounded set
  (the small-scale exact verifier for ``lsh_cosine_pairs``).

Hyperplanes are INTEGER-QUANTIZED (``lsh_planes``): plane components
are ``round(gauss(0,1)·1000)`` ints and vectors quantize to
``round(x·1000)`` longs, so the bucket of a vector is an integer dot
product — bit-exact in any engine, which lets the DuckDB oracle
mirror the bucketing literally (no float-summation-order risk).
Quantization at 1e-3 granularity perturbs the hyperplane directions
by ~1e-3 radians — immaterial to LSH quality.

LSH buckets and IVF cells each have ONE kernel: an Arrow-batched
numpy matmul (``_buckets_pandas_udf``, ``_cells_pandas_udf``,
``_int_cells_pandas_udf``). The integer ones are bit-exact with the
DuckDB oracles that mirror them (LSH buckets, portable IVF cells).
The JVM spelling that inlined every plane or centroid as plan
literals computed the same results (identical checksums) and lost
the A/B on every query (sf0.1, local[4] on 4 vCPUs, medians of 5
interleaved rounds): ``knn_lsh`` 15.2 → 1.1 s,
``embedding_neardup_lsh`` 7.3 → 1.0 s, ``knn_ivf_pruned`` 3.7 →
1.2 s, ``knn_ivf`` 5.0 → 2.2 s. Most of the literal side's time was
Catalyst planning the literal trees; the udfs keep the plan O(1) in
planes and cells.

Scores are computed in double and rounded to 6 places so results are
engine-portable; ties break by neighbor id (deterministic).
"""

from __future__ import annotations

import random

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


import functools as _functools


@_functools.lru_cache(maxsize=16)
def _norm_cols(id_col: str, vec_col: str, prefix: str) -> tuple:
    """The fixed (id, v, nrm) projection Columns of ``_with_norm`` —
    input-independent trees over constant column names, built once per
    (id_col, vec_col, prefix) per process (round 7: the zip_with/
    aggregate lambda construction costs ~0.1 s of py4j per call, and
    the similarity queries build it 2-4×)."""
    v = _as_double(F.col(vec_col))
    # zero-norm guard (round-5 review): an all-zero embedding made
    # score = 0.0/0.0 = NaN, which Spark RANKS ABOVE every real score
    # and which passes `>= threshold` — the zero vector became the
    # rank-1 neighbor of every probe. nullif makes the norm NULL →
    # score NULL → excluded by threshold filters and ranked last by
    # desc (nulls-last), matching DuckDB where 0/0 is NULL.
    return (
        F.col(id_col).alias(f"{prefix}_id"),
        v.alias(f"{prefix}_v"),
        F.nullif(F.sqrt(_dot(v, v)), F.lit(0.0)).alias(f"{prefix}_nrm"),
    )


def _with_norm(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    return df.select(*_norm_cols(id_col, vec_col, prefix))


def _cosine(a: str, b: str) -> Column:
    """Rounded cosine of two ``_with_norm`` projections by prefix."""
    return F.round(
        _dot(F.col(f"{a}_v"), F.col(f"{b}_v")) / (F.col(f"{a}_nrm") * F.col(f"{b}_nrm")), 6
    )


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The one kNN tail: score each (probe, neighbor) candidate pair,
    rank per probe by (score desc, neighbor_id asc), keep ``k``.

    Zero-norm vectors (NULL score) never rank. They are dropped AFTER
    the window: NULLs sort last, so the non-NULL ranks are the same,
    and a filter on ``score`` below the window would be pushed through
    the projection with the cosine inlined — evaluated twice per
    candidate pair."""
    scored = pairs.select("probe_id", "neighbor_id", _cosine("probe", "neighbor").alias("score"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("score").isNotNull())
        .select("probe_id", "neighbor_id", "rank", "score")
    )


def knn_bruteforce(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each probe against the corpus
    (excluding self). Probes are broadcast — the corpus never
    shuffles; ranking is a per-probe window."""
    p = _with_norm(probes, id_col, vec_col, "probe")
    c = _with_norm(corpus, id_col, vec_col, "neighbor")
    return _top_k(c.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id")), k)


#: quantization scale for planes and vectors (see module docstring)
LSH_SCALE = 1000


def lsh_planes(
    dim: int = 64, n_planes: int = 8, n_tables: int = 4, seed: int = 42
) -> list[list[list[int]]]:
    """Deterministic integer-quantized random hyperplanes
    (``tables[t][pl][d]``), shared by the Spark bucket expressions AND
    the DuckDB oracle generator so bucket assignment is bit-exact
    across engines."""
    rnd = random.Random(seed)
    return [
        [
            [int(round(rnd.gauss(0, 1) * LSH_SCALE)) for _ in range(dim)]
            for _ in range(n_planes)
        ]
        for _ in range(n_tables)
    ]


def quantize_expr(vec_double: Column) -> Column:
    """double vector → long vector at 1e-3 granularity (both engines
    round half away from zero for doubles)."""
    return F.transform(vec_double, lambda x: F.round(x * LSH_SCALE).cast("long"))


def _quantize_np(vecs: pd.Series):
    """``quantize_expr`` in numpy, for a batch of vectors: an
    (n, dim) int64 matrix. Rounds half AWAY FROM ZERO like Spark and
    DuckDB (numpy's np.round is half-to-even, which would flip buckets
    on exact .5 values like 0.0625·1000), as floor(|v|) + (frac ≥ .5).
    NOT floor(|v| + 0.5): one ULP below .5 (0.49999999999999994) the
    addition rounds UP to exactly 1.0 while Spark/DuckDB round to 0."""
    import numpy as np

    v = np.asarray(vecs.tolist(), dtype=np.float64) * LSH_SCALE
    absv = np.abs(v)
    fl = np.floor(absv)
    return (np.sign(v) * (fl + (absv - fl >= 0.5))).astype(np.int64)


def _buckets_pandas_udf(planes: list[list[list[int]]]):
    """Arrow-batched bucket computation: one numpy int64 matmul per
    batch gives all n_tables×n_planes sign bits of a row, bit-exact
    with the DuckDB oracle's integer arithmetic."""
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    mat = np.array(
        [plane for tbl in planes for plane in tbl], dtype=np.int64
    ).T  # (dim, n_tables*n_planes)
    n_tables, n_planes = len(planes), len(planes[0])
    weights = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        q = _quantize_np(vecs)
        bits = (q @ mat) > 0  # (n, n_tables*n_planes)
        b = bits.reshape(len(q), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(list(b))

    # the function IS deterministic; the marker only stops the
    # optimizer from pushing the posexplode's inferred
    # size(_bk)>0 filter BELOW the projection and thereby evaluating
    # the whole Python stage twice per row (two ArrowEvalPython nodes
    # in the round-7 before-plans — guide §4.4's duplication, same fix)
    return buckets.asNondeterministic()


def bucketed_lsh(
    df: DataFrame,
    planes: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "probe",
    checkpoint: bool = False,
) -> DataFrame:
    """(id, v, nrm) + one row per LSH table with the integer bucket
    (sign bits of the quantized dot products). Buckets come from one
    Arrow/numpy matmul per batch (``_buckets_pandas_udf``), bit-exact
    with the DuckDB oracle. It is the only kernel: the JVM fold over
    n_tables×n_planes inlined plane literals computed the same buckets
    but lost the A/B (``knn_lsh`` 15.2 → 1.1 s at sf0.1, most of it
    Catalyst planning the literal tree; see the module docstring).

    ``checkpoint`` materializes the PRE-explode frame (one row per
    vector: id, v, nrm, bucket array) — for self-join consumers
    (``lsh_cosine_pairs``), whose round-7 before-plan computed the
    whole norm+Python-bucketing subtree once per join side; the
    checkpoint costs one pass and one corpus-sized (not
    explode-multiplied) buffer, and both sides then re-slice it."""
    udf = _buckets_pandas_udf(planes)
    staged = _with_norm(df, id_col, vec_col, prefix).withColumn(
        "_bk", udf(F.col(f"{prefix}_v"))
    )
    if checkpoint:
        staged = staged.localCheckpoint(eager=True)
    return staged.select("*", F.posexplode("_bk").alias("table_idx", "bucket")).drop("_bk")


def knn_lsh(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Each table hashes a vector to an ``n_planes``-bit bucket (sign of
    the quantized dot with a random hyperplane). A probe only scores
    corpus vectors sharing a bucket in ANY table. Recall grows with
    ``n_tables``; cost per probe shrinks ~2^n_planes-fold vs brute
    force. Bucketing is integer-exact (see module docstring), so the
    DuckDB oracle reproduces the candidate set literally.
    """
    planes = lsh_planes(dim, n_planes, n_tables, seed)
    p = bucketed_lsh(probes, planes, id_col, vec_col, "probe")
    c = bucketed_lsh(corpus, planes, id_col, vec_col, "neighbor")
    cand = (
        c.join(
            F.broadcast(p),
            (F.col("probe_id") != F.col("neighbor_id"))
            & (p.table_idx == c.table_idx)
            & (p.bucket == c.bucket),
        )
        .select("probe_id", "probe_v", "probe_nrm", "neighbor_id", "neighbor_v", "neighbor_nrm")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    return _top_k(cand, k)


def lsh_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via LSH bucket blocking: candidates = pairs
    sharing any (table, bucket), exact cosine ≥ threshold computed on
    candidates ONLY. The scale path for embedding dedup — at 10^9
    vectors the bucket join replaces the N² cross product.

    Recall is the LSH collision probability at the threshold angle
    (P(bit equal) = 1 - θ/π per plane, ^n_planes per table, over
    n_tables tables) — near 1 for true near-dups (cos ≥ 0.95),
    deliberately partial at loose thresholds; the DuckDB oracle
    mirrors the identical bucketing so the gate is exact regardless.
    """
    planes = lsh_planes(dim, n_planes, n_tables, seed)
    b = bucketed_lsh(df, planes, id_col, vec_col, "x", checkpoint=True)
    a = b.alias("a")
    c = b.alias("c")
    # score each candidate row BEFORE the pair dedup: the dedup then
    # shuffles (id_a, id_b, score) instead of both vectors, and the
    # threshold filter sits on an aggregate output, which predicate
    # pushdown cannot inline the cosine into (a filter on a projected
    # score would evaluate the cosine twice per pair)
    return (
        a.join(
            c,
            (F.col("a.table_idx") == F.col("c.table_idx"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.x_id") < F.col("c.x_id")),
        )
        .select(
            F.col("a.x_id").alias("id_a"),
            F.col("a.x_v").alias("l_v"),
            F.col("a.x_nrm").alias("l_nrm"),
            F.col("c.x_id").alias("id_b"),
            F.col("c.x_v").alias("r_v"),
            F.col("c.x_nrm").alias("r_nrm"),
        )
        .select("id_a", "id_b", _cosine("l", "r").alias("score"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("score") >= threshold)
    )


def _centroid_norms(centroids: list[list[float]]) -> list[float]:
    import math

    return [math.sqrt(sum(x * x for x in c)) or 1.0 for c in centroids]


def _cells_pandas_udf(centroids: list[list[float]], nprobe: int = 1):
    """Arrow/numpy cell ranking: one float64 matmul per batch, plan
    size O(1) in n_cells × dim (same shape as ``_buckets_pandas_udf``).

    Returns the ``nprobe`` best cells (1-based) by cosine, best
    first. Cosine divides by the centroid norm — without it
    large-norm centroids attract vectors (argmax of the unnormalized
    dot ≠ spherical assignment). Ties resolve to the LOWEST cell id
    (stable argsort); exact double-cosine ties deeper in the ranking
    are vanishingly rare and only perturb which approximate cells are
    probed, never the gated nprobe=n_cells (exact) results."""
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(centroids, dtype=np.float64).T  # (dim, k)
    cnorm = np.asarray(_centroid_norms(centroids), dtype=np.float64)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)
        # the vector's own norm is constant per row — argsort unaffected
        scores = (v @ mat) / cnorm
        idx = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe] + 1
        # zero-norm vectors have no cosine cell: emit NONE, so they
        # neither route as probes nor drag centroids
        zero = ~np.any(v, axis=1)
        out = [[] if z else r.tolist() for z, r in zip(zero, idx.astype("int32"))]
        return pd.Series(out)

    # deterministic in fact; marked to prevent optimizer duplication
    # of the Python stage (see _buckets_pandas_udf)
    return cells.asNondeterministic()


def _assign_cells(df: DataFrame, vcol: str, centroids: list[list[float]]) -> DataFrame:
    """Add a 1-based ``cell`` column (max-cosine centroid)."""
    udf = _cells_pandas_udf(centroids, nprobe=1)
    # try_element_at: the udf emits an EMPTY list for zero-norm
    # vectors (no cosine cell) and plain element_at throws
    # INVALID_ARRAY_INDEX under ANSI — their cell is NULL instead
    return df.withColumn("cell", F.try_element_at(udf(F.col(vcol)), F.lit(1)))


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Coarse-quantizer centroids via distributed Lloyd iterations.

    Init = the ``n_cells`` corpus vectors with the smallest
    ``xxhash64(id)`` (deterministic, data-independent sample); each
    round assigns every vector to its max-cosine centroid (the Arrow
    matmul of ``_assign_cells``) and recomputes per-dimension means
    with one explode + groupBy. Only k×dim aggregate values ever
    reach the driver — the corpus itself never moves. Empty cells
    keep their previous centroid."""
    base = _with_norm(corpus, id_col, vec_col, "x")
    seed_rows = (
        base.select(F.col("x_id").alias("i"), F.col("x_v").alias("v"), "x_nrm")
        .filter(F.col("x_nrm").isNotNull())  # a zero-norm seed centroid would divide by zero
        .orderBy(F.xxhash64(F.col("i").cast("string")))
        .limit(n_cells)
        .collect()
    )
    centroids = [list(r.v) for r in seed_rows]
    for _ in range(iters):
        # zero-norm vectors carry a NULL cell (no cosine assignment)
        # — without the filter the centroid-update loop dereferences
        # None and crashes
        assigned = (
            _assign_cells(base, "x_v", centroids)
            .filter(F.col("cell").isNotNull())
            .select("cell", F.posexplode(F.col("x_v")).alias("dim", "val"))
        )
        means = (
            assigned.groupBy("cell", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        nxt = [list(c) for c in centroids]
        for r in means:
            nxt[r.cell - 1][r.dim] = r.m
        centroids = nxt
    return centroids


def ivf_knn(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: the corpus is partitioned into
    ``n_cells`` coarse-quantizer cells; each probe scores only the
    corpus rows in its ``nprobe`` nearest cells. At 10^9 vectors the
    cell join touches ~nprobe/n_cells of the corpus per probe, and
    the cell column doubles as a storage partition key (cluster
    layout: write the corpus bucketed by cell, probes prune files).

    ``nprobe = n_cells`` searches every cell — EXACTLY brute force
    (cells partition the corpus), which is how the oracle gates this
    machinery; recall at nprobe < n_cells is pytest-verified against
    ``knn_bruteforce``."""
    cents = centroids or ivf_centroids(corpus, n_cells, iters, id_col, vec_col)
    c = _assign_cells(_with_norm(corpus, id_col, vec_col, "neighbor"), "neighbor_v", cents)
    topcells = _cells_pandas_udf(cents, nprobe=nprobe)
    p = _with_norm(probes, id_col, vec_col, "probe").withColumn(
        "cell", F.explode(topcells(F.col("probe_v")))
    )
    return _score_cells(c, p, k)


def ivf_portable_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """Engine-portable coarse quantizer for the gate path: seed
    centroids are the ``n_cells`` non-zero-norm corpus vectors with
    the smallest ``(h60(id), id)`` (``dedup.H60_SPARK_SQL``) — a
    deterministic, aggregation-free selection a SQL oracle reproduces exactly (no
    Lloyd float averaging, whose summation order differs across
    engines). Centroids are integer-quantized (``quantize_expr``,
    round-half-away-from-zero at 1e-3) IN the engine before
    collection, so both engines hold identical integer vectors."""
    from kahi_spark.operators.dedup import H60_SPARK_SQL

    base = _with_norm(corpus, id_col, vec_col, "x")
    rows = (
        base.filter(F.col("x_nrm").isNotNull())
        .select(quantize_expr(F.col("x_v")).alias("q"), "x_id")
        .orderBy(F.expr(H60_SPARK_SQL.format(x="CAST(x_id AS STRING)")), F.col("x_id"))
        .limit(n_cells)
        .collect()
    )
    return [list(r.q) for r in rows]


def _int_cells_pandas_udf(cents: list[list[int]], nprobe: int):
    """Integer-EXACT Arrow cell ranking for the portable IVF path:
    quantize (``_quantize_np``), int64 matmul (exact — |dot| ≪ 2^53),
    divide by the centroid norm in float64. Every arithmetic step is
    the same IEEE op on the same inputs as the DuckDB oracle, so both
    rank cells identically (ties → lower cell id via stable argsort,
    the oracle's ORDER BY d DESC, cell ASC)."""
    import math

    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    mat = np.asarray(cents, dtype=np.int64).T  # (dim, k)
    cnorm = np.asarray(
        [math.sqrt(sum(x * x for x in c)) for c in cents], dtype=np.float64
    )

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        d = (_quantize_np(vecs) @ mat).astype(np.float64) / cnorm
        idx = np.argsort(-d, axis=1, kind="stable")[:, :nprobe].astype("int32") + 1
        return pd.Series(list(idx))

    # deterministic in fact; marked to prevent optimizer duplication
    # of the Python stage (see _buckets_pandas_udf) — the round-7
    # before-plan showed the corpus-side ranking udf evaluated TWICE
    # (an inferred isnotnull(cell) filter pushed below the projection)
    return cells.asNondeterministic()


def ivf_knn_portable(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k at ``nprobe < n_cells`` whose EVERY stage
    is engine-portable (VERDICT r5 #6): unlike ``ivf_knn`` — whose
    Lloyd centroids involve float averaging no second engine can
    reproduce bit-for-bit, forcing its gate to run at nprobe=n_cells
    (≡ brute force) — this variant's coarse quantizer is a
    deterministic hash-seeded selection (``ivf_portable_centroids``)
    and cell affinity is an INTEGER dot product divided by the
    centroid norm (IEEE ops on identical inputs → identical doubles
    in Spark and DuckDB), ties toward the lower cell id. The oracle
    therefore mirrors cell assignment, probe routing AND the final
    ranking exactly, gating the approximation a user actually runs.

    Plan shape is the production one: corpus assigned once (the cell
    doubles as a storage partition key at 10^9 vectors), probes
    broadcast, each probe scores only ~nprobe/n_cells of the corpus."""
    cents = ivf_portable_centroids(corpus, n_cells, id_col, vec_col)
    rank_udf = _int_cells_pandas_udf(cents, n_cells)
    c = _with_norm(corpus, id_col, vec_col, "neighbor").withColumn(
        "cell", rank_udf(F.col("neighbor_v"))[0]
    )
    p = _with_norm(probes, id_col, vec_col, "probe").withColumn(
        "cell", F.explode(F.slice(rank_udf(F.col("probe_v")), 1, nprobe))
    )
    return _score_cells(c, p, k)


def _score_cells(c: DataFrame, p: DataFrame, k: int) -> DataFrame:
    """Shared IVF join: broadcast the routed probes into the assigned
    corpus, then the kNN tail over cell-mates."""
    return _top_k(
        c.join(F.broadcast(p), (F.col("probe_id") != F.col("neighbor_id")) & (p.cell == c.cell)),
        k,
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine ≥ threshold (id_a < id_b). Quadratic — the
    small-scale exact verifier; the scale path is
    ``lsh_cosine_pairs`` (bucket-blocked candidates)."""
    a = _with_norm(df, id_col, vec_col, "l").withColumnRenamed("l_id", "id_a")
    b = _with_norm(df, id_col, vec_col, "r").withColumnRenamed("r_id", "id_b")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine("l", "r").alias("score"))
        .filter(F.col("score") >= threshold)
    )
