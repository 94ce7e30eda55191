"""Near-duplicate detection operators (training-data pipeline ops;
the scale path for the reference's fuzzy similarity dedup, J3 —
``KahiDb.py:23-102,385-450`` — re-expressed as blocked joins so the
O(N·M) candidate loop never happens).

All operators are pure DataFrame: shingling with higher-order array
functions, hashing every shingle with the one 60-bit md5 hash
(``H60_SPARK_SQL``; DuckDB computes the same value from
``H60_DUCKDB_SQL``, so the oracles mirror the signatures the engine
computes), candidate generation via equi-joins on block keys. No
Python in the hot path.

At 100 TB: the shingle/band join is the only shuffle; its key space
(band_idx, band_signature) is high-cardinality and uniform by
construction, so no skew; candidates are a tiny fraction of pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Mersenne prime modulus of the MinHash universal-hash permutation
#: family (public: the DuckDB oracles mirror the signatures with it)
MINHASH_P = (1 << 31) - 1

#: The engine's one shingle/feature hash, as a Spark SQL template
#: (``{x}`` = a string expression): the first 15 hex digits of md5 as
#: a signed long. 60 bits keep the value inside the signed-64 range,
#: so the ANSI cast never throws. Every Spark site formats this copy.
H60_SPARK_SQL = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"

#: The DuckDB spelling of ``H60_SPARK_SQL`` — bit-identical values, so
#: an oracle mirrors every hash the engine computes. Every oracle
#: formats this copy.
H60_DUCKDB_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

#: DuckDB mirror of ``shingle_df``'s word-3gram distinct shingles —
#: the ONE template every oracle formats (``{x}`` = text expression;
#: empty below 3 words, range() is empty). Five oracle SQL blocks
#: must stay bit-identical to the Spark shingles for their value
#: hashes to hold; keeping one copy makes a semantics change a
#: one-edit affair (round-5 review).
SHINGLES_SQL = (
    "list_distinct([string_split({x},' ')[i] || ' ' || "
    "string_split({x},' ')[i+1] || ' ' || string_split({x},' ')[i+2] "
    "for i in range(1, len(string_split({x},' ')) - 1)])"
)


def _shingles_sql(tokens: str, n: int = 3) -> str:
    """The distinct word n-gram shingles of the token-array column
    ``tokens`` as ONE Spark SQL expression — the single Spark spelling
    of the shingle semantics (``SHINGLES_SQL`` is its DuckDB mirror).

    Docs below ``n`` tokens produce NO shingles (empty set — same as
    the DuckDB mirror's empty range() comprehension). Without the
    guard, sequence(0, negative) DESCENDS and element_at hits index
    0/out-of-bounds — under Spark 4 ANSI that throws, and one short
    text killed the whole ingest epoch through
    LshDedupIndex.dedup_batch (round-5 review finding)."""
    gram = ", ".join(f"element_at({tokens}, i + {k + 1})" for k in range(n))
    return (
        f"CASE WHEN size({tokens}) >= {n} THEN array_distinct(transform("
        f"sequence(0, size({tokens}) - {n}), i -> concat_ws(' ', {gram}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _tk): the token array materialized as its own column —
    referencing ``split(text)`` directly inside the shingle lambda
    re-splits the whole string PER ELEMENT (O(words²) per doc; fixing
    it measured 3.7× on 100k docs)."""
    return docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_tk"))


def shingle_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """id → exploded distinct word n-gram shingles.

    Deliberately does NOT carry a per-doc shingle count: selecting
    ``size(grams)`` next to ``explode(grams)`` makes Catalyst's
    projection collapse re-evaluate the whole transform/array_distinct
    tree once per EXPLODED row (observed 15×+ slowdown in
    ``.explain("formatted")``). Use ``shingle_counts`` on the exploded
    frame instead.
    """
    return _tokens(docs, id_col, text_col).select(
        F.col(id_col), F.explode(F.expr(_shingles_sql("_tk", n))).alias("shingle")
    )


def shingle_counts(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc distinct-shingle counts from the exploded frame (one
    map-side-combinable aggregation; shingles are already distinct)."""
    return shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs from an exploded shingle frame:
    shingle equi-join (blocking — the cross product never exists) →
    per-pair common counts → join tiny per-doc counts for the union
    size. Output: (doc_a, doc_b, jaccard rounded to 6).

    ``max_df`` caps shingle document frequency BEFORE the self-join:
    a shingle shared by d docs contributes d² join rows, so one
    boilerplate trigram in 10^5 docs would alone create ~10^10 rows
    (hot-key quadratic blowup). With the cap, Jaccard is computed
    over each doc's RARE-shingle subset (both the intersection and
    the per-doc counts use the capped sets, so the ratio stays a true
    Jaccard — of the informative shingles). Error bound: a pair whose
    true Jaccard is j can move by at most f/(1-f) where f is the
    larger fraction of capped-away shingles in either doc; dropped
    shingles are by construction the least discriminative (df > K).
    Callers needing the uncapped measure at scale should verify LSH
    candidates instead (``verify_jaccard``)."""
    if max_df is not None:
        w = Window.partitionBy("shingle")
        shingles = (
            shingles.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    counts = shingle_counts(shingles, id_col)
    a = shingles.alias("a")
    b = shingles.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def verify_jaccard(
    candidates: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact-Jaccard verification of a (doc_a, doc_b) candidate set —
    cost proportional to candidates × shingles-per-doc, NOT to the
    full pair space (this is why LSH blocking wins at scale).

    common = |A∩B| via candidates ⋈ shingles_a ⋈ shingles_b on equal
    shingle value; union from the per-doc counts."""
    counts = shingle_counts(shingles, id_col)
    sa = shingles.select(F.col(id_col).alias("doc_a"), F.col("shingle").alias("sh_a"))
    sb = shingles.select(F.col(id_col).alias("_b_id"), F.col("shingle").alias("sh_b"))
    common = (
        candidates.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("_b_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_coeffs(n_hashes: int = 64, seed: int = 42) -> list[tuple[int, int]]:
    """The (a_i, b_i) universal-permutation coefficients shared by
    the Spark signatures and any SQL oracle that mirrors them."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_P), rnd.randrange(0, MINHASH_P))
        for _ in range(n_hashes)
    ]


def _minhash_sql(shingles: str, n_hashes: int = 64, seed: int = 42) -> str:
    """The MinHash signature (``array<bigint>``, ``n_hashes`` slots) of
    the shingle-array column ``shingles`` as ONE Spark SQL expression:
    slot i = min over shingles x of h_i(x) = (a_i·h(x) + b_i) mod p,
    with h the 60-bit md5 hash (``H60_SPARK_SQL``). Each shingle is
    hashed once, then folded into the running minima — no explode, no
    shuffle (one SQL string: Column-operator chains cost ~0.3 s of
    py4j round-trips per query construction).

    DuckDB reproduces h bit-for-bit, so an oracle can mirror the
    SIGNATURES themselves (needed when the verdict is
    signature-estimated Jaccard, not exact Jaccard — see
    sinks/dedup_index.py). Measured against xxhash64 over the same
    shingles, md5 signs within noise: the 64-slot fold dominates
    signing, not the shingle hash. An empty array gives p in every
    slot."""
    h = H60_SPARK_SQL.format(x="s")
    coeffs = ", ".join(
        f"named_struct('a', {a}, 'b', {b})" for a, b in minhash_coeffs(n_hashes, seed)
    )
    return (
        f"aggregate(transform({shingles}, s -> pmod({h}, {MINHASH_P})), "
        f"array_repeat(CAST({MINHASH_P} AS BIGINT), {n_hashes}), "
        f"(m, h) -> zip_with(m, array({coeffs}), "
        f"(x, c) -> least(x, pmod(c.a * h + c.b, {MINHASH_P}))))"
    )


def _lsh_bands_sql(sig: str, n_bands: int, rows: int) -> str:
    """The ``n_bands`` LSH band hashes of the signature column ``sig``
    as ONE Spark SQL expression: band b (its array position) is
    xxhash64 over signature slots [b·rows, (b+1)·rows)."""
    slots = ", ".join(f"element_at({sig}, b * {rows} + {i + 1})" for i in range(rows))
    return f"transform(sequence(0, {n_bands - 1}), b -> xxhash64({slots}))"


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<bigint>, bands array<bigint>): one row per doc
    with at least one shingle — two projections, no explode, no
    shuffle. Docs below ``n`` tokens cannot near-dup via shingles and
    get no row. ``bands[b]`` hashes signature slots
    [b·rows, (b+1)·rows) with rows = n_hashes / n_bands."""
    return (
        _tokens(docs, id_col, text_col)
        .filter(F.size("_tk") >= n)
        .select(
            F.col(id_col),
            F.expr(_minhash_sql(_shingles_sql("_tk", n), n_hashes, seed)).alias("sig"),
        )
        .withColumn("bands", F.expr(_lsh_bands_sql("sig", n_bands, n_hashes // n_bands)))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding.

    Signature split into ``n_bands`` bands of ``n_hashes/n_bands``
    rows; docs sharing any band signature become a candidate pair.
    Returns distinct (doc_a < doc_b) candidates — callers verify
    with exact Jaccard (see queries.q_minhash_lsh_neardup).

    ``posexplode_outer``, not ``posexplode``: for an inner generator
    over an attribute, Spark's ``InferFiltersFromGenerate`` adds
    ``size(bands) > 0 AND isnotnull(bands)``, and predicate pushdown
    then inlines the whole MinHash fold into the scan's Filter — four
    extra folds per doc, with ``split(text)`` re-evaluated per element
    (the query ran ~75× slower at sf0.1). Every ``minhash_bands`` row
    has ``n_bands`` non-NULL bands, so outer adds no rows.

    The bands are repartitioned on the join key before the self-join:
    both sides then read one reused exchange, so each doc is signed
    once (without it the broadcast and the streamed side each ran the
    whole signature fold).
    """
    bands = (
        minhash_bands(docs, id_col, text_col, n, n_hashes, n_bands, seed)
        .select(F.col(id_col), F.posexplode_outer("bands").alias("band_idx", "band_sig"))
        .repartition("band_idx", "band_sig")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def with_simhash32_md5(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PORTABLE 32-bit SimHash over distinct word-3gram SHINGLES: per
    shingle, bit b of the fingerprint votes +1 iff hex digit b of
    ``md5(shingle)`` is ≥ '8' (the digit's top bit) — md5 renders
    identically in Spark and DuckDB, so the oracle can mirror the
    fingerprint bit-for-bit. Shingle features (not bare tokens): on a
    small-vocabulary corpus every document contains nearly the same
    token SET, so token-level SimHash cannot discriminate; 3-gram
    shingles restore the feature diversity SimHash needs. The 60-bit
    ``with_simhash60_md5`` is the wide-band variant; this one is the
    small-radius query.

    Shape: explode distinct shingles → 32 ±1 vote sums per doc (one
    map-side-combinable aggregation) → sign fold into a 32-bit long.
    """
    toks = shingle_df(docs, id_col=id_col, text_col=text_col, n=3).withColumnRenamed(
        "shingle", "tok"
    )
    # md5 materialized in its own select: referencing F.md5(tok) in all
    # 32 vote expressions would re-hash the shingle 32× per row
    # (CollapseProject keeps cheap aliases inline; md5 is not cheap).
    # Bit-counts aggregate PACKED (3 per long, 20-bit fields) — same
    # trick as with_simhash60_md5, identical fingerprint values.
    # Round 7: the packed/fold expressions are built as SQL strings
    # (one parser call each) — the loop-of-Column-operators form cost
    # >1 s of py4j round-trips PER QUERY CONSTRUCTION (measured; the
    # expr-string build is ~3 ms for identical expressions).
    hashed = toks.select(id_col, F.md5(F.col("tok")).alias("h"))

    def packed_sql(j: int) -> str:
        terms = [
            f"shiftleft(CAST((substr(h, {3 * j + k + 1}, 1) >= '8') AS BIGINT), {20 * k})"
            for k in range(3)
            if 3 * j + k < 32
        ]
        return " + ".join(terms)

    n_packs = (32 + 2) // 3
    votes = hashed.select(
        id_col, *[F.expr(packed_sql(j)).alias(f"p{j}") for j in range(n_packs)]
    )
    sums = votes.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"p{j}").alias(f"p{j}") for j in range(n_packs)],
    )
    fp_sql = " + ".join(
        f"(CASE WHEN (((shiftright(p{b // 3}, {20 * (b % 3)}) & 1048575) * 2) > _n) "
        f"THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )
    return sums.select(F.col(id_col), F.expr(fp_sql).alias("simhash32"))


def with_simhash60_md5(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PORTABLE 60-bit SimHash over distinct word-3gram shingles: bit
    b of the fingerprint votes by bit b of the shingle's ``h60`` md5
    hash — both engines compute the identical fingerprint, so the
    oracle mirrors it bit-for-bit (the wide-band replacement for the
    32-bit ``with_simhash32_md5``: 15-bit bands give a 32k-value band
    key space instead of 256, which is what survives 10^8+ docs).

    Shape: explode shingles → one h60 per shingle (md5 materialized
    once, its own projection — CollapseProject would otherwise
    re-hash per vote) → bit-counts per doc via PACKED sums (3 bits'
    counters per long in 20-bit fields: 20 sum aggregates instead of
    60 — measured ~2× on the fingerprint stage; a doc would need
    2^20 ≈ 1M distinct shingles to overflow a field, far past any
    real document) → sign fold (vote_b = 2·count_b − n > 0) into a
    60-bit long. The fingerprint value is IDENTICAL to the unpacked
    formulation, so the DuckDB oracle (which keeps the readable
    60-sum form) mirrors it bit-for-bit.
    """
    toks = shingle_df(docs, id_col=id_col, text_col=text_col, n=3).withColumnRenamed(
        "shingle", "tok"
    )
    hashed = toks.select(id_col, F.expr(H60_SPARK_SQL.format(x="tok")).alias("h"))

    # round 7: packed/fold as SQL strings — the Column-operator loops
    # cost ~2 s of py4j round-trips per query construction (measured:
    # fold alone 1.6 s → 3 ms as one expr string; values identical)
    def packed_sql(j: int) -> str:  # counters for bits 3j, 3j+1, 3j+2
        return " + ".join(
            f"shiftleft(CAST((shiftright(h, {3 * j + k}) & 1) AS BIGINT), {20 * k})"
            for k in range(3)
        )

    votes = hashed.select(
        id_col, *[F.expr(packed_sql(j)).alias(f"p{j}") for j in range(20)]
    )
    sums = votes.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"p{j}").alias(f"p{j}") for j in range(20)],
    )
    fp_sql = " + ".join(
        f"(CASE WHEN (((shiftright(p{b // 3}, {20 * (b % 3)}) & 1048575) * 2) > _n) "
        f"THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(60)
    )
    return sums.select(F.col(id_col), F.expr(fp_sql).alias("simhash60"))


def _banded_hamming_pairs(
    sh: DataFrame,
    fp_col: str,
    total_bits: int,
    n_bands: int,
    max_hamming: int,
    id_col: str,
) -> DataFrame:
    """Shared core of the two SimHash pair queries: band the
    fingerprint, bucket-join on (band_idx, band_val), exact-Hamming
    filter. ONE copy (round-5 review) so a banding fix cannot
    silently miss a variant.

    ``n_bands`` must divide ``total_bits``: the pigeonhole recall
    proof (hamming ≤ n_bands-1 ⇒ some band untouched ⇒ bucket
    collision) requires every bit to live in SOME band — a
    non-divisor (e.g. 60-bit / 8 bands) would leave the top bits
    unbanded and silently miss pairs differing only there."""
    if total_bits % n_bands:
        raise ValueError(
            f"n_bands={n_bands} must divide the {total_bits}-bit fingerprint "
            "(unbanded bits void the pigeonhole recall guarantee)"
        )
    width = total_bits // n_bands
    bands = sh.select(
        id_col,
        fp_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col(fp_col), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, fp_col, "band.band_idx", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_wide_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Banded near-dup pairs over the portable 60-bit SimHash —
    the oracle-gated representative of the wide-band family.

    ``max_hamming = n_bands - 1`` ⇒ recall exactly 1 by pigeonhole
    (some 15-bit band untouched), same guarantee as the 32-bit
    variant but with a 2^15-value band key space: at 10^8 docs the
    expected bucket population is ~3k× smaller than 8-bit bands, so
    the band join stays linear where ``simhash32_neardup_pairs``
    (kept as the portable small-radius query) goes quadratic.
    Output: (doc_a, doc_b, hamming)."""
    sh = with_simhash60_md5(docs, id_col=id_col, text_col=text_col)
    return _banded_hamming_pairs(sh, "simhash60", 60, n_bands, max_hamming, id_col)


def simhash32_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Banded near-dup pairs over the portable 32-bit SimHash.

    With ``max_hamming = n_bands - 1`` recall is EXACTLY 1 by the
    pigeonhole principle (≤3 differing bits across 4 bands leaves
    some 8-bit band untouched → bucket collision → candidate), so the
    output is precisely *all* pairs at Hamming ≤ max_hamming — a
    deterministic set the DuckDB oracle reproduces.
    Output: (doc_a, doc_b, hamming).

    SCALE LIMIT (honest): band-key cardinality bounds how far banding
    alone can go — 8-bit bands have 256 values, so at ~10^8+ docs the
    per-bucket population makes the bucket join quadratic again. At web scale
    either widen bands (radius guarantee shrinks), add a conjunctive
    cheap block key (length bucket, as ``keyless.py`` does), or
    prefer MinHash-LSH (``minhash_lsh_pairs``: band signatures are
    64-bit hashes of 4-row slices → effectively unbounded key space,
    uniform by construction). SimHash here is the verification-grade
    radius query; MinHash-LSH is the recommended 100-TB dedup path."""
    sh = with_simhash32_md5(docs, id_col=id_col, text_col=text_col)
    return _banded_hamming_pairs(sh, "simhash32", 32, n_bands, max_hamming, id_col)

