"""Round-2 operator tests: conjunctive keyless blocking (candidate
shrink + unchanged resolution), stop-shingle cap semantics, the
partial_ratio scorer family + staged cascade, one-scan feed dispatch,
and quantized-LSH near-dup parity with the brute-force verifier."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F


def _ts(i: int):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)


def test_keyless_blocking_shrinks_candidates(spark):
    """Round-3 VERDICT #3: adding the MinHash-slot block key must
    shrink candidate pairs ≥10× AGAIN vs the round-2 (turn_idx,
    size-bucket) scheme on a 10³-row state, with every planted probe
    still resolving to its exact-text owner."""
    from kahi_spark.operators.keyless import N_SLOTS, _with_features, resolve_keyless_events

    # state: 2000 rows over 20 turns, diverse 10-64-word texts from a
    # 211-word vocab (realistic transcript variation: many rows share
    # a size bucket, few share shingle sets — the shingle regime is
    # where the round-2 candidate ceiling lived; sub-MIN_SHINGLES
    # texts use saturated char bigrams and block coarsely by design)
    state_rows = [
        (
            f"c{i % 100}",
            i % 20,
            "user" if i % 2 == 0 else "assistant",
            " ".join(
                f"w{(i * 1009 + j * j * 53 + j * 17) % 211}"
                for j in range(10 + (i * 13) % 55)
            ),
            None,
            _ts(i),
        )
        for i in range(2000)
    ]
    state = spark.createDataFrame(
        state_rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    # 50 keyless probes: texts copied from state rows (planted matches)
    probe_rows = [
        (
            10_000 + j,
            "update",
            None,
            (j * 37) % 20,
            state_rows[(j * 37) % 2000][2],
            state_rows[(j * 37) % 2000][3],
            None,
            _ts(10_000 + j),
            "src0",
        )
        for j in range(50)
    ]
    events = spark.createDataFrame(
        probe_rows,
        "seq long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp, source string",
    )

    # candidate-pair counts: round-2 blocking (turn + size bucket)
    # vs round-3 (turn + size bucket + any-of-N minhash slots)
    p = _with_features(events.select(F.col("seq").alias("_p_seq"), "turn_idx", "text"))
    c = _with_features(state.select(F.col("conv_id").alias("_c_conv"), "turn_idx", "text"))
    pk = p.select("_p_seq", "turn_idx", "_lb", *[f"_m{i}" for i in range(N_SLOTS)])
    ck = c.select("_c_conv", "turn_idx", "_lb", *[f"_m{i}" for i in range(N_SLOTS)])
    base = pk.join(
        ck.withColumnRenamed("_lb", "_clb").withColumnsRenamed(
            {f"_m{i}": f"_cm{i}" for i in range(N_SLOTS)}
        ),
        on="turn_idx",
    ).filter(F.abs(F.col("_lb") - F.col("_clb")) <= 1)
    r2_pairs = base.count()
    any_slot = F.lit(False)
    for i in range(N_SLOTS):
        any_slot = any_slot | (F.col(f"_m{i}") == F.col(f"_cm{i}"))
    r3_pairs = base.filter(any_slot).count()
    assert r3_pairs * 10 <= r2_pairs, (r3_pairs, r2_pairs)

    # resolution output: every planted probe resolves to the conv that
    # holds its exact text (score 1.0 beats every fuzzier candidate)
    resolved = resolve_keyless_events(events, state)
    got = {r.seq: r.conv_id for r in resolved.filter(F.col("seq") >= 10_000).collect()}
    state_latest = {}  # the LWW text owner per (turn, text)
    for conv, turn, _role, text, _tool, _t in state_rows:
        state_latest.setdefault((turn, text), []).append(conv)
    for j in range(50):
        srow = state_rows[(j * 37) % 2000]
        expect = min(state_latest[(srow[1], srow[3])])  # pick-first: min conv
        assert got[10_000 + j] == expect


def test_stop_shingle_cap_semantics(spark):
    """VERDICT #5: shingles with document frequency > max_df are
    dropped BEFORE the self-join — a boilerplate sentence shared by
    every doc can no longer create the d² hot-key blowup, while
    rare-shingle near-dups still pair."""
    from kahi_spark.operators.dedup import jaccard_pairs, shingle_df

    boiler = "terms and conditions apply to all documents here"
    rows = [(i, boiler + f" unique{i} body{i} text{i} run{i}") for i in range(300)]
    # planted near-dup pair 400/401: identical rare content
    rows += [
        (400, boiler + " planted alpha beta gamma delta epsilon zeta"),
        (401, boiler + " planted alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = shingle_df(docs)
    capped = jaccard_pairs(sh, threshold=0.8, max_df=10)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in capped.collect()}
    # the planted pair survives (its rare shingles agree exactly)
    assert got.get((400, 401)) == 1.0
    # boilerplate-only overlap creates NO pairs: every shared shingle
    # had df > 10 and was capped away
    assert set(got) == {(400, 401)}
    # uncapped, the hot shingles join every doc against every other —
    # the capped plan must not contain that blowup (sanity: the
    # uncapped candidate space here is ~300², the capped one is 1)


def test_partial_ratio_family(spark):
    from kahi_spark.operators.fuzzy import (
        _partial_ratio_py,
        partial_ratio_pandas,
        partial_token_set_ratio_pandas,
        token_set_ratio_pandas,
    )

    # substring alignment: the short string appears verbatim inside
    # the long one → 1.0 even though full-string ratio is low
    assert _partial_ratio_py("maria garcia", "email: maria garcia, univ of x") == 1.0
    assert _partial_ratio_py("abc", "abc") == 1.0
    assert _partial_ratio_py("", "anything") == 0.0
    assert _partial_ratio_py(None, "x") is None

    df = spark.createDataFrame(
        [
            ("maria garcia", "email: maria garcia, universidad nacional"),
            ("jones p", "completely different text"),
        ],
        ["a", "b"],
    )
    out = df.select(
        partial_ratio_pandas("a", "b").alias("pr"),
        partial_token_set_ratio_pandas("a", "b").alias("ptsr"),
        token_set_ratio_pandas("a", "b").alias("tsr"),
    ).collect()
    assert out[0].pr == 1.0  # corresponding-author case (J6)
    assert out[0].pr > out[0].tsr  # substring alignment beats full-set ratio
    assert out[1].pr < 0.6


def test_staged_cascade_stage_exclusivity(spark):
    """A probe resolved at stage 0 must NOT reappear at stage 1 (the
    reference's short-circuit `or` chain, Scopus.py:268-287)."""
    from kahi_spark.operators.fuzzy import (
        bigram_jaccard_expr,
        char_bigrams_expr,
        staged_fuzzy_cascade,
    )

    probes = spark.createDataFrame(
        [(1, "b", "the quick brown fox jumps"), (2, "b", "zzz qqq xxx yyy www")],
        ["probe_id", "blk", "txt"],
    ).select("probe_id", "blk", char_bigrams_expr(F.col("txt")).alias("bg_p"))
    cands = spark.createDataFrame(
        [(10, "b", "the quick brown fox jumped"), (11, "b", "zzz qqq xxx yyy vvv")],
        ["cand_id", "blk", "txt"],
    ).select("cand_id", "blk", char_bigrams_expr(F.col("txt")).alias("bg_c"))
    score = bigram_jaccard_expr(F.col("bg_p"), F.col("bg_c"))
    out = staged_fuzzy_cascade(
        probes, cands, ["blk"], "probe_id", "cand_id", [(score, 0.8), (score, 0.5)]
    ).collect()
    by_probe = {r.probe_id: r for r in out}
    assert len(out) == 2  # one row per probe, no duplicates
    assert by_probe[1].stage == 0 and by_probe[1].cand_id == 10
    assert by_probe[2].stage in (0, 1) and by_probe[2].cand_id == 11


def test_normalize_feeds_single_scan(spark, tmp_path):
    """VERDICT #6: the 7-way dispatch must read the feed ONCE (the
    union-of-filters shape scanned it once per source)."""
    from kahi_spark.sources.rawfeeds import NORMALIZERS, normalize_feeds

    rows = [
        (0, "lens", json.dumps({
            "conversation": {"id": "c1", "turn": 0},
            "speaker": {"role": "USER"}, "body": "hi",
            "tool": {"name": None}, "sent_at": "2024-01-01T00:00:05",
            "operation": "insert"})),
        (1, "scielo", json.dumps({
            "codigo": "sci:c2", "turno": "T4", "papel": "ai",
            "texto": "hola", "herramienta": None,
            "fecha": "01/01/2024 00:00:06", "accion": "CAMBIO"})),
        (2, "scholar", json.dumps({
            "cluster": "c3", "pos": 7, "who": "user", "snippet": "s",
            "ts_ms": 1704067207123, "verb": "del"})),
        (3, "oadoi", json.dumps({
            "id": "c4", "turn": 1, "oa_text": "enriched",
            "updated": "2024-01-01T00:00:08"})),
        (4, "doaj", json.dumps({
            "conv": "c5", "turn": 2, "tool_name": "sql",
            "updated_epoch": 1704067209})),
    ]
    path = str(tmp_path / "feed")
    spark.createDataFrame(rows, ["seq", "source", "payload"]).write.parquet(path)
    feed = spark.read.parquet(path)
    out = normalize_feeds(feed)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan

    got = {r.seq: r for r in out.collect()}
    assert (got[1].op, got[1].conv_id, got[1].turn_idx) == ("update", "c2", 4)
    assert got[1].ts.second == 6
    assert (got[2].op, got[2].conv_id, got[2].ts.microsecond) == ("delete", "c3", 123000)
    assert (got[3].op, got[3].text, got[3].role) == ("update", "enriched", None)
    assert (got[4].op, got[4].tool, got[4].text) == ("update", "sql", None)

    # the one-scan dispatch agrees with the per-source normalizers
    per_source = None
    for src, fn in NORMALIZERS.items():
        part = fn(feed.filter(F.col("source") == src))
        per_source = part if per_source is None else per_source.unionByName(part)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, per_source.collect()))


def test_lsh_cosine_pairs_subset_of_bruteforce(spark):
    """LSH-blocked pairs must be a subset of the exact all-pairs
    output with IDENTICAL scores (candidates are verified exactly),
    and must find high-cosine planted near-dups."""
    import numpy as np

    from kahi_spark.operators.similarity import cosine_pairs, lsh_cosine_pairs

    rng = np.random.default_rng(11)
    vecs = [(i, rng.normal(size=64).astype("float32").tolist(), 0) for i in range(200)]
    # planted near-dups: 300/301 nearly identical
    base = rng.normal(size=64)
    vecs.append((300, base.astype("float32").tolist(), 1))
    vecs.append((301, (base + 0.01 * rng.normal(size=64)).astype("float32").tolist(), 1))
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"])

    exact = {(r.id_a, r.id_b): r.score for r in cosine_pairs(emb, threshold=0.4).collect()}
    lsh = {(r.id_a, r.id_b): r.score for r in lsh_cosine_pairs(emb, threshold=0.4).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert exact[k] == v
    assert (300, 301) in lsh  # cos ≈ 0.999: LSH recall ~1 at near-dup range


def test_colav_similarity_cascade_branches(spark):
    """Every branch of the reference's decision cascade
    (KahiDb.py:23-110) re-expressed in colav_similarity_py."""
    from kahi_spark.operators.fuzzy import colav_similarity_pandas, colav_similarity_py

    # direct ratio on long titles
    assert colav_similarity_py(
        "deep learning for spark pipelines", "deep learning for spark pipelines",
        None, None, None, None)
    # accent fold + TeX strip (parse_string parity)
    assert colav_similarity_py(
        r"an\'alisis de redes $complejas$ en sistemas", "analisis de redes complejas en sistemas",
        None, None, None, None)
    # short title rejected without journal+year corroboration
    assert not colav_similarity_py("short title here", "short title here", None, None, None, None)
    # short title rescued by journal + year
    assert colav_similarity_py(
        "short title here", "short title here", "revista x", "revista x", 2020, 2020)
    # multi-language bracket variants: english variant matches
    assert colav_similarity_py(
        "estudio de grafos aleatorios [study of random graphs today]",
        "the random graphs analysis [study of random graphs today]",
        None, None, None, None)
    # partial + journal/year rescue (substring of a longer title)
    assert colav_similarity_py(
        "graph neural networks survey and review",
        "a comprehensive graph neural networks survey and review of methods",
        "jmlr", "jmlr", 2021, 2021, partial_t=1.01)
    # year mismatch kills the rescue path
    assert not colav_similarity_py(
        "totally different words one", "another unrelated phrase two",
        "jmlr", "jmlr", 2020, 2021)

    # the Arrow-batched form agrees with the Python reference impl
    rows = [("same long title about spark", "same long title about spark",
             "j", "j", 1, 1)]
    df = spark.createDataFrame(rows, "t1 string, t2 string, j1 string, j2 string, y1 int, y2 int")
    got = df.select(colav_similarity_pandas("t1", "t2", "j1", "j2", "y1", "y2").alias("m")).collect()
    assert got[0].m is True


def test_simhash_banding_requires_divisor(spark):
    """A non-divisor n_bands would leave fingerprint bits outside
    every band and silently void the pigeonhole recall guarantee —
    both variants must refuse it loudly (round-5 review)."""
    import pytest

    from kahi_spark.operators.dedup import (
        simhash32_neardup_pairs,
        simhash_wide_neardup_pairs,
    )

    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    for fn, bad in (
        (simhash_wide_neardup_pairs, 8),   # 60 % 8 != 0
        (simhash32_neardup_pairs, 5),      # 32 % 5 != 0
    ):
        with pytest.raises(ValueError, match="divide"):
            fn(docs, n_bands=bad)
