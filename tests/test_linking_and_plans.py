"""Entity-linking staged lookup (J8-J10) + physical-plan audits:
pushdown, pruning, broadcast joins, no cartesian products."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_staged_lookup_id_then_alias(spark):
    from kahi_spark.operators.linking import explode_keys, staged_lookup

    # probes: authors with external ids and alias names
    probes = spark.createDataFrame(
        [
            (1, ["orcid:111", "rid:A"], ["j smith"]),
            (2, [], ["m jones"]),          # only resolvable via alias
            (3, ["orcid:999"], ["nobody"]),  # unresolvable
            (4, ["rid:B", "orcid:222"], []),  # two ids → first hit by dim_id
        ],
        ["author_id", "ext_ids", "aliases"],
    )
    dim = spark.createDataFrame(
        [
            (100, ["orcid:111"], ["john smith", "j smith"]),
            (101, ["orcid:222", "rid:B"], ["m jones"]),
        ],
        ["dim_id", "ext_ids", "aliases"],
    )
    stage_ids = (
        explode_keys(probes, "author_id", "ext_ids"),
        explode_keys(dim, "dim_id", "ext_ids").select(
            "key", F.col("probe_id").alias("dim_id")
        ),
    )
    stage_alias = (
        explode_keys(probes, "author_id", "aliases"),
        explode_keys(dim, "dim_id", "aliases").select(
            "key", F.col("probe_id").alias("dim_id")
        ),
    )
    expect = {1: (100, 0), 2: (101, 1), 4: (101, 0)}  # 3 unresolved
    # both plan shapes must agree: single-pass (one join + one window)
    # and the per-stage anti-join cascade
    for sp in (True, False):
        out = staged_lookup(
            [stage_ids, stage_alias], probe_id="probe_id", dim_id="dim_id", single_pass=sp
        )
        got = {r.probe_id: (r.dim_id, r.stage) for r in out.collect()}
        assert got == expect, (sp, got)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema holds only the 3 referenced columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity", "l_shipdate",
    }


def test_dimension_joins_are_broadcast(spark):
    from kahi_spark.queries import q_nation_revenue

    plan = _plan(q_nation_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_join_is_blocked_not_cartesian(spark):
    from kahi_spark.queries import q_fuzzy_title_match

    plan = _plan(q_fuzzy_title_match(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_join_is_equi_join(spark):
    from kahi_spark.queries import q_minhash_lsh_neardup

    plan = _plan(q_minhash_lsh_neardup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdc_reduce_is_single_shuffle(spark):
    """The LWW replay plan shuffles exactly once (the keyed window) —
    and since round 7 the query REDUCES BEFORE NORMALIZING (the
    pipeline fast path's result-identical transform): the regex
    cleaner runs on the post-shuffle LWW winners only, never on every
    raw event."""
    from kahi_spark.queries import q_cdc_apply_lww

    q = q_cdc_apply_lww(spark, SF)
    plan = _plan(q)
    # one Exchange for the window
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # Spark inserts a PARTIAL WindowGroupLimit before the shuffle —
    # map-side top-1 per key, the CDC compaction we want at 10^10
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    # normalization (regex cleaner) runs ABOVE the exchange, on the
    # reduced winners (plan text prints top-down: operators above the
    # Exchange appear before the marker), and is absent from the
    # map/scan side below it
    above, below = plan.split("Exchange hashpartitioning", 1)
    assert "regexp_replace" in above, plan
    assert "regexp_replace" not in below, plan

def test_round2_query_plans_have_no_cartesian_products(spark):
    """Plan-shape regression guard for the round-2 gated queries:
    no CartesianProduct may appear (the gazetteer contains-join is
    intentionally a BroadcastNestedLoopJoin against a 25-row
    dimension — broadcast, not cartesian), and the 7-way feed
    dispatch must stay a single scan."""
    from kahi_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    names = [
        "staged_lookup_entities",
        "gazetteer_country",
        "keyless_resolution",
        "embedding_neardup_lsh",
        "multisource_convergence",
        "simhash_neardup",
        "merge_policies",
        "align_positional",
    ]
    for name in names:
        df = QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} plan degraded:\n{plan[:2000]}"
    # the 7-way feed dispatch must stay ONE scan of the feed (simple
    # plan mode: each node printed once)
    for name in ("rawfeeds_normalize", "multisource_convergence"):
        df = QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1, f"{name}: feed dispatch must be one scan"


def test_dedup_index_probe_broadcasts_the_batch_side(spark, tmp_path):
    """find_neardups must probe the (10^10-row) persistent index in
    place: the batch bands broadcast, so no index-side Exchange sits
    under the candidate join (a silent revert to a shuffle join is a
    100-TB regression this asserts against)."""
    from kahi_spark.sinks.dedup_index import LshDedupIndex

    idx = LshDedupIndex(spark, str(tmp_path / "idx"))
    docs = spark.createDataFrame(
        [(str(i), f"alpha beta gamma delta epsilon word{i} zeta eta") for i in range(30)],
        "k string, text string",
    )
    idx.add(idx._signatures(docs, "k", "text"), epoch_id=0)
    batch = spark.createDataFrame(
        [("b1", "alpha beta gamma delta epsilon word1 zeta etas")],
        "k string, text string",
    )
    plan = _plan(idx.find_neardups(idx._signatures(batch, "k", "text")))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def _ancestors(plan: str, marker: str) -> list[list[str]]:
    """Node names above every line of ``plan`` (a physical plan's tree
    string) that contains ``marker``, nearest first."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :|+-")) for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if marker not in ln:
            continue
        names, d = [], depth[i]
        for j in range(i - 1, -1, -1):
            if depth[j] < d:
                names.append(lines[j].lstrip(" :|+-*()0123456789").split(" ")[0])
                d = depth[j]
        out.append(names)
    return out


def test_dedup_verification_probes_the_signature_index_in_place(spark, tmp_path):
    """The verification join broadcasts (batch sigs ⋈ candidates) and
    streams the signature index through it: in the FINAL adaptive plan
    no exchange of any kind sits between the ``sigs`` scan and that
    join. (Left to
    AQE, the small test index became the broadcast side — the whole
    index rebuilt as a hash table every epoch, and a sort-merge
    shuffle of it once it outgrows the broadcast threshold.)"""
    from kahi_spark.sinks.dedup_index import LshDedupIndex

    idx = LshDedupIndex(spark, str(tmp_path / "idx"))
    docs = spark.createDataFrame(
        [(str(i), f"alpha beta gamma delta epsilon word{i} zeta eta") for i in range(30)],
        "k string, text string",
    )
    idx.add(idx._signatures(docs, "k", "text"), epoch_id=0)
    batch = spark.createDataFrame(
        [("b1", "alpha beta gamma delta epsilon word1 zeta eta")], "k string, text string"
    )
    dups = idx.find_neardups(idx._signatures(batch, "k", "text"))
    assert [r.match_key for r in dups.collect()] == ["1"]
    plan = dups._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # the sigs scan (its location is elided in the tree string)
    above = _ancestors(final, "ReadSchema: struct<key:string,sig:array<bigint>>")
    assert above, final
    for names in above:
        # up to the verification join: no exchange, no query stage
        probe = names[: names.index("BroadcastHashJoin")]
        assert not [n for n in probe if "Exchange" in n or "Stage" in n], (names, final)
