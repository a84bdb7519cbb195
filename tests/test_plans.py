"""Plan-shape regression tests: correctness tests prove results match;
these prove the PHYSICAL plan stays the one that survives 100 TB
(pushdown reaching the scan, pruned ReadSchema, dims broadcasting,
partial aggregation)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tomixpanel_spark.operators import registry
from tomixpanel_spark.plans.audit import (
    exchange_count,
    join_strategies,
    pushed_filters,
    scan_columns,
)

REG = registry()


def test_filters_reach_parquet_scan(spark):
    df = REG["pushdown_filter"].fn(spark, SF_ORACLE)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity" in pushed
    assert "In(l_returnflag" in pushed  # the S7 event-list pushdown


def test_column_pruning_narrows_read_schema(spark):
    df = REG["project_drop"].fn(spark, SF_ORACLE)
    cols = scan_columns(df)
    assert "props" not in cols and "value" not in cols


def test_q5_broadcasts_dims(spark):
    df = REG["tpch_q5"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert joins.count("BroadcastHashJoin") >= 2  # nation + region at minimum


def test_q1_partial_aggregation_single_shuffle(spark):
    df = REG["tpch_q1"].fn(spark, SF_ORACLE)
    # one agg exchange (+ possibly one AQE read) — never a sort or join
    assert exchange_count(df) <= 2
    assert join_strategies(df) == []


def test_lsh_pairs_postings_shape_no_join(spark):
    """LSH candidate generation must stay the postings-list expansion:
    ONE band-group aggregate + the pair-dedup exchange, NO self-join (the
    join form scans signatures twice and blows up quadratically inside a
    hot band with no place to cap it)."""
    df = REG["minhash_lsh_pairs"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []


def test_funnel_single_shuffle_no_joins(spark):
    """Funnel is three CHAINED window minimums over one user_id exchange —
    never the per-step groupBy+join-back form (which re-evaluates step
    k's lineage 4-k times and shuffles 6x at any scale)."""
    df = REG["funnel"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []


def test_retention_no_self_join(spark):
    """The first-seen cohort attaches as a window minimum — the self-join
    form scans events twice and shuffles both join sides."""
    df = REG["retention"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []


def test_minhash_signature_no_join_no_agg_exchange(spark):
    """Signature is a narrow projection after the parallelism repartition —
    exactly one user exchange, no join."""
    df = REG["minhash_signature"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []
    # the parallelism repartition is the only exchange (formatted output may
    # list the node in both the tree and the details section)
    assert exchange_count(df) <= 2


def test_table_cache_lru_evicts_and_unpersists(spark, monkeypatch):
    """Cache bound (round-3 VERDICT #4): sweeping a second sf dir must
    evict (and unpersist) the first dir's entries, not accumulate."""
    from tomixpanel_spark.operators import base

    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    monkeypatch.setattr(base._TABLE_CACHE, "maxsize", 2)
    base.clear_table_cache()
    try:
        a = base.table(spark, "/root/testdata/sf0.001", "region")
        a.count()
        assert a.storageLevel.useMemory
        base.table(spark, "/root/testdata/sf0.001", "nation").count()
        # third entry from a "second sf dir" evicts region (LRU)
        base.table(spark, "/root/testdata/sf0.01", "region").count()
        assert len(base._TABLE_CACHE) == 2
        keys = set(base._TABLE_CACHE)
        assert not any(k[1:] == ("/root/testdata/sf0.001", "region") for k in keys)
        assert not a.storageLevel.useMemory  # evicted entry was unpersisted
    finally:
        base.clear_table_cache()
    assert len(base._TABLE_CACHE) == 0


def test_derived_artifact_gated_on_own_flag(spark, monkeypatch):
    """Artifact derived views must NOT cache under TOMIX_CACHE_TABLES
    alone (bench honesty) — only under TOMIX_CACHE_DERIVED."""
    from tomixpanel_spark.operators import base

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3).toDF("doc_id")

    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    monkeypatch.delenv("TOMIX_CACHE_DERIVED", raising=False)
    base.clear_table_cache()
    base.derived(spark, ("t_art",), build).count()
    base.derived(spark, ("t_art",), build).count()
    assert calls["n"] == 2  # rebuilt each time: tables flag doesn't apply
    monkeypatch.setenv("TOMIX_CACHE_DERIVED", "1")
    base.derived(spark, ("t_art",), build).count()
    base.derived(spark, ("t_art",), build).count()
    assert calls["n"] == 3  # cached on the second call
    # READ side is unconditional (round-11 verdict #8): flag off, the
    # already-materialized artifact still serves…
    monkeypatch.delenv("TOMIX_CACHE_DERIVED", raising=False)
    base.derived(spark, ("t_art",), build).count()
    assert calls["n"] == 3
    # …until clear_derived_cache evicts artifacts (fixtures untouched)
    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    base.derived(spark, ("t_fix",), build, kind="fixture").count()
    assert calls["n"] == 4
    base.clear_derived_cache()
    base.derived(spark, ("t_art",), build).count()
    assert calls["n"] == 5  # artifact evicted: rebuilt, not re-cached
    base.derived(spark, ("t_fix",), build, kind="fixture").count()
    assert calls["n"] == 5  # fixture survived the derived-cache clear
    base.clear_table_cache()


def test_evicted_artifacts_leave_artifact_keys(spark, monkeypatch):
    """An artifact the LRU bound evicts must leave _ARTIFACT_KEYS too;
    otherwise the set grows for the life of the session."""
    from tomixpanel_spark.operators import base

    monkeypatch.setenv("TOMIX_CACHE_DERIVED", "1")
    monkeypatch.setattr(base._TABLE_CACHE, "maxsize", 2)
    base.clear_table_cache()
    try:
        for i in range(10):
            base.derived(spark, ("t_sweep", i), lambda: spark.range(1), kind="artifact")
        assert len(base._TABLE_CACHE) == 2
        assert base._ARTIFACT_KEYS <= set(base._TABLE_CACHE)
        assert len(base._ARTIFACT_KEYS) == 2
    finally:
        base.clear_table_cache()
    assert not base._ARTIFACT_KEYS


def test_lru_order_eviction_and_memo():
    """base.Lru: least recently USED goes first, on_evict sees every
    entry that leaves (bound, drop, clear), maxsize <= 0 neither stores
    nor serves, and memo builds once per key."""
    from tomixpanel_spark.operators.base import Lru

    gone = []
    lru = Lru(2, on_evict=lambda k, v: gone.append((k, v)))
    lru.put("a", 1)
    lru.put("b", 2)
    assert lru.get("a") == 1  # a is now the most recent
    lru.put("c", 3)
    assert list(lru) == ["a", "c"] and gone == [("b", 2)]
    lru.drop("a")
    lru.drop("missing")
    assert gone[-1] == ("a", 1) and list(lru) == ["c"]
    lru.clear()
    assert gone[-1] == ("c", 3) and len(lru) == 0

    builds = []
    memo = Lru(4)
    for _ in range(3):
        assert memo.memo("k", lambda: builds.append(1) or 0) == 0
    assert builds == [1]  # a falsy value is still a hit

    memo.maxsize = 0
    assert memo.get("k") is None  # held, but not served
    assert memo.memo("k", lambda: 7) == 7 and memo.memo("k", lambda: 8) == 8
    assert memo.put("z", 9) == 9 and "z" not in memo
    off = Lru(0, on_evict=lambda k, v: gone.append((k, v)))
    off.put("x", 1)
    assert len(off) == 0 and gone[-1] == ("x", 1)


def test_landing_reuse_follows_cache_flag(spark, monkeypatch, tmp_path):
    """streaming_parity._landing: under TOMIX_CACHE_TABLES a second call
    serves the staged dir without staging again; without the flag every
    call re-stages and the previous tree is reclaimed."""
    import os

    from tomixpanel_spark.operators import streaming_parity as SP

    staged = []

    def stage(land):
        staged.append(land)
        open(os.path.join(land, "b0.parquet"), "w").close()

    monkeypatch.setenv("TOMIX_STREAM_SCRATCH", str(tmp_path))
    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    key = ("t_landing", str(tmp_path))
    first = SP._landing(spark, key, "t_land_", stage)
    assert SP._landing(spark, key, "t_land_", stage) == first
    assert staged == [first] and first.startswith(str(tmp_path))

    monkeypatch.delenv("TOMIX_CACHE_TABLES")
    second = SP._landing(spark, key, "t_land_", stage)
    assert second != first and staged == [first, second]
    assert not os.path.exists(os.path.dirname(first))
    assert os.listdir(second) == ["b0.parquet"]
    SP._LANDINGS.drop((spark.sparkContext.applicationId,) + key)
    assert not os.path.exists(second)


def test_cached_tables_split_only_above_size_floor(spark, monkeypatch):
    """TOMIX_CACHE_TABLES alone repartitions a cached table over
    CACHE_PARTS_MIN_BYTES into CACHE_PARTS slices; smaller tables keep
    their single scan partition."""
    import os

    from tests.conftest import SF_SMALL
    from tomixpanel_spark.operators import base

    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    base.clear_table_cache()
    try:
        sf = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")
        assert base.table(spark, sf, "lineitem").rdd.getNumPartitions() == 8
        assert base.table(spark, sf, "events").rdd.getNumPartitions() == 1
    finally:
        base.clear_table_cache()


def _keyed_joins(df) -> list[tuple[str, tuple[str, ...]]]:
    """(join strategy, left-key column names) for every equi-join in the
    executed plan: once ``df`` has run, AQE's initial and final plans."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        (j, tuple(re.sub(r"#\d+L?", "", k).strip() for k in keys.split(",")))
        for j, keys in re.findall(r"(\w+Join) \[([^\]]*)\]", plan)
    ]


def _last_decision(env: str):
    """Newest gate decision-log entry for one gate variable."""
    from tomixpanel_spark.operators.base import DECISIONS

    return [d for d in DECISIONS if d.gate == env][-1]


@pytest.mark.slow
def test_connected_components_local_matches_distributed(spark, monkeypatch):
    """The size-adaptive local union-find path and the distributed
    label-propagation loop must reach the identical fixed point."""
    import random

    from tomixpanel_spark.operators import identity as idmod

    rng = random.Random(7)
    rows = [
        (f"n{rng.randrange(120)}", f"n{rng.randrange(120)}") for _ in range(200)
    ] + [("iso1", "iso2")]
    edges = spark.createDataFrame(rows, "id_a string, id_b string")
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", str(10**9))
    local = {(r["node"], r["component"]) for r in idmod.connected_components(edges).collect()}
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "0")
    dist = {(r["node"], r["component"]) for r in idmod.connected_components(edges).collect()}
    assert local == dist
    assert ("iso1", "iso1") in local and ("iso2", "iso1") in local
    # ops introspection (scale_probe reads it): the distributed run's
    # decision-log entry carries its label-propagation round count; the
    # local run's entry has none
    rounds = _last_decision("TOMIX_CC_LOCAL_MAX").rounds
    assert rounds is not None
    assert 1 <= rounds <= idmod.MAX_ITERATIONS
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", str(10**9))
    idmod.connected_components(edges).collect()
    assert _last_decision("TOMIX_CC_LOCAL_MAX").rounds is None


@pytest.mark.slow
def test_connected_components_deep_chain_converges(spark, monkeypatch):
    """Pointer jumping (round-10): a diameter-200 chain must converge
    inside MAX_ITERATIONS (plain neighbor-min needs diameter rounds and
    previously RAISED here) — the O(log d) property at 100 TB identity
    graphs, pinned at a size the 20-round cap cannot brute-force."""
    from tomixpanel_spark.operators import identity as idmod

    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(200)],
        "id_a string, id_b string",
    )
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "0")
    out = {tuple(r) for r in idmod.connected_components(edges).collect()}
    assert out == {(f"n{i:04d}", "n0000") for i in range(201)}


def test_cc_probe_is_single_bounded_collect(spark, monkeypatch):
    """The r15 tier probe: limit(thr+1) both decides the tier and IS the
    collect. Exactly AT the gate the local path must still run (<=), one
    edge over it the distributed path must (the probe can return at most
    thr+1 rows, so equality proves completeness)."""
    from tomixpanel_spark.operators import identity as idmod

    edges = spark.createDataFrame(
        [(f"a{i}", f"b{i}") for i in range(5)], "id_a string, id_b string"
    )
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "5")  # == distinct count
    assert idmod.connected_components(edges).count() == 10  # 5 edges -> 10 nodes
    decision = _last_decision("TOMIX_CC_LOCAL_MAX")
    assert (decision.tier, decision.rows) == ("driver", 5)
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "4")  # one under
    idmod.connected_components(edges)
    assert _last_decision("TOMIX_CC_LOCAL_MAX").tier == "distributed"


def test_carry_ntoks_rides_the_pair_edges(spark):
    """near_dup_pairs(carry_ntoks=True) must (1) keep the pair set and
    jaccard scores bit-identical to the plain kernel and (2) stamp each
    side with exactly size(tokens(text)) of that doc — the signal the
    keep-best fold consumes instead of re-scanning the corpus. At the
    default gate this is the driver fold's carry."""
    _check_carry_ntoks(spark)


def test_carry_ntoks_rides_the_pair_edges_distributed(spark, monkeypatch):
    """The same carry on the Spark SQL chain (the fold gate at 0)."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    _check_carry_ntoks(spark)


def _check_carry_ntoks(spark):
    from pyspark.sql import functions as F

    from tomixpanel_spark.functions.text import tokens as tok
    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.dedup import near_dup_pairs

    docs = table(spark, SF_ORACLE, "documents")
    plain = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in near_dup_pairs(docs).collect()
    }
    carried = near_dup_pairs(docs, carry_ntoks=True).collect()
    assert {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in carried} == plain
    ntok = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(tok("text")).cast("bigint").alias("n")
        ).collect()
    }
    for r in carried:
        assert r["nt_a"] == ntok[r["doc_a"]] and r["nt_b"] == ntok[r["doc_b"]]


@pytest.mark.parametrize("verb", ("near_dup_pairs", "containment_pairs"))
def test_shingle_fold_gate_boundary(spark, monkeypatch, verb):
    """The shingle family's fold gate at cap-1 (Spark SQL chain), cap
    and cap+1 (driver fold) of ``TOMIX_TFIDF_DRIVER_FOLD_DOCS``: the
    same rows on every side, uncapped and with ``df_cap``."""
    from tomixpanel_spark.operators import dedup as dd
    from tomixpanel_spark.operators.base import table

    docs = table(spark, SF_ORACLE, "documents")
    n = docs.count()

    def rows(cap, df_cap):
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", str(cap))
        if verb == "near_dup_pairs":
            out = dd.near_dup_pairs(docs, df_cap=df_cap)
        else:
            out = dd.containment_pairs(spark, SF_ORACLE, df_cap=df_cap)
        tier = _last_decision("TOMIX_TFIDF_DRIVER_FOLD_DOCS").tier
        return tier, sorted(map(tuple, out.collect()))

    for df_cap in (None, 5):
        (t0, below), (t1, at), (t2, above) = (
            rows(cap, df_cap) for cap in (n - 1, n, n + 1)
        )
        assert (t0, t1, t2) == ("distributed", "driver", "driver")
        assert below and below == at == above, (verb, df_cap)


def test_capped_jaccard_rescored_over_full_sets(spark, monkeypatch):
    """``df_cap`` only drops candidates: docs 1 and 2 share three rare
    shingles and six hot ones (df 8 > cap 5), and on both tiers score
    their exact Jaccard over the full sets, 9/10, not 3/16 over the
    capped lists. A repeated id sends the corpus to the chain, whose
    verify join fans out over both rows of the id (a row paired with
    itself scores 1.0): the default gate gives those rows too, and its
    decision log names the tier that ran, once."""
    from tomixpanel_spark.operators.base import DECISIONS
    from tomixpanel_spark.operators.dedup import near_dup_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, base + " iota kappa lambda"), (2, base + " iota kappa lambda mu")]
    rows += [(i, base) for i in range(10, 16)]
    hot = spark.createDataFrame(rows, "doc_id long, text string")
    rows = [(1, base + " iota"), (1, base + " iota kappa"), (2, base + " iota kappa lambda")]
    repeated = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for tier in ("0", "25000"):  # the chain, then the default gate
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", tier)
        pairs = [tuple(r) for r in near_dup_pairs(hot, df_cap=5).collect()]
        assert pairs == [(1, 2, 0.9)], tier
        DECISIONS.clear()
        got[tier] = sorted(map(tuple, near_dup_pairs(repeated, df_cap=5).collect()))
        tiers = [d.tier for d in DECISIONS if d.gate == "TOMIX_TFIDF_DRIVER_FOLD_DOCS"]
        assert tiers == ["distributed"], tier
    assert (1, 1, 1.0) in got["0"]
    assert got["25000"] == got["0"]


def test_shingle_fold_pair_budget_keeps_the_chain(spark, monkeypatch):
    """The fold expands at most ``FOLD_PAIR_BUDGET`` pairs; past it the
    Spark chain answers, with the same rows. Eight docs share the six
    base shingles and docs 1 and 2 three more: uncapped, the postings
    hold 6 x 28 + 3 = 171 pairs; under ``df_cap=5`` the capped lists
    hold 3 and the recount looks up doc 1's six hot shingles."""
    from tomixpanel_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, base + " iota kappa lambda"), (2, base + " iota kappa lambda mu")]
    rows += [(i, base) for i in range(10, 16)]
    hot = spark.createDataFrame(rows, "doc_id long, text string")
    copies = [(x, y, 1.0) for x in range(10, 16) for y in range(x + 1, 16)]
    want = {None: [(1, 2, 0.9), *copies], 5: [(1, 2, 0.9)]}
    calls = []
    real = dd._jaccard_pairs_from_shingles

    def chain(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(dd, "_jaccard_pairs_from_shingles", chain)
    for df_cap, budget, chain_runs in (
        (None, 170, True), (None, 171, False), (5, 5, True), (5, 6, False)
    ):
        monkeypatch.setattr(dd, "FOLD_PAIR_BUDGET", budget)
        calls.clear()
        got = sorted(map(tuple, dd.near_dup_pairs(hot, df_cap=df_cap).collect()))
        assert bool(calls) is chain_runs, (df_cap, budget)
        assert got == want[df_cap], (df_cap, budget)


def test_carry_ntoks_rejects_df_cap(spark):
    """The token-count carry exists only on the uncapped kernel: asking
    for both is a caller error, raised as ValueError (not an assert,
    which ``python -O`` strips)."""
    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.dedup import near_dup_pairs

    docs = table(spark, SF_ORACLE, "documents")
    with pytest.raises(ValueError, match="carry_ntoks"):
        near_dup_pairs(docs, df_cap=100, carry_ntoks=True)


# keep_per_cluster fixture: four components, one per policy corner.
#   1-2-3 (triangle): each node sits in two edges and must come out once,
#       with its own signal from either endpoint position;
#   10-11-12: node 10's signal is NULL, smallest as in Spark's struct
#       ordering: it loses to -5 and -7 under largest=True and wins
#       under largest=False (a NULL read as 0 fails both ways);
#   20..24 (chain): two nodes tie on the top and two on the bottom
#       signal, so the tie goes to the lower id, not the component label;
#   29..33 (star on 30): node 30's edge attr is NOT functional (5, 4, 8
#       and 3 on its four edges), so its signal is the max, 8, on both
#       tiers; any other value changes the winner either way.
_KPC_SIGNAL = {
    1: 10, 2: 20, 3: 30,
    10: None, 11: -5, 12: -7,
    20: 5, 21: 9, 22: 1, 23: 9, 24: 1,
    29: 7, 30: 8, 31: 6, 32: 7, 33: 6,
}
_KPC_EDGES = [
    (1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30), (1, 2, 10, 20),
    (10, 11, None, -5), (11, 12, -5, -7),
    (20, 21, 5, 9), (21, 22, 9, 1), (22, 23, 1, 9), (23, 24, 9, 1),
    (29, 30, 7, 5), (30, 31, 4, 6), (30, 32, 8, 7), (30, 33, 3, 6),
]
_KPC_COMPONENTS = [[1, 2, 3], [10, 11, 12], [20, 21, 22, 23, 24], [29, 30, 31, 32, 33]]


@pytest.mark.parametrize("largest", [True, False])
@pytest.mark.parametrize("signal", ["none", "attrs", "node_signal"])
def test_keep_per_cluster_tiers_agree(spark, monkeypatch, largest, signal):
    """identity.keep_per_cluster gives identical (winners, drops) on the
    driver and distributed CC tiers, at TOMIX_CC_LOCAL_MAX = 0, n-1, n
    and n+1 distinct edges, and both equal the policy computed by hand:
    largest (or smallest) signal per component, NULL smallest, ties to
    the lowest id, the lowest id when there is no signal."""
    from pyspark.sql import functions as F

    from tomixpanel_spark.operators.identity import keep_per_cluster

    edges = spark.createDataFrame(
        _KPC_EDGES, "id_a long, id_b long, nt_a long, nt_b long"
    )
    n = len(set(_KPC_EDGES))
    kwargs = {}
    if signal == "attrs":
        kwargs["attrs"] = ("nt_a", "nt_b")
    elif signal == "node_signal":
        by_node = F.create_map(
            *[x for k, v in _KPC_SIGNAL.items()
              for x in (F.lit(k), F.lit(v).cast("long"))]
        )
        kwargs["node_signal"] = (_KPC_SIGNAL.get, by_node[F.col("node")])

    def policy(members):
        if signal == "none":
            return min(members)
        present = [m for m in members if _KPC_SIGNAL[m] is not None]
        if largest or not present:
            top = max((_KPC_SIGNAL[m] for m in present), default=None)
        else:
            top = None if len(present) < len(members) else min(
                _KPC_SIGNAL[m] for m in present
            )
        return min(m for m in members if _KPC_SIGNAL[m] == top)

    keep = [policy(c) for c in _KPC_COMPONENTS]
    want_winners = {
        (k, None if signal == "none" else _KPC_SIGNAL[k], len(c))
        for c, k in zip(_KPC_COMPONENTS, keep)
    }
    want_drops = {m for c in _KPC_COMPONENTS for m in c} - set(keep)

    for cap, tier in [(0, "distributed"), (n - 1, "distributed"),
                      (n, "driver"), (n + 1, "driver")]:
        monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", str(cap))
        winners, drops = keep_per_cluster(edges, largest=largest, **kwargs)
        decision = _last_decision("TOMIX_CC_LOCAL_MAX")
        assert (decision.tier, decision.rows) == (tier, None if cap == 0 else n)
        assert set(winners.columns) == {"keep", "signal", "size"}
        got = {(r["keep"], r["signal"], r["size"]) for r in winners.collect()}
        assert got == want_winners, (cap, tier)
        assert sorted(r["node"] for r in drops.collect()) == sorted(want_drops), cap


def test_decontam_broadcasts_eval_side(spark):
    """The held-out set is ~1% of shingle rows — it must broadcast, or at
    corpus scale contamination becomes a full shuffle join."""
    df = REG["decontam_overlap"].fn(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_decontam_falls_back_to_shuffle_join_above_gate(spark, monkeypatch):
    """An eval set too big for executor memory must NOT broadcast — the
    size gate flips the plan to a shuffle join (with runtime bloom-filter
    injection enabled for map-side pruning)."""
    monkeypatch.setenv("TOMIX_DECONTAM_BCAST_DOCS", "0")
    df = REG["decontam_overlap"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert "BroadcastHashJoin" not in joins
    assert any(j in ("SortMergeJoin", "ShuffledHashJoin") for j in joins)
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"


def test_mixture_rebalance_no_corpus_shuffle(spark):
    """Derived keep-rates must come from the tiny per-bucket count
    aggregate broadcast back to the corpus — the corpus itself is only
    scanned and filtered, never exchanged (a shuffle join on bucket
    would funnel each language's whole corpus through few tasks)."""
    df = REG["mixture_rebalance"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert "BroadcastHashJoin" in joins
    assert "SortMergeJoin" not in joins and "ShuffledHashJoin" not in joins
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every hash-partitioned exchange lives INSIDE the broadcast build
    # and carries |buckets| rows (the count agg appears once per branch:
    # counts + the min-over-counts recompute) — never the corpus
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_embedding_decontam_gate_flips_to_cogroup(spark, monkeypatch):
    """Below the held-out-size gate the eval matrix rides the UDF closure
    (one mapInPandas, no shuffle); above it the plan must flip to the
    two-sided blocked cogroup instead of trusting the caller — same
    answers either way."""
    closure = REG["embedding_decontam"].fn(spark, SF_ORACLE)
    plan = closure._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan

    monkeypatch.setenv("TOMIX_EMB_BCAST_VECS", "0")
    cogrouped = REG["embedding_decontam"].fn(spark, SF_ORACLE)
    plan2 = cogrouped._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan2
    assert sorted(map(tuple, cogrouped.collect())) == sorted(
        map(tuple, closure.collect())
    )


def test_embedding_decontam_keeps_id_collisions_on_both_gate_sides(
    spark, monkeypatch
):
    """Train and held-out ids are INDEPENDENT spaces: a numeric collision
    is still a real (train, eval) pair. The closure path once inherited
    the self-search id-exclusion mask and silently dropped such pairs
    while the cogroup path kept them — the answer depended on held-out
    size."""
    from tomixpanel_spark.operators.similarity import embedding_decontam_pairs

    train = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    held = spark.createDataFrame([(7, [1.0, 0.0])], "vec_id long, embedding array<double>")
    expect = [(7, 7, 1_000_000)]
    got_closure = [
        (r["train_id"], r["eval_id"], r["sim_e6"])
        for r in embedding_decontam_pairs(train, held, threshold_e6=900_000).collect()
    ]
    assert got_closure == expect
    monkeypatch.setenv("TOMIX_EMB_BCAST_VECS", "0")
    got_cogroup = [
        (r["train_id"], r["eval_id"], r["sim_e6"])
        for r in embedding_decontam_pairs(train, held, threshold_e6=900_000).collect()
    ]
    assert got_cogroup == expect


def test_tfidf_df_is_broadcast_join_not_token_window(spark, monkeypatch):
    """On the DISTRIBUTED path (forced by zeroing the driver-fold gate),
    document frequency must come from a map-side-partial
    groupBy(token).count() broadcast-joined back to tf — NEVER a
    COUNT(*) OVER (PARTITION BY token) window, which funnels every tf
    row of a hot token ("the") into one task's sort at corpus scale."""
    from tomixpanel_spark.operators import base

    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    base._COUNTS.clear()
    df = REG["tfidf_keywords"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in join_strategies(df)
    # and the tokenize+tf step is the fused Arrow stage, not explode+agg
    assert "MapInPandas" in plan or "Scan ExistingRDD" in plan


def test_tfidf_driver_fold_is_shuffle_free(spark):
    """The default small-corpus path is the one-pass driver fold: the
    returned result is a pre-computed local relation (the Arrow pass +
    fold already ran) — no exchange, no join, no window, no aggregate
    left in the result plan."""
    df = REG["tfidf_keywords"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert join_strategies(df) == []
    assert exchange_count(df) == 0
    assert "Window" not in plan and "HashAggregate" not in plan


def test_tfidf_paths_agree(spark, monkeypatch):
    """Driver-fold and distributed plans are ONE operator: identical rows
    on the same corpus."""
    from tomixpanel_spark.operators import base

    fold = REG["tfidf_keywords"].fn(spark, SF_ORACLE).collect()
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    base._COUNTS.clear()
    dist = REG["tfidf_keywords"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, dist))


def test_cms_single_token_lineage(spark):
    """Sketch cells and vocab probes must both derive from ONE
    materialized per-token count aggregate (lazy localCheckpoint — NOT
    persist, which would leak into the session CacheManager and get
    substituted into other queries' plans) — the raw-stream
    double-tokenize shape scans and explodes the corpus twice. (Gate
    forced to the DISTRIBUTED plan — the registered query driver-folds
    at this corpus size.)"""
    import os

    os.environ["TOMIX_TFIDF_DRIVER_FOLD_DOCS"] = "0"
    try:
        df = REG["cms_heavy_hitters"].fn(spark, SF_ORACLE)
    finally:
        os.environ.pop("TOMIX_TFIDF_DRIVER_FOLD_DOCS", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both branches read the checkpointed tok_counts RDD; the corpus
    # parquet scan is hidden inside the checkpoint build, so the final
    # plan shows only ExistingRDD scans and NO parquet scan
    assert plan.count("Scan ExistingRDD") >= 2
    assert "FileScan parquet" not in plan
    assert "InMemoryTableScan" not in plan  # no CacheManager leak


def test_lsh_keep_list_single_shingle_lineage(spark):
    """Signatures and both exact-verify sides must share one materialized
    shingle-array projection (the production signatures artifact; lazy
    localCheckpoint, see test_cms_single_token_lineage) — without it the
    corpus shingles three times in one lineage."""
    df = REG["lsh_keep_list"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") >= 3


def test_driver_window_rotation_policy():
    """The external correctness gate samples the FIRST WINDOW_SIZE
    registry entries. The ordering is DERIVED from the machine-readable
    rotation log (operators/__init__.py _LAST_EXTERNAL, round-7 advice):
    never-checked queries first (gate evasion would be ordering a new
    query out of the window), canaries pinned, then staleness-first —
    so every query is externally re-verified on a fixed cadence."""
    import json
    import glob
    import os

    from tomixpanel_spark.operators import (
        _CANARIES,
        _LAST_EXTERNAL,
        WINDOW_SIZE,
        ordered_names,
    )

    from tomixpanel_spark.operators import changed_since_green

    names = list(REG)
    assert names == ordered_names()  # registry order IS the derived order
    window = names[:WINDOW_SIZE]
    # (a) every never-checked query and both canaries sit inside the window
    never = {q for q, r in _LAST_EXTERNAL.items() if r == 0}
    assert (never | set(_CANARIES)) <= set(window)
    # (b) the window admits changed-since-green rows before unchanged
    # ones, and is staleness-first within each group: a row outside the
    # window may only be staler than one inside it if the inside row is
    # changed-since-green and the outside row is not (canaries exempt).
    changed = changed_since_green()
    for grp in (changed, set(names) - changed):
        grp_window = [q for q in window if q in grp and q not in _CANARIES]
        if not grp_window:
            continue
        inside = max(_LAST_EXTERNAL[q] for q in grp_window)
        outside = [
            q
            for q in names[WINDOW_SIZE:]
            if q in grp and _LAST_EXTERNAL[q] < inside
        ]
        assert not outside, f"staler than the window yet rotated out: {outside}"
    # (b2) no window slot is wasted on an unchanged row while a changed
    # row waits outside (the round-11 verdict's rotation rule)
    changed_out = [q for q in names[WINDOW_SIZE:] if q in changed]
    unchanged_in = [
        q for q in window if q not in changed and q not in _CANARIES
        and _LAST_EXTERNAL[q] > 0
    ]
    assert not (changed_out and unchanged_in), (
        f"changed-since-green rows outside the window ({changed_out[:5]}…) "
        f"while unchanged rows occupy slots ({unchanged_in[:5]}…)"
    )
    # (c) the log itself is consistent with the driver's artifacts: no
    # round claimed in the log exceeds rounds that exist on disk, and
    # every green row the log claims matches the recorded file
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for q, r in _LAST_EXTERNAL.items():
        if r == 0:
            continue
        path = os.path.join(repo, f"CORRECTNESS_r{r:02d}.json")
        assert os.path.exists(path), f"log claims r{r} for {q} but no file"
        rec = json.load(open(path)).get(q)
        assert rec and rec.get("rows_match") and rec.get("hash_match"), (
            f"rotation log claims {q} green in r{r}, file disagrees"
        )


def test_rotation_changed_code_outranks_staleness():
    """Round-11 verdict #7: a row whose implementation changed since its
    last external green must jump the staleness queue. Synthetic case —
    under pure staleness 'rewritten' (r10, code changed after its green)
    would sit BEHIND every r9 row and could rotate out of a small
    window; the ordering rule must pull it ahead of unchanged rows."""
    from tomixpanel_spark.operators import _derive_order

    log = {f"old{i}": 9 for i in range(4)} | {"rewritten": 10, "fresh": 11}
    # no change info -> pure staleness: rewritten is 5th, outside a
    # window of 4 — this is the failure mode the rule exists to fix
    plain = _derive_order(log, (), set())
    assert plain.index("rewritten") == 4
    # with the change recorded, rewritten leads the queue
    bumped = _derive_order(log, (), {"rewritten"})
    assert bumped.index("rewritten") == 0
    assert bumped[1:5] == ["old0", "old1", "old2", "old3"]
    # never-checked rows and canaries still outrank everything
    log2 = log | {"brand_new": 0}
    order2 = _derive_order(log2, ("old3",), {"rewritten"})
    assert order2[:3] == ["brand_new", "old3", "rewritten"]


def test_dsir_weights_zero_target_corpus(spark, tmp_path):
    """A corpus with NO target-language (lang='en') bigrams must yield
    all-zero weights, not ZeroDivisionError: the driver-side exact
    ratio arithmetic divides by the target total, which the old
    all-Spark `div` (and the DuckDB oracle's NULL-on-div-zero +
    coalesce) turned into zero weights."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma", "fr"), (2, "delta epsilon", "de")],
        "doc_id long, text string, lang string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in
            REG["dsir_weights"].fn(spark, str(tmp_path)).collect()}
    assert rows[1]["dsir_weight_e6"] == 0
    assert rows[2]["dsir_weight_e6"] == 0
    assert rows[1]["n_bigrams"] == 2 and rows[2]["n_bigrams"] == 1


def test_dsir_scoring_pass_has_no_doc_level_shuffle(spark):
    """dsir_weights' scale contract: the per-document scoring pass is a
    narrow fold against one broadcast ratio map — no exchange keyed on
    doc_id anywhere in the plan (the bucket-table aggregates are the
    only shuffles, and they carry <= 1024-row bucket ids)."""
    import re

    df = REG["dsir_weights"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every doc_id exchange must be ensure_parallel's defensive
    # REPARTITION_BY_NUM of the 1-partition toy scan — never a
    # computation shuffle (ENSURE_REQUIREMENTS) keyed on doc_id
    for m in re.finditer(r"hashpartitioning\(doc_id[^\n]*", plan):
        assert "REPARTITION_BY_NUM" in m.group(0), m.group(0)
    assert "BroadcastExchange" in plan  # the ratio map rides a broadcast


def test_dsir_bucket_formula_matches_word_hash_spec(spark):
    """dsir_weights' PRODUCTION bucket expression (_dsir_word_hashes +
    _dsir_bucket_col — the exact columns the query builds) matches an
    independent Python mirror of the declared spec — h(w) =
    int(md5(utf8(w))[:8 hex], 16), compose (h_prev * P + h_cur) mod B,
    the same formula the DuckDB oracle computes per DISTINCT word — on
    a handful of adversarial docs (exotic whitespace, unicode,
    single-word, empty)."""
    import hashlib

    from tomixpanel_spark.operators.textops import (
        DSIR_BUCKETS,
        DSIR_HASH_PRIME,
        _dsir_bucket_col,
        _dsir_word_hashes,
    )
    from tomixpanel_spark.functions.text import WHITESPACE_CHARS, tokens

    texts = [
        "the cat sat on the mat",
        "café naïve 中文 words",
        "one",
        "",
        "a\tb\nc\x0bd\x0ce f",
    ]
    tbl = str.maketrans(WHITESPACE_CHARS, " " * len(WHITESPACE_CHARS))

    def py_buckets(t):
        ws = [w for w in t.translate(tbl).split(" ") if w]
        hs = [
            int(hashlib.md5(w.encode("utf-8")).hexdigest()[:8], 16)
            for w in ws
        ]
        return [
            (a * DSIR_HASH_PRIME + b) % DSIR_BUCKETS
            for a, b in zip(hs, hs[1:])
        ]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bks = _dsir_bucket_col(_dsir_word_hashes(tokens("text")))
    got = {r["doc_id"]: r["b"] for r in df.select("doc_id", bks.alias("b")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_buckets(t), (i, t)


def test_streaming_family_bench_guard():
    """The bench JSON must carry a streaming-family verdict against the
    12 s idle-host budget (round-11 verdict #6): pass under budget,
    exceeded over it, incomplete when a family row is missing (a
    narrowed run must not fake a pass)."""
    import bench

    fam = {k: 1.5 for k in bench.STREAMING_FAMILY}
    ok = bench.streaming_family_guard({**fam, "tpch_q1": 50.0})
    assert ok["streaming_guard"] == "pass"
    assert ok["streaming_family_s"] == 9.0  # other rows don't count
    slow = bench.streaming_family_guard({k: 2.5 for k in bench.STREAMING_FAMILY})
    assert slow["streaming_guard"] == "exceeded"
    part = bench.streaming_family_guard({"streaming_sketch_parity": 0.1})
    assert part["streaming_guard"] == "incomplete"


def test_rotation_recorded_hashes_regenerate_cleanly():
    """The per-query recorded code hashes (_CHECKED_SRC) must match a
    fresh regeneration from the round-marker commits — catches editing
    _LAST_EXTERNAL or a ROTATION_DEPS list without rerunning
    tools/update_rotation.py (which would silently mis-rank the
    window)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "update_rotation.py"),
         "--check"],
        capture_output=True,
        text=True,
        cwd=repo,
    )
    assert p.returncode == 0, f"rotation hash drift:\n{p.stdout}{p.stderr}"


def test_slow_tier_doc_matches_conftest():
    """GATES.md §Test tiers must list exactly the modules conftest marks
    slow (and each must exist) — the tier doc is CI-greppable like the
    env-gate table, so the fast signal can't silently drift."""
    import os
    import re

    from tests.conftest import SLOW_MODULES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    doc = open(os.path.join(repo, "GATES.md")).read()
    section = doc.split("## Test tiers", 1)
    assert len(section) == 2, "GATES.md lost its Test tiers section"
    documented = set(re.findall(r"\| `(test_[a-z_]+)` \|", section[1]))
    assert documented == SLOW_MODULES, (
        f"doc vs conftest drift: only-doc={documented - SLOW_MODULES} "
        f"only-conftest={SLOW_MODULES - documented}"
    )
    for mod in SLOW_MODULES:
        assert os.path.exists(
            os.path.join(repo, "tests", f"{mod}.py")
        ), f"{mod} listed slow but has no file"


def test_rotation_hash_ignores_comments_tracks_code():
    """The rotation hash must be comment-insensitive: a `#` comment edit
    is not a rewrite and must not bump a module's queries ahead of
    genuinely stale rows (it evicted 10 r11-stale rows from the r14
    window before this fix). Any literal or structural change — including
    docstrings and oracle SQL strings — must still flip it."""
    from tomixpanel_spark.operators import normalized_source

    base = b"X = 1\ndef f(a):\n    return a + X\n"
    commented = b"# a comment\nX = 1\ndef f(a):  # trailing\n    return a + X\n"
    reformatted = b"X = 1\n\n\ndef f(a):\n    return (a + X)\n"
    assert normalized_source(base) == normalized_source(commented)
    assert normalized_source(base) == normalized_source(reformatted)
    assert normalized_source(base) != normalized_source(b"X = 2\ndef f(a):\n    return a + X\n")
    # docstrings are literals -> they count as code
    assert normalized_source(b"def f():\n    'spec A'\n") != normalized_source(
        b"def f():\n    'spec B'\n"
    )
    # non-Python content falls back to raw bytes
    assert normalized_source(b"\x00not python") == b"\x00not python"


def test_rotation_historical_hash_fails_hard_on_missing_path():
    """A path absent at a VALID commit is a hard error by default — a
    renamed rotation dependency must not silently under-hash and pin
    changed_since_green (round-13 advice); --allow-missing opts into the
    old warn-and-skip behavior explicitly."""
    import os
    import subprocess
    import sys

    import pytest

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import update_rotation as ur
    finally:
        sys.path.pop(0)

    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True, text=True
    ).stdout.strip()
    with pytest.raises(RuntimeError, match="not present at"):
        ur.historical_hash(head, ["no/such/file.py"])
    # explicit opt-in still hashes the remaining files
    h = ur.historical_hash(
        head, ["no/such/file.py", "bench.py"], allow_missing=True
    )
    assert h == ur.historical_hash(head, ["bench.py"])
    # and a bad commit object is still commit-level, not path-level
    with pytest.raises(RuntimeError, match="bad or unreachable commit"):
        ur.historical_hash("0" * 40, ["bench.py"], allow_missing=True)


def test_ensure_parallel_skips_already_split_sources(spark):
    """The defensive repartition must be CONDITIONAL: a 1-partition toy
    scan spreads to defaultParallelism, but an already-split source (any
    real corpus) must pass through with NO added shuffle — the old
    unconditional form re-shuffled the entire input at any scale."""
    from tomixpanel_spark.operators.base import ensure_parallel
    from tomixpanel_spark.plans.audit import exchange_count

    serial = spark.range(100).coalesce(1).toDF("doc_id")
    spread = ensure_parallel(serial, "doc_id")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    already = spark.range(1000).repartition(16).toDF("doc_id")
    passed = ensure_parallel(already, "doc_id")
    assert passed is already  # no new plan node, let alone a shuffle
    assert exchange_count(ensure_parallel(already)) == exchange_count(already)


def test_hypertable_rollup_single_scan_expand(spark):
    """Both grains must come from ONE raw scan via GROUPING SETS (Expand
    before the partial agg) — the union-of-lineages form reads the raw
    table twice because exchange reuse does not fire across the two
    aggregates."""
    df = REG["hypertable_rollup"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert "Union" not in plan


def test_salted_join_partitions_on_key_and_salt(spark):
    """With broadcast off (the large-x-large regime salting exists for),
    the join exchange must hash on (event_type, __salt) — 8 reducers per
    hot key instead of one."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REG["salted_join_stats"].fn(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan
        joins = join_strategies(df)
        assert joins and "BroadcastHashJoin" not in joins
        import re

        m = re.search(r"hashpartitioning\(event_type[^)]*__salt", plan)
        assert m, "join exchange does not partition on (event_type, __salt)"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stratified_sample_is_narrow(spark):
    """Deterministic sampling is a pure projection+filter: no join, at
    most the one exchange AQE may report for the final collect."""
    df = REG["stratified_sample"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []
    assert exchange_count(df) == 0


def test_gopher_repetition_is_narrow_and_matches_spec(spark, tmp_path):
    """The top n-gram repetition features are pure narrow folds (no
    join, no exchange beyond ensure_parallel's defensive repartition —
    the gopher_quality shape), and the fold's tie rule matches the
    declared spec (lexicographically smallest max-count gram) on a
    crafted tie: 'b b a a' has bigram counts {'b b':1, 'b a':1,
    'a a':1} — top bigram must be 'a a'."""
    import re

    df = REG["gopher_repetition"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"hashpartitioning\(doc_id[^\n]*", plan):
        assert "REPARTITION_BY_NUM" in m.group(0), m.group(0)
    assert "Window" not in plan

    from tomixpanel_spark.operators.textops import gopher_repetition  # noqa: F401

    import pyspark.sql.functions as F  # noqa: F401

    tie = spark.createDataFrame(
        [(1, "b b a a", "en")], "doc_id long, text string, lang string"
    )
    tie.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    [row] = REG["gopher_repetition"].fn(spark, str(tmp_path)).collect()
    # top bigram 'a a': 1 occurrence x 2 chars / 4 total chars = 0.5
    assert row["top2_char_frac_e6"] == 500_000
    # top trigram: all counts 1, smallest gram 'a a a'? grams are
    # 'b b a','b a a' -> smallest 'b a a', 3 chars -> 3/4
    assert row["top3_char_frac_e6"] == 750_000
    assert row["top4_char_frac_e6"] == 1_000_000
    assert not row["keep"]  # 1.0 > 0.16 on the 4-gram


def test_segment_dedup_no_window_over_hash(spark):
    """First occurrence MUST be the min(struct) hash aggregate, never a
    window over the segment hash: a boilerplate segment repeated in
    millions of documents would sort every occurrence in ONE task under
    a window, while the aggregate's map-side partials keep hot hashes
    cheap. Also pin the sort-free top shape: the query ends in hash
    aggregates and joins only."""
    df = REG["segment_dedup"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_ann_ivf_q_single_corpus_pass(spark):
    """Scoring must be the ONE fused mapInPandas pass (quantize + assign
    + integer matmul + local top-k) — no join against a collected corpus
    and no extra corpus exchange before the final top-k window."""
    df = REG["ann_ivf_q"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_stage_checkpoint_durable_mode(spark, monkeypatch, tmp_path):
    """stage_checkpoint must honor TOMIX_CHECKPOINT_DIR: default mode
    truncates lineage via executor-local localCheckpoint (fast, not
    fault-tolerant); with the env set it must become a RELIABLE
    checkpoint rooted in that directory, so on a cluster an executor
    loss re-reads durable blocks instead of failing the query. Results
    identical in both modes."""
    import os

    from tomixpanel_spark.operators.base import stage_checkpoint

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    monkeypatch.delenv("TOMIX_CHECKPOINT_DIR", raising=False)
    local = stage_checkpoint(df, eager=True)
    assert local.rdd.getCheckpointFile() is None  # local, not reliable

    ck = tmp_path / "ck"
    monkeypatch.setenv("TOMIX_CHECKPOINT_DIR", str(ck))
    durable = stage_checkpoint(df, eager=True)
    # reliable mode: checkpoint dir adopted and durable rdd-* blocks
    # written under it (localCheckpoint writes nothing to disk here)
    assert str(spark.sparkContext.getCheckpointDir() or "").rstrip("/").endswith(
        str(ck).lstrip("/").split("/")[-1]
    ) or str(ck) in str(spark.sparkContext.getCheckpointDir())
    written = [p for p in os.listdir(ck)] if os.path.isdir(ck) else []
    assert written, "no durable checkpoint data written under TOMIX_CHECKPOINT_DIR"
    assert sorted(map(tuple, durable.collect())) == sorted(map(tuple, local.collect()))


def test_tfidf_fused_tokenize_no_token_stream_shuffle(spark):
    """The tokenize+tf step must be the fused Arrow mapInPandas stage
    (per-doc Counter -> sparse tf rows): the plan shows a MapInPandas
    node and NO (doc_id, token) hash-aggregate exchange upstream of the
    checkpoint — the explode+agg form shuffled every token occurrence."""
    from tests.conftest import SF_ORACLE
    from tomixpanel_spark.operators.textops import tokenize_tf
    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.plans.audit import exchange_count

    tf = tokenize_tf(table(spark, SF_ORACLE, "documents"))
    plan = tf._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert exchange_count(tf) == 0  # narrow: no shuffle before the tf table
    assert "Generate" not in plan  # no explode of the token stream


@pytest.mark.parametrize(
    "query", ["tfidf_keywords", "bpe_token_count", "bpe_encode", "chunk_by_bpe"]
)
def test_tfidf_vocab_gate_flips_to_shuffle_join(spark, monkeypatch, query):
    """Above the vocabulary cap (shared by tfidf and the bpe verbs) the
    vocab side must NOT broadcast, and neither may the probe side: the
    gate pins a shuffle hash join on the vocab key (mirroring decontam's
    held-out gate), with runtime bloom-filter injection enabled for
    map-side pruning."""
    from tests.conftest import SF_ORACLE
    from tomixpanel_spark.operators import base
    from tomixpanel_spark.plans.audit import join_strategies

    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    monkeypatch.setenv("TOMIX_TFIDF_BCAST_VOCAB", "0")
    base._COUNTS.clear()
    df = REG[query].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    if query == "tfidf_keywords":
        assert "BroadcastHashJoin" not in joins
    assert any(j in ("SortMergeJoin", "ShuffledHashJoin") for j in joins)
    df.collect()
    key = ("token",) if query == "tfidf_keywords" else ("word",)
    on_key = [j for j, keys in _keyed_joins(df) if keys == key]
    assert on_key and "BroadcastHashJoin" not in on_key, _keyed_joins(df)


def test_tpch_q6_pushdown_and_pruning(spark):
    """Q6 is the pushdown showcase: every predicate reaches the parquet
    scan and only the three consumed columns survive pruning — a scan
    reading more would multiply IO 4x at 100 TB for a 1-row answer."""
    df = REG["tpch_q6"].fn(spark, SF_ORACLE)
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity" in pushed
    assert "GreaterThanOrEqual(l_discount" in pushed
    cols = scan_columns(df)
    assert "l_orderkey" not in cols and "l_tax" not in cols
    assert join_strategies(df) == []


def test_media_resize_and_video_are_narrow(spark):
    """The multimodal resize / frame-sample verbs are pure Arrow map
    stages over the doc ids: zero exchanges, zero joins — media bytes
    never cross a shuffle (the property that makes the modality viable
    at 100 TB payload volume)."""
    for name in ("media_image_resize", "media_video_frames"):
        df = REG[name].fn(spark, SF_ORACLE)
        assert join_strategies(df) == [], name
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the only allowed exchange is ensure_parallel's explicit source
        # repartition — never a shuffle the plan REQUIRES (agg/join/sort)
        assert "ENSURE_REQUIREMENTS" not in plan, name
        assert "MapInPandas" in plan, name


def test_ann_pq_q_single_corpus_pass(spark):
    """PQ scoring must stay the ONE fused mapInPandas pass (quantize +
    per-subspace encode + ADC LUT sum + local top-k): no corpus join, no
    extra corpus exchange before the final top-k window — the compressed
    -index property that makes PQ the 100 TB layout."""
    df = REG["ann_pq_q"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_label_centroids_index_sized_shuffle(spark):
    """The elementwise vector aggregate must be explode -> ONE hash
    aggregate whose map-side partials collapse each task to |labels| x D
    rows — never a join or a second required exchange (the shuffle is
    index-sized at any corpus size)."""
    df = REG["label_centroids"].fn(spark, SF_ORACLE)
    assert join_strategies(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ENSURE_REQUIREMENTS") == 1
    assert "HashAggregate" in plan and "Window" not in plan


def test_bm25_build_side_broadcasts(spark, monkeypatch):
    """Above the driver-fold gate, BM25's build side (query terms x df x
    totals) is query-vocab-sized and must broadcast; the corpus tf table
    is probed ONCE — a shuffle join on token would exchange every
    posting of every term instead of only the query terms' postings."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["bm25_topk"].fn(spark, SF_ORACLE)
    joins = join_strategies(df)
    assert "BroadcastHashJoin" in joins
    assert "SortMergeJoin" not in joins and "ShuffledHashJoin" not in joins


def test_bm25_paths_agree(spark, monkeypatch):
    """The driver fold and the distributed broadcast-probe plan must
    produce identical rows (same gate contract as tfidf's two paths)."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["bm25_topk"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    dist = {tuple(r) for r in REG["bm25_topk"].fn(spark, SF_ORACLE).collect()}
    assert fold == dist and len(fold) > 0


def test_simhash_paths_agree(spark, monkeypatch):
    """The simhash / simhash_pairs driver folds and the distributed lane
    -aggregate + banded-join plans must produce identical rows (the same
    gate contract as tfidf's and bm25's two paths)."""
    for name in ("simhash", "simhash_pairs"):
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
        fold = {tuple(r) for r in REG[name].fn(spark, SF_ORACLE).collect()}
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
        dist = {tuple(r) for r in REG[name].fn(spark, SF_ORACLE).collect()}
        assert fold == dist and len(fold) > 0, name


def test_substring_dup_no_text_shuffle(spark, monkeypatch):
    """Exact substring-window discovery must shuffle the 64-bit window
    HASH, never the window text: the exchange carries fixed-width longs.
    Also no window function and no cartesian anywhere. (Gate forced to
    the DISTRIBUTED plan — the registered query driver-folds at this
    corpus size.)"""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["substring_dup_stats"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Cartesian" not in plan
    import re
    # every hashpartitioning clause keys on doc_id or the wh hash —
    # never on a string window column
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "wt" not in m, m


def test_substring_paths_agree(spark, monkeypatch):
    """The substring_dup_stats driver fold and the distributed
    window-hash plan must produce identical rows (the tfidf/bm25/simhash
    gate contract)."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["substring_dup_stats"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    dist = {tuple(r) for r in REG["substring_dup_stats"].fn(spark, SF_ORACLE).collect()}
    assert fold == dist and len(fold) > 0


def test_cms_paths_agree(spark, monkeypatch):
    """The cms_heavy_hitters driver fold and the distributed
    sketch-aggregate plan must produce identical estimates (same md5
    bucket spec both paths)."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["cms_heavy_hitters"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    dist = {tuple(r) for r in REG["cms_heavy_hitters"].fn(spark, SF_ORACLE).collect()}
    assert fold == dist and len(fold) > 0


def test_substring_spans_paths_agree_and_distributed_shape(spark, monkeypatch):
    """substring_dup_spans: driver fold == distributed gaps-and-islands
    plan, and the distributed exchange carries window hashes, never
    window text."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["substring_dup_spans"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["substring_dup_spans"].fn(spark, SF_ORACLE)
    dist = {tuple(r) for r in df.collect()}
    assert fold == dist and len(fold) > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    import re
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "wt" not in m, m


def test_substring_clean_paths_agree_and_broadcast(spark, monkeypatch):
    """substring_dedup_clean: driver fold == distributed plan, and the
    span table (output-bounded) re-attaches via a broadcast join — a
    shuffle join on doc_id would exchange the whole corpus to clean it."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "1000000")
    fold = {tuple(r) for r in REG["substring_dedup_clean"].fn(spark, SF_ORACLE).collect()}
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["substring_dedup_clean"].fn(spark, SF_ORACLE)
    dist = {tuple(r) for r in df.collect()}
    assert fold == dist and len(fold) > 0
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "SortMergeJoin" not in join_strategies(df)


def test_gates_doc_matches_code():
    """GATES.md is the single ops reference for every TOMIX_* variable.
    Size gates are checked against the GATES registry: each declared
    gate has exactly one size-table row, with the code's default and the
    name that declares it. Every TOMIX_* variable is grep-checked, so
    none can ship undocumented (or stay advertised after the code
    dropped it)."""
    import importlib
    import re
    from pathlib import Path

    import tomixpanel_spark.streaming.cagg  # noqa: F401 (declares a gate)
    import tomixpanel_spark.streaming.dedup_index  # noqa: F401 (declares a gate)
    from tomixpanel_spark.operators.base import GATES

    root = Path(__file__).resolve().parents[1]
    doc = (root / "GATES.md").read_text()
    size_table = doc.split("## Size-adaptive plan gates")[1].split("\n## ")[0]
    rows = {}
    for line in size_table.splitlines():
        cells = [c.strip().strip("`") for c in line.strip().strip("|").split("|")]
        if cells[0].startswith("TOMIX_"):
            assert cells[0] not in rows, f"duplicate GATES.md row: {cells[0]}"
            rows[cells[0]] = cells
    assert sorted(rows) == sorted(GATES)
    for env, gate in GATES.items():
        _, default, _, _, defined, _ = rows[env]
        assert int(default) == gate.default, f"{env}: doc {default} != code {gate.default}"
        mod, name = defined.rsplit(".", 1)
        declared = getattr(importlib.import_module(f"tomixpanel_spark.{mod}"), name, None)
        assert declared is gate, f"{env}: GATES.md names {defined}"

    pat = re.compile(r"TOMIX_[A-Z0-9_]+")
    in_code: set[str] = set()
    for src in [root / "bench.py", root / "scale_probe.py",
                root / "__spark_entry__.py",
                *sorted((root / "tomixpanel_spark").rglob("*.py"))]:
        in_code |= set(pat.findall(src.read_text()))
    in_doc = set(pat.findall(doc))
    missing_from_doc = sorted(in_code - in_doc)
    stale_in_doc = sorted(in_doc - in_code)
    assert not missing_from_doc, f"undocumented gates: {missing_from_doc}"
    assert not stale_in_doc, f"GATES.md rows with no code: {stale_in_doc}"


def test_gates_doc_test_references_resolve():
    """Every ``test_*.py::name`` GATES.md cites (a gate's paths-agree
    signal, a tier's enforcement test) names a def or class that exists
    in tests/, so a renamed or deleted test cannot stay cited."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    doc = (root / "GATES.md").read_text()
    defined: dict[str, set[str]] = {}
    for src in (root / "tests").glob("test_*.py"):
        defined[src.name] = set(
            re.findall(r"^\s*(?:def|class)\s+(\w+)", src.read_text(), re.M)
        )
    refs, mod = [], None
    # `::name` right after a `test_x.py::...` cite is shorthand for test_x.py
    for m in re.finditer(r"(?:(test_\w+\.py)|`)::\s*(\w+)", doc):
        mod = m.group(1) or mod
        refs.append((mod, m.group(2)))
    assert refs, "GATES.md cites no tests"
    missing = sorted(
        f"{mod}::{name}" for mod, name in refs if name not in defined.get(mod, set())
    )
    assert not missing, f"GATES.md cites tests that do not exist: {missing}"


def test_lru_is_the_only_hand_rolled_cache():
    """Cross-call caches go through base.Lru: no other module under
    tomixpanel_spark/ may build its own OrderedDict LRU."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "tomixpanel_spark"
    offenders = sorted(
        str(src.relative_to(pkg))
        for src in pkg.rglob("*.py")
        if src.relative_to(pkg).as_posix() != "operators/base.py"
        and any(m in src.read_text() for m in ("OrderedDict", "popitem(last=False)"))
    )
    assert not offenders, f"hand-rolled LRU outside operators/base.py: {offenders}"


def test_gate_counts_and_decisions_live_in_base():
    """Gate decisions and gate count memos go through base.Gate: no other
    module under tomixpanel_spark/ calls ``Gate.record`` or builds its
    own count memo (an ``Lru`` fed by ``.count``)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "tomixpanel_spark"
    trees = {
        src.relative_to(pkg).as_posix(): ast.parse(src.read_text())
        for src in sorted(pkg.rglob("*.py"))
    }

    def assigned_from(tree, ctor):
        return {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign)
            and isinstance(n.value, ast.Call)
            and getattr(n.value.func, "id", None) == ctor
            for t in n.targets
            if isinstance(t, ast.Name)
        }

    gates = {"GATES"}.union(*(assigned_from(t, "Gate") for t in trees.values()))
    offenders = set()
    for rel, tree in trees.items():
        if rel == "operators/base.py":
            continue
        lrus = assigned_from(tree, "Lru")
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            owner = n.func.value
            owner = owner.value if isinstance(owner, ast.Subscript) else owner
            name = getattr(owner, "id", None)
            if n.func.attr == "record" and name in gates:
                offenders.add(f"{rel}: {name}.record")
            if n.func.attr in ("memo", "put") and name in lrus and any(
                isinstance(a, ast.Attribute) and a.attr == "count"
                for arg in n.args
                for a in ast.walk(arg)
            ):
                offenders.add(f"{rel}: {name} count memo")
    assert not offenders, f"gate bookkeeping outside base.py: {sorted(offenders)}"


def test_tokenizer_spec_lives_in_functions_text():
    """The tokenizer spec has one owner: no module under tomixpanel_spark/
    other than functions/text.py spells the DuckDB fold
    (``chr(9)||chr(10)``) or uses ``WHITESPACE_CHARS`` — consumers call
    ``tokens()``, ``SQL_WORDS`` or ``driver_tokens()``."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "tomixpanel_spark"
    offenders = [
        f"{src.relative_to(pkg).as_posix()}: {needle}"
        for src in sorted(pkg.rglob("*.py"))
        if src.relative_to(pkg).as_posix() != "functions/text.py"
        for needle in ("chr(9)||chr(10)", "WHITESPACE_CHARS")
        if needle in src.read_text()
    ]
    assert not offenders, f"tokenizer spec outside functions/text.py: {offenders}"


def test_similarity_scoring_idioms_live_in_three_kernels():
    """The similarity family scores through one kernel per idiom:
    ``_score_blocks`` (the cell cap and the sim_e6 rounding),
    ``_local_topk`` (the per-query sort), ``_lloyd`` (training),
    ``_lsh_buckets`` (the LSH sign bits), ``_train_sample`` (the
    ``pmod(vec_id, step)`` training collect), ``_blocked_pairs`` (the
    all-pairs cogroup) and ``_threshold_hits`` (the threshold-hit
    ``np.nonzero``). No other code in similarity.py or pipelines.py
    reads the cap, rounds sims, lexsorts a top-k, truncates a centroid
    mean, packs bucket bits, samples by vec_id, cogroups or picks
    threshold hits by hand; only ``_scored_pairs``' closure tier keeps
    its own hit mask (self and label exclusion), and only
    ``_lsh_buckets`` and the DuckDB oracle's ``_sql_bucket`` read the
    LSH planes."""
    import ast
    import re
    from pathlib import Path

    ops = Path(__file__).resolve().parents[1] / "tomixpanel_spark" / "operators"
    kernels = {
        "_score_blocks", "_local_topk", "_lloyd", "_lsh_buckets",
        "_train_sample", "_blocked_pairs", "_threshold_hits",
    }
    own_mask = {"_scored_pairs"}  # may hold an np.nonzero, nothing else
    plane_readers = {"_lsh_buckets", "_sql_bucket"}
    needles = (
        "SCORE_CELLS_CAP.cap()",
        "* 1_000_000).astype",
        "np.lexsort(",
        "_trunc_div(",
        ">= 0).reshape(",
        ".cogroup(",
    )
    sample = re.compile(r"pmod\(.*[\"']vec_id[\"'].*step")  # code, not prose
    offenders = []
    for name in ("similarity.py", "pipelines.py"):
        src = (ops / name).read_text()
        tree = ast.parse(src)
        lines = src.splitlines()
        allowed = set()
        mask_lines = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name in kernels:
                for i in range(node.lineno - 1, node.end_lineno):
                    lines[i] = ""
            if isinstance(node, ast.FunctionDef) and node.name in own_mask:
                mask_lines |= set(range(node.lineno - 1, node.end_lineno))
            if isinstance(node, ast.FunctionDef) and node.name in plane_readers:
                allowed |= {id(n) for n in ast.walk(node)}
        rest = "\n".join(lines)
        offenders += [f"{name}: {n}" for n in needles if n in rest]
        offenders += [
            f"{name}:{i + 1}: {line.strip()}"
            for i, line in enumerate(lines)
            if sample.search(line)
            or ("np.nonzero(" in line and i not in mask_lines)
        ]
        offenders += [
            f"{name}:{n.lineno}: _PLANES read"
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and n.id == "_PLANES"
            and isinstance(n.ctx, ast.Load) and id(n) not in allowed
        ]
    assert not offenders, f"scoring idiom outside its kernel: {offenders}"


def test_dedup_pair_expansion_lives_in_one_kernel():
    """The dedup family expands every postings list (shingles, LSH bands,
    SimHash's exact-signature clusters) through one SQL kernel:
    ``_pairs_expr`` (each (x, y) with x before y) inside
    ``_postings_pairs`` (group, sort, cap), and its driver folds through
    one numpy kernel, ``_block_pairs``. No other code in dedup.py,
    pipelines.py or multimodal.py flattens a nested transform, slices a
    postings list, walks a ``sequence(i + 1, ...)`` index range, calls
    ``np.triu_indices`` or expands rows with ``np.repeat``.
    Whitespace is ignored, so a needle split over lines still counts."""
    import ast
    import re
    from pathlib import Path

    ops = Path(__file__).resolve().parents[1] / "tomixpanel_spark" / "operators"
    kernels = {"_pairs_expr", "_postings_pairs", "_block_pairs"}
    needles = (
        "flatten(transform(", "F.flatten(", "slice(ds", "sequence(i+1",
        "np.triu_indices(", "np.repeat(",
    )
    offenders = []
    for name in ("dedup.py", "pipelines.py", "multimodal.py"):
        src = (ops / name).read_text()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name in kernels:
                for i in range(node.lineno - 1, node.end_lineno):
                    lines[i] = ""
        rest = re.sub(r"\s+", "", "\n".join(lines))
        offenders += [
            f"{name}: {n} x{rest.count(n)}" for n in needles if n in rest
        ]
    assert not offenders, f"pair expansion outside its kernel: {offenders}"


def _text_fold_door_offenders(pkg):
    """Every way around ``TFIDF_DRIVER_FOLD_DOCS``'s one door under
    ``pkg`` (the tomixpanel_spark/ directory); see the test below."""
    import ast
    import re

    gone = ("_under_fold_cap", "docs_pdf", "tokenize_tf_pdf(")
    n_count = {"tfidf_keywords", "bm25_topk"}  # N above the cap
    collectors = {"textops.py", "dedup.py", "bpe.py", "packing.py", "streaming_parity.py"}
    docs_names = {"docs", "probe"}
    docs_strings = {"documents", "text", "doc_id"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        flat = re.sub(r"\s+", "", src)
        offenders += [f"{rel}: {n}" for n in gone if n in flat]
        tree = ast.parse(src)
        n_nodes = {  # tfidf/bm25's memoized N count
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name in n_count
            for node in ast.walk(fn)
            if isinstance(node, ast.Attribute) and node.attr == "count"
        }
        offenders += [
            f"{rel}:{node.lineno} TFIDF_DRIVER_FOLD_DOCS.{node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and getattr(node.value, "id", None) == "TFIDF_DRIVER_FOLD_DOCS"
            and node.attr != "collect_or_none"
            and id(node) not in n_nodes
        ]
        if path.name not in collectors:
            continue
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("toPandas", "collect")
                and not node.args
            ):
                continue
            recv = list(ast.walk(node.func.value))
            if any(getattr(n, "id", None) in docs_names for n in recv) or any(
                isinstance(n, ast.Constant) and n.value in docs_strings for n in recv
            ):
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}() of documents")
    return sorted(set(offenders))


def test_text_fold_collects_through_one_door():
    """Every ``TFIDF_DRIVER_FOLD_DOCS`` decision decides AND collects
    through ``Gate.collect_or_none`` (``textops.fold_corpus`` keys it for
    the documents table): nothing under tomixpanel_spark/ names the old
    count-then-collect helpers (``_under_fold_cap``, ``docs_pdf``,
    ``tokenize_tf_pdf``), calls the gate any other way (only tfidf and
    bm25 keep a memoized ``count`` for N above the cap), or, in the text
    fold modules, collects a documents frame (``.toPandas()`` or
    ``.collect()`` over ``docs``/``probe`` or a documents column) outside
    the door."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "tomixpanel_spark"
    offenders = _text_fold_door_offenders(pkg)
    assert not offenders, f"text driver fold outside its door: {offenders}"


def test_package_has_no_bare_assert():
    """Contracts are enforced in code: ``python -O`` strips ``assert``,
    so the package raises real exceptions instead (an AST walk over
    every module under tomixpanel_spark/)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "tomixpanel_spark"
    offenders = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert not offenders, f"bare assert in the package: {offenders}"


def test_python_stages_and_local_frames_have_one_door():
    """Every Python stage body runs through ``session.python_stage``
    (the package ship and the once-per-task archive prune) and every
    driver-local frame through ``base.local_rows_df`` (one Arrow table,
    a LocalTableScan, no Python task). No other code under
    tomixpanel_spark/ calls ``mapInPandas``, ``applyInPandas``,
    ``applyInPandasWithState``, ``ship_package``, ``createDataFrame`` or
    ``parallelize``, and nothing calls the Arrow or UDF forms the door
    does not cover (``mapInArrow``, ``applyInArrow``, ``pandas_udf``)."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "tomixpanel_spark"
    stage = ("session.py", "python_stage")
    local = ("operators/base.py", "local_rows_df")
    doors = {
        "mapInPandas": stage,
        "applyInPandas": stage,
        "applyInPandasWithState": stage,
        "ship_package": stage,
        "mapInArrow": None,
        "applyInArrow": None,
        "pandas_udf": None,
        "createDataFrame": local,
        "parallelize": local,
    }
    offenders = []
    for src in sorted(pkg.rglob("*.py")):
        rel = src.relative_to(pkg).as_posix()
        for top in ast.parse(src.read_text()).body:
            owner = (rel, getattr(top, "name", None))
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                name = getattr(n.func, "attr", getattr(n.func, "id", None))
                if name in doors and doors[name] != owner:
                    offenders.append(f"{rel}:{n.lineno}: {name}")
    assert not offenders, f"Python task or local frame outside its door: {offenders}"


def test_kmeans_trainers_start_the_same_driver_jobs(spark):
    """Every k-means verb trains through ``_train_sample``: one count and
    one collect bring back the training sample and the queries, so the
    learned-float IVF, both quantized verbs and SemDeDup start the same
    number of Spark jobs while building their plans (counted through a
    job group, over the same source the registered verbs read). The
    sample reads the source below ``ensure_parallel``'s repartition: over
    it the count alone ran 3 jobs and the trainers 6 each (sf0.01,
    local[4]); below it they run 4."""
    from tests.conftest import SF_SMALL
    from tests.test_gates import _in_job_group
    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.pipelines import semdedup_clusters
    from tomixpanel_spark.operators.similarity import ann_ivf_topk

    builders = {
        "ann_ivf_topk": lambda: ann_ivf_topk(table(spark, SF_SMALL, "embeddings")),
        "ann_ivf_q": lambda: REG["ann_ivf_q"].fn(spark, SF_SMALL),
        "ann_pq_q": lambda: REG["ann_pq_q"].fn(spark, SF_SMALL),
        "semdedup_clusters": lambda: semdedup_clusters(spark, SF_SMALL),
    }
    jobs = {name: _in_job_group(spark, build)[1] for name, build in builders.items()}
    assert min(jobs.values()) >= 1, jobs
    assert len(set(jobs.values())) == 1, jobs
    assert max(jobs.values()) <= 4, jobs


def test_score_cells_cap_chunking_keeps_rows(spark, monkeypatch):
    """Every pair and top-k kernel scores in ``_score_blocks`` row
    chunks of TOMIX_SCORE_CELLS_CAP // |right side| rows. A cap of 7
    cuts every task into several chunks whose edges do not line up with
    the blocks; no row may appear, vanish or change."""
    import numpy as np

    from tests.conftest import SF_SMALL
    from tomixpanel_spark.operators.pipelines import semdedup_clusters
    from tomixpanel_spark.operators.similarity import _score_blocks

    def rows():
        out = {
            name: sorted(map(tuple, REG[name].fn(spark, SF_SMALL).collect()))
            for name in ("embedding_neardup", "embedding_decontam", "cosine_topk")
        }
        with monkeypatch.context() as m:
            m.setenv("TOMIX_EMB_BCAST_VECS", "0")
            decontam = REG["embedding_decontam"].fn(spark, SF_SMALL)
            out["embedding_decontam/cogroup"] = sorted(map(tuple, decontam.collect()))
        pairs = semdedup_clusters(spark, SF_SMALL)[1]
        out["semdedup_pairs"] = sorted(map(tuple, pairs.collect()))
        return out

    default = rows()
    assert all(default.values()), "a kernel produced no rows on the fixture"
    monkeypatch.setenv("TOMIX_SCORE_CELLS_CAP", "7")
    # the cap is in force: 3 right-side rows -> 2-row chunks
    assert [lo for lo, _ in _score_blocks()(np.ones((5, 4)), np.ones((3, 4)))] == [0, 2, 4]
    assert rows() == default


def test_bigram_lm_paths_agree(spark, monkeypatch):
    """Driver-fold, broadcast-model, and shuffle-join scoring plans are
    ONE operator: identical rows, and each gate actually flips the
    plan."""
    from tomixpanel_spark.operators import base

    fold = REG["bigram_lm_score"].fn(spark, SF_ORACLE).collect()  # under fold cap

    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df_b = REG["bigram_lm_score"].fn(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in join_strategies(df_b)
    bcast = df_b.collect()

    monkeypatch.setenv("TOMIX_LM_BCAST_BIGRAMS", "0")
    base._COUNTS.clear()
    df_s = REG["bigram_lm_score"].fn(spark, SF_ORACLE)
    joins = join_strategies(df_s)
    assert any(j in ("SortMergeJoin", "ShuffledHashJoin") for j in joins)
    shuf = df_s.collect()
    # the model/ctx scoring joins must NOT broadcast above the gate, in
    # AQE's initial or final plan (the 1-row vocab aggregate and the
    # small final left join may still)
    keyed = _keyed_joins(df_s)
    for key in (("prev", "cur"), ("prev",)):
        on_key = [j for j, keys in keyed if keys == key]
        assert on_key and "BroadcastHashJoin" not in on_key, (key, keyed)
    base._COUNTS.clear()
    assert sorted(map(tuple, bcast)) == sorted(map(tuple, shuf))
    assert sorted(map(tuple, fold)) == sorted(map(tuple, bcast))


def test_seeded_shuffle_rank_windows_are_bucket_parallel(spark):
    """The in-shard position must come from the two-level prefix sum:
    every row_number window partitions by the 256-way bucket, never by
    the N_SHARDS-way shard alone (8 sort tasks for the whole corpus is
    the scale-killer this plan exists to avoid)."""
    import re

    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.packing import _seeded_ranked

    ranked = _seeded_ranked(table(spark, SF_ORACLE, "documents"))
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    rn_windows = [
        ln for ln in plan.splitlines()
        if "row_number" in ln and "Window" in ln
    ]
    assert rn_windows, "expected a row_number window in the plan"
    for ln in rn_windows:
        m = re.search(r"windowspecdefinition\(([^,]+),", ln)
        assert m is not None, ln
        assert "bucket" in m.group(1), f"rank window partitioned by {m.group(1)}"


def test_seeded_shuffle_single_corpus_pass(spark, monkeypatch):
    """The DISTRIBUTED plan's ranked stream must be materialized ONCE
    for its two consumers (offsets aggregate + final join): the composed
    plan reads the checkpoint (ExistingRDD), never re-scans the parquet
    (the un-checkpointed form scanned AND shuffled the corpus twice —
    the subtrees don't ReuseExchange-collapse because only the join side
    pushes isnotnull(bucket) into its scan), and the 256-row offsets
    side comes back as a broadcast. Gate forced off — the registered
    query driver-folds at this corpus size."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    df = REG["seeded_shuffle"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" not in plan, "corpus re-scanned outside the checkpoint"
    assert "hashpartitioning(bucket" not in plan, "corpus re-shuffled after the checkpoint"
    assert "BroadcastHashJoin" in join_strategies(df)


def test_seeded_shuffle_paths_agree(spark, monkeypatch):
    """Driver fold (Python md5 + one sort) and the two-level-rank
    distributed plan emit the IDENTICAL permutation — md5 hex digests
    agree byte-for-byte across engines and languages."""
    fold = sorted(map(tuple, REG["seeded_shuffle"].fn(spark, SF_ORACLE).collect()))
    assert len(fold) > 0
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    dist = sorted(map(tuple, REG["seeded_shuffle"].fn(spark, SF_ORACLE).collect()))
    assert fold == dist


@pytest.mark.slow
def test_bpe_paths_agree(spark, monkeypatch):
    """All THREE adaptive tiers — corpus-fold (Sennrich dict loop over
    collected docs), word-fold (distributed word-count + driver loop),
    and fully distributed (Catalyst aggregate-fold merge + fused argmax)
    — produce IDENTICAL merge tables: three independent implementations
    of the same spec, like the oracle's recursive-CTE fourth."""
    from tomixpanel_spark.operators import textops

    fold = REG["bpe_merges"].fn(spark, SF_ORACLE).collect()
    assert len(fold) > 0
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    word_fold = REG["bpe_merges"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, word_fold))
    monkeypatch.setenv("TOMIX_BPE_LOCAL_WORDS", "0")
    dist = REG["bpe_merges"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, dist))


@pytest.mark.slow
def test_bpe_token_count_paths_agree(spark, monkeypatch):
    """Fold and distributed token accounting agree row-for-row, and the
    distributed vocab join broadcasts under the shared vocab gate."""
    fold = REG["bpe_token_count"].fn(spark, SF_ORACLE).collect()
    assert len(fold) > 0
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    word_fold = REG["bpe_token_count"].fn(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, word_fold))
    monkeypatch.setenv("TOMIX_BPE_LOCAL_WORDS", "0")
    df = REG["bpe_token_count"].fn(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in join_strategies(df)
    dist = df.collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, dist))


@pytest.mark.slow
def test_bpe_encode_paths_agree(spark, monkeypatch):
    """Fold and distributed piece emission agree cell-for-cell (including
    piece_idx — the running-offset window + inner posexplode against the
    driver loop's natural enumeration order), and the distributed vocab
    join broadcasts under the shared vocab gate. Output is one SCALAR
    row per piece (round-12 verdict #1: the driver cannot hash array
    cells)."""
    def rows(df):
        return sorted((r["doc_id"], r["piece_idx"], r["piece"])
                      for r in df.collect())

    fold = rows(REG["bpe_encode"].fn(spark, SF_ORACLE))
    assert len(fold) > 0
    # piece_idx is a dense 0..n-1 stream per doc
    from collections import Counter
    per_doc = Counter(d for d, _, _ in fold)
    idx = {}
    for d, i, _ in fold:
        idx.setdefault(d, []).append(i)
    assert all(sorted(v) == list(range(per_doc[d]))
               for d, v in idx.items())
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    word_fold = rows(REG["bpe_encode"].fn(spark, SF_ORACLE))
    assert fold == word_fold
    monkeypatch.setenv("TOMIX_BPE_LOCAL_WORDS", "0")
    df = REG["bpe_encode"].fn(spark, SF_ORACLE)
    assert "BroadcastHashJoin" in join_strategies(df)
    dist = rows(df)
    assert fold == dist


@pytest.mark.slow
def test_chunk_by_bpe_paths_agree(spark, monkeypatch):
    """All three adaptive tiers of the BPE-budget chunker produce
    identical chunk rows, and the Catalyst-fold pack obeys the contract:
    every chunk is within budget unless it is a single over-budget word,
    and per-doc chunk budgets sum to bpe_token_count's n_bpe_tokens
    (no piece lost or double-counted at chunk boundaries)."""
    from tomixpanel_spark.operators.bpe import CHUNK_BPE_BUDGET

    fold = sorted(map(tuple, REG["chunk_by_bpe"].fn(spark, SF_ORACLE).collect()))
    assert len(fold) > 0
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    word_fold = sorted(
        map(tuple, REG["chunk_by_bpe"].fn(spark, SF_ORACLE).collect())
    )
    assert fold == word_fold
    monkeypatch.setenv("TOMIX_BPE_LOCAL_WORDS", "0")
    dist = sorted(map(tuple, REG["chunk_by_bpe"].fn(spark, SF_ORACLE).collect()))
    assert fold == dist
    for _doc, _ci, text, nw, nb in fold:
        assert nb <= CHUNK_BPE_BUDGET or nw == 1, (text, nw, nb)
    budgets: dict = {}
    for doc, _ci, _text, _nw, nb in fold:
        budgets[doc] = budgets.get(doc, 0) + nb
    monkeypatch.delenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS")
    monkeypatch.delenv("TOMIX_BPE_LOCAL_WORDS")
    totals = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in REG["bpe_token_count"].fn(spark, SF_ORACLE).collect()
    }
    for doc, total in budgets.items():
        assert total == totals[doc], doc
    # zero-token docs yield no chunks; every tokenized doc is covered
    assert set(budgets) == {d for d, t in totals.items() if t > 0}


@pytest.mark.slow
def test_chunk_by_bpe_assembly_linear_on_book_length_doc(
    spark, monkeypatch, tmp_path
):
    """Round-12 verdict #5 done-criterion: a single 50k-word document
    (~850 chunks) passes the DISTRIBUTED chunk path in bounded time and
    matches the _pack_words driver mirror exactly. Two quadratic traps
    are covered: the old per-chunk F.filter over the full word array
    (O(words x chunks)) and the old per-WORD accumulator append in the
    packing fold (O(words^2) memcpy — ~110s for this input); the
    chunk-start fold + F.slice assembly runs the whole doc in
    seconds."""
    import time

    from tomixpanel_spark.operators.bpe import (
        CHUNK_BPE_BUDGET,
        N_MERGES,
        _pack_words,
        _sennrich_loop,
    )

    words = [f"w{i % 977}x{i % 31}" for i in range(50_000)]
    text = " ".join(words)
    df = spark.createDataFrame(
        [(1, text, "en")], "doc_id long, text string, lang string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")  # distributed path
    t0 = time.time()
    got = sorted(
        map(tuple, REG["chunk_by_bpe"].fn(spark, str(tmp_path)).collect())
    )
    elapsed = time.time() - t0
    assert elapsed < 60, f"assembly took {elapsed:.0f}s — quadratic regression?"

    from collections import Counter

    wc = Counter(words)
    _rows, vocab = _sennrich_loop(dict(wc), N_MERGES)
    expected = [
        (1, ci, t, nw, nb)
        for ci, (t, nw, nb) in enumerate(
            _pack_words([(w, len(vocab[w])) for w in words], CHUNK_BPE_BUDGET)
        )
    ]
    assert got == sorted(expected)
    assert len(got) > 500  # genuinely book-length: many chunks


def test_bpe_batched_merges_library_mode(spark, tmp_path, monkeypatch):
    """merges_per_round > 1 (library mode; the REGISTERED queries pin
    m=1 = strict Sennrich): each round's batch must be SYMBOL-DISJOINT,
    and because of that disjointness the one-pass batched application
    must equal applying the same pairs sequentially. On a corpus whose
    top pairs don't interact, batched and sequential training learn the
    same merge SET in fewer rounds."""
    import duckdb

    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.bpe import (
        _merge_step,
        _train_distributed,
    )

    docs_dir = tmp_path / "sf"
    docs_dir.mkdir()
    duckdb.sql(
        "COPY (SELECT 1 AS doc_id,"
        " 'ab ab ab cd cd cd ef ef ab cd' AS text,"
        " 'en' AS lang, 's' AS source, 30 AS n_chars)"
        f" TO '{docs_dir}/documents.parquet' (FORMAT PARQUET)"
    )
    docs = table(spark, str(docs_dir), "documents")
    seq, _ = _train_distributed(spark, docs, 3, need_final=False)
    bat, _ = _train_distributed(
        spark, docs, 3, need_final=False, merges_per_round=3
    )
    # top-3 pairs (a,b) (c,d) (e,f) are symbol-disjoint: same merge set
    assert {(l, r, c) for _, l, r, _m, c in seq} == {
        (l, r, c) for _, l, r, _m, c in bat
    }
    # disjointness invariant: no symbol appears in two pairs of a batch
    syms = [s for _, l, r, _m, _c in bat for s in (l, r)]
    assert len(syms) == len(set(syms))
    # one-pass batched fold == sequential application of the same pairs
    words = spark.createDataFrame(
        [("abcdef", 1, list("abcdef")), ("fedcba", 1, list("fedcba"))],
        schema="word string, freq long, syms array<string>",
    )
    pairs = [("a", "b"), ("c", "d"), ("e", "f")]
    one_pass = {r["word"]: r["syms"] for r in
                _merge_step(words, pairs).collect()}
    step_by_step = words
    for p in pairs:
        step_by_step = _merge_step(step_by_step, [p])
    sequential = {r["word"]: r["syms"] for r in step_by_step.collect()}
    assert one_pass == sequential
    assert one_pass["abcdef"] == ["ab", "cd", "ef"]
