"""Boundary tests for every size gate in the ``operators.base.GATES``
registry: the decision methods, the keyed door and the count-gated join
at n = cap-1, cap and cap+1 rows, on an empty input, and at cap <= 0
(distributed tier, no Spark job); and the Spark jobs of a warm text
driver fold behind the door."""

from __future__ import annotations

import uuid

import pytest

import tomixpanel_spark.operators  # noqa: F401 (declares the operator gates)
import tomixpanel_spark.streaming.cagg  # noqa: F401 (declares a gate)
import tomixpanel_spark.streaming.dedup_index  # noqa: F401 (declares a gate)
from tomixpanel_spark.operators.base import DECISIONS, GATES, Decision
from tomixpanel_spark.plans.audit import join_strategies

CAP = 3
CASES = [  # (cap, n rows)
    (CAP, CAP - 1),
    (CAP, CAP),
    (CAP, CAP + 1),
    (CAP, 0),
    (0, 0),
    (0, CAP),
    (-1, CAP),
]


def _in_job_group(spark, fn):
    """``fn()`` and the number of Spark jobs it started, counted through
    a fresh job group."""
    sc = spark.sparkContext
    group = f"gate-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "gate boundary test")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("cap,n", CASES)
@pytest.mark.parametrize("env", sorted(GATES))
def test_gate_boundary(spark, monkeypatch, env, cap, n):
    gate = GATES[env]
    monkeypatch.setenv(env, str(cap))
    under = 0 < cap and n <= cap
    tier = "driver" if under else "distributed"

    assert gate.admits(n) is under
    assert DECISIONS[-1] == Decision(env, cap, n, tier)

    df = spark.createDataFrame([(i,) for i in range(n)], "i long")
    pdf, jobs = _in_job_group(spark, lambda: gate.collect_or_none(df))
    if cap <= 0:
        assert jobs == 0
        assert DECISIONS[-1] == Decision(env, cap, None, "distributed")
    else:
        assert jobs >= 1
        assert DECISIONS[-1] == Decision(env, cap, min(n, cap + 1), tier)
    if under:
        assert sorted(pdf["i"].tolist()) == list(range(n))  # the whole input
    else:
        assert pdf is None

    # the keyed door: the same decision, then a memo of the probed length,
    # so a repeat call above the cap runs no job
    monkeypatch.delenv("TOMIX_CACHE_TABLES", raising=False)
    key = (uuid.uuid4().hex,)
    decision = Decision(env, cap, min(n, cap + 1) if cap > 0 else None, tier)
    for call in range(2):
        pdf, jobs = _in_job_group(spark, lambda: gate.collect_or_none(df, key))
        assert DECISIONS[-1] == decision
        if under:
            assert jobs >= 1  # the table cache is off: every call collects
            assert sorted(pdf["i"].tolist()) == list(range(n))
        else:
            assert pdf is None
            assert (jobs >= 1) if (cap > 0 and call == 0) else (jobs == 0)

    # the count-gated join: every side broadcast at or under the cap and
    # pinned shuffle_hash above it; the same key again is a memo hit
    key = (uuid.uuid4().hex,)
    decision = Decision(env, cap, n if cap > 0 else None, tier)
    join = "BroadcastHashJoin" if under else "ShuffledHashJoin"
    probe = spark.range(10)
    sides, jobs = _in_job_group(spark, lambda: gate.join_sides(key, df, df, df))
    assert (jobs == 0) if cap <= 0 else (jobs >= 1)
    assert DECISIONS[-1] == decision
    side, jobs = _in_job_group(spark, lambda: gate.join_sides(key, df, df))
    assert jobs == 0
    assert DECISIONS[-1] == decision
    for s in (*sides, side):
        assert set(join_strategies(probe.join(s, probe.id == s.i))) == {join}


@pytest.mark.parametrize("query", ["cms_heavy_hitters", "bpe_merges"])
def test_text_fold_warm_call_jobs(spark, monkeypatch, query):
    """A warm call of a text driver fold starts at most 2 Spark jobs:
    ``table``'s parquet footer read and the door's one bounded collect
    of the raw table, not of a repartitioned one. Under
    ``TOMIX_CACHE_TABLES`` it starts none: the table is cached and the
    door serves the collected frame from its buffer pool."""
    from tests.conftest import SF_SMALL
    from tomixpanel_spark.operators import base, registry

    fn = registry()[query].fn
    monkeypatch.delenv("TOMIX_CACHE_TABLES", raising=False)
    monkeypatch.delenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", raising=False)
    cold = sorted(map(tuple, fn(spark, SF_SMALL).collect()))
    rows, jobs = _in_job_group(spark, lambda: fn(spark, SF_SMALL).collect())
    assert sorted(map(tuple, rows)) == cold
    assert jobs <= 2
    assert DECISIONS[-1].tier == "driver"
    monkeypatch.setenv("TOMIX_CACHE_TABLES", "1")
    try:
        fn(spark, SF_SMALL).collect()
        rows, jobs = _in_job_group(spark, lambda: fn(spark, SF_SMALL).collect())
        assert sorted(map(tuple, rows)) == cold
        assert jobs == 0
    finally:
        base.clear_table_cache()
