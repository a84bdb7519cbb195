"""Boundary tests for every size gate in the ``operators.base.GATES``
registry: the decision methods and the count-gated join at n = cap-1,
cap and cap+1 rows, on an empty input, and at cap <= 0 (distributed
tier, no Spark job)."""

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
