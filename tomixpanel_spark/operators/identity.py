"""Identity-graph resolution: transitive closure of $merge edges.

The reference emits pairwise user<->device merge edges and lets Mixpanel's
backend resolve identity clusters (transform/amplitudeToMixpanel.js:
173-219). A standalone engine must resolve them itself: connected
components over the merge-edge graph, so every alias maps to one canonical
identity.

Algorithm: iterative label propagation (hash-min) to a fixed point —
each node repeatedly adopts the smallest label among itself and its
neighbors. Pure DataFrame joins/aggregations per iteration; converges in
O(diameter) rounds (identity graphs are shallow — user/device stars —
so 2-4 rounds in practice). This is the large-graph-safe pattern
(GraphFrames' CC is the same idea); each round is one join + one
aggregate, partitioned by node id.

The oracle mirrors it with a recursive CTE (min reachable node id) —
feasible at test scale, while the Spark loop is the 100 TB path.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, NullType, StructField, StructType

from tomixpanel_spark.operators.base import (
    Gate,
    QuerySpec,
    local_rows_df,
    stage_checkpoint,
    table,
)

MAX_ITERATIONS = 20
# Below this many DISTINCT edges the component computation runs as driver-
# side union-find on the collected edge list — the same size-adaptive
# strategy as a broadcast join (the edge set after dedup is the identity
# graph, tiny relative to the event volume that produced it). Above it,
# the distributed label-propagation loop runs and its decision-log entry
# records the round count. ~2M edges of short string ids is low hundreds
# of MB on the driver — comfortably collectable.
CC_LOCAL_MAX = Gate("TOMIX_CC_LOCAL_MAX", 2_000_000)


def _local_components(pdf) -> list[tuple]:
    """Driver-side union-find (path compression, union-by-min so every
    root IS its cluster's minimum id). Exact same fixed point as the
    distributed loop, deterministic."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    # .tolist() => native Python scalars: the union-find walks plain
    # ints, not the numpy int64 values a pandas int column would yield
    for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs  # attach larger root under smaller
    return [(n, find(n)) for n in parent]  # parent keys are native scalars


def connected_components(edges: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """edges(a,b) -> (node, component) DataFrame.

    Component = min node id in the cluster (string ids; min is
    lexicographic, deterministic).

    Size-adaptive (the broadcast-join principle applied to graphs): the
    distinct edge set is materialized once and counted; small graphs
    resolve with driver-side union-find (one job + one collect — iterative
    Spark rounds on a toy graph are pure scheduler overhead, the round-3
    30x finding), while large graphs run distributed hash-min label
    propagation. The distributed loop keeps per-round cost minimal:
      * the symmetric adjacency is checkpointed ONCE and augmented with a
        self-loop per node, so a round is a single join+groupBy — the
        self-loop row carries the node's own label into the min, removing
        the separate least()/left-join recombination step;
      * round 1 skips the label join entirely (labels are the identity
        mapping, so neighbor-min is just ``min(dst)`` over the adjacency);
      * the convergence flag rides IN the round's aggregate — ``prev`` is
        the self-loop row's label (``min`` over the one ``dst == src``
        row) — so "did anything change" is a trivial filter-count on the
        round's checkpointed output, not a join of two label generations.
    """
    return _cc_impl(edges, a, b, ())[0]


def keep_per_cluster(
    edges: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    *,
    attrs: tuple = (),
    node_signal: "tuple[Callable, Column] | None" = None,
    largest: bool = True,
) -> "tuple[DataFrame, DataFrame]":
    """Keep one node per connected component of edges(a, b): the
    "keep one per duplicate group" policy every CC consumer applies.

    Per component the kept node has the largest signal (``largest=False``:
    the smallest), ties to the lowest node id; with no signal it is the
    lowest id, i.e. the component label. A NULL signal sorts smallest,
    as in Spark's struct ordering. A signalled policy negates node ids,
    so it needs numeric ids.

    Signal sources (at most one):
      * ``attrs=(attr_a, attr_b)`` — edge columns carrying each
        endpoint's signal (token counts, centroid dots stamped where the
        pair stage already had them, so no corpus re-scan). A node's
        signal is the MAX over every edge it appears in, on both tiers,
        so an attr that is not functional on its endpoint still yields
        one signal per node.
      * ``node_signal=(py, col)`` — a pure function of the node id, as a
        Python callable (driver tier) and a Column over ``node``
        (distributed tier) that must agree.

    Returns ``(winners, drops)``: winners is (keep, signal, size) per
    component, drops is (node) for every clustered node not kept.
    Consumers never see which CC tier ran:
      * driver tier (the CC probe collected the edges): one exact-integer
        Python fold over the union-find rows; both frames are local rows
        and ``drops`` carries a broadcast hint, so no Spark job runs
        after the probe;
      * distributed tier: one ``groupBy(component)`` max/min over a
        (signal, ±node) struct — fieldwise lexicographic in every engine
        and overflow-free — and a join back for the drops (a filter of
        the labels when there is no signal).
    """
    labels, members, ded = _cc_impl(edges, a, b, attrs)
    if members is not None:  # driver tier: (node, component) pairs
        node_type = edges.schema[a].dataType
        sig: dict = {}
        sig_type = NullType()
        if attrs:
            sig_type = edges.schema[attrs[0]].dataType
            conv = int if isinstance(sig_type, IntegralType) else float
            for s, d, va, vb in ded[["src", "dst", *attrs]].itertuples(index=False):
                for n, v in ((s, va), (d, vb)):
                    v = None if pd.isna(v) else conv(v)
                    old = sig.get(n)
                    sig[n] = v if old is None or (v is not None and v > old) else old
        elif node_signal is not None:
            sig_type = labels.select(node_signal[1].alias("s")).schema["s"].dataType
            sig = {n: node_signal[0](n) for n, _ in members}
        sign = 1 if largest else -1

        def rank(n):  # higher ranks first; NULL smallest, ties to the lowest id
            v = sig[n]
            return (sign * (float("-inf") if v is None else v), -n)

        size = Counter(c for _, c in members)
        keep = {c: c for c in size}
        if attrs or node_signal is not None:
            for n, c in members:
                if rank(n) > rank(keep[c]):
                    keep[c] = n
        schema = StructType().add("keep", node_type).add("signal", sig_type)
        spark = edges.sparkSession
        winners = local_rows_df(
            spark,
            [(k, sig.get(k), size[c]) for c, k in keep.items()],
            schema.add("size", "long"),
        )
        drops = local_rows_df(
            spark,
            [(n,) for n, c in members if keep[c] != n],
            StructType().add("node", node_type),
        )
        return winners, F.broadcast(drops)

    size = F.count(F.lit(1)).alias("size")
    if not attrs and node_signal is None:
        winners = labels.groupBy("component").agg(size).select(
            F.col("component").alias("keep"), F.lit(None).alias("signal"), "size"
        )
        drops = labels.filter(F.col("node") != F.col("component")).select("node")
        return winners, drops
    if attrs:
        ends = F.array(
            F.struct(F.col("src").alias("node"), F.col(attrs[0]).alias("signal")),
            F.struct(F.col("dst").alias("node"), F.col(attrs[1]).alias("signal")),
        )
        signals = (
            ded.select(F.explode(ends).alias("e"))
            .select("e.*")
            .groupBy("node")
            .agg(F.max("signal").alias("signal"))
        )
        labeled = labels.join(signals, "node")
    else:
        labeled = labels.withColumn("signal", node_signal[1])
    best = F.max if largest else F.min
    nid = -F.col("node") if largest else F.col("node")
    w = best(F.struct(F.col("signal").alias("s"), nid.alias("nid"))).alias("w")
    winners = (
        labeled.groupBy("component")
        .agg(w, size)
        .select(
            "component",
            (-F.col("w.nid") if largest else F.col("w.nid")).alias("keep"),
            F.col("w.s").alias("signal"),
            "size",
        )
    )
    # every labeled node has a signal row, so the drops need only the
    # labels: the signal plan runs once, for the winners
    drops = (
        labels.join(winners.select("component", "keep"), "component")
        .filter(F.col("node") != F.col("keep"))
        .select("node")
    )
    return winners.drop("component"), drops


def _cc_impl(
    edges: DataFrame, a: str, b: str, attrs: tuple
) -> "tuple[DataFrame, list[tuple] | None, object]":
    id_type = edges.schema[a].dataType
    ded = (
        edges.select(
            F.col(a).alias("src"),
            F.col(b).alias("dst"),
            *[F.col(c) for c in attrs],
        )
        .distinct()
    )
    # ONE bounded probe job decides the tier AND (under the gate) IS the
    # collect (Gate.probe). This replaces the r14 shape's three serial
    # actions (eager localCheckpoint + count + toPandas — each a
    # scheduling floor on the small graphs the gate exists for; guide
    # §1.2 step 1). The lazy checkpoint still truncates lineage:
    # partitions the probe computes persist as a side effect, and the
    # distributed branch below forces full materialization before its
    # iterative consumers re-read.
    ded = stage_checkpoint(ded, eager=False)
    probe, decision = CC_LOCAL_MAX.probe(ded)
    if probe is not None:
        rows = _local_components(probe)
        schema = StructType(
            [StructField("node", id_type), StructField("component", id_type)]
        )
        spark = edges.sparkSession
        # the gate-bounded labels reach the JVM as one Arrow batch
        # (base.local_rows_df): a LocalTableScan, no Python task
        return local_rows_df(spark, rows, schema), rows, probe

    # big-graph path: materialize the checkpoint ONCE (same cost the old
    # eager checkpoint paid) so the per-round re-reads below never
    # recompute the upstream pair machinery. The probe above cost one
    # bounded CollectLimit over the first partitions — O(cap) rows.
    ded.count()
    e2 = ded.select("src", "dst")
    sym = e2.unionByName(
        e2.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    adj = stage_checkpoint(
        sym.unionByName(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        ),
        eager=True,
    )  # reused every round: materialize once

    # round 1: label(node) == node, so neighbor-min needs no label join
    labels = stage_checkpoint(
        adj.groupBy("src")
        .agg(F.min("dst").alias("component"))
        .withColumnRenamed("src", "node"),
        eager=True,
    )
    if labels.filter(F.col("component") != F.col("node")).limit(1).count() == 0:
        decision.rounds = 1
        return labels, None, ded
    for _round in range(MAX_ITERATIONS - 1):
        nm = (
            adj.join(labels, adj.dst == labels.node)
            .groupBy("src")
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("component"))
                ).alias("prev"),
            )
            .withColumnRenamed("src", "node")
        )
        # pointer jump (path doubling): component values ARE node ids, so
        # one self-join replaces each label with its label's label —
        # label-chain length halves per round, giving O(log diameter)
        # convergence where neighbor-min alone needs diameter rounds (a
        # 10^6-node chain: ~20 doubled rounds vs 10^6). Left join +
        # coalesce only for robustness; every component value has a row
        # (adj self-loops give every node a label).
        jump = nm.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        updated = (
            nm.join(jump, nm.component == jump.jnode, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("jcomp"), F.col("component")),
                ).alias("component"),
                "prev",
            )
        )
        # convergence check reads THIS, not a re-run
        updated = stage_checkpoint(updated, eager=True)
        changed = updated.filter(F.col("component") != F.col("prev")).limit(1).count()
        labels = updated.select("node", "component")
        if changed == 0:
            decision.rounds = _round + 2
            return labels, None, ded
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITERATIONS} "
        "iterations — with path doubling this needs diameter > ~2^"
        f"{MAX_ITERATIONS} (raise MAX_ITERATIONS if you truly have one)"
    )


def identity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC over the synthesized user<->device merge edges (same edge rule as
    the merge_pairs query): every user sharing a device collapses into one
    identity cluster."""
    ev = table(spark, sf_dir, "events")
    user = F.when(F.col("user_id") % 3 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("u"), F.col("user_id").cast("string"))
    )
    dev = F.concat(F.lit("d"), (F.col("user_id") % 50).cast("string"))
    edges = (
        ev.select(user.alias("id_a"), dev.alias("id_b"))
        .filter(F.col("id_a").isNotNull())
        .distinct()
    )
    return connected_components(edges)


_IDENTITY_COMPONENTS_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS id_a,
         'd' || CAST(user_id % 50 AS VARCHAR) AS id_b
  FROM events WHERE user_id % 3 <> 0),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION SELECT id_b, id_a FROM edges),
walk(node, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach)
SELECT node, min(reach) AS component FROM walk GROUP BY node
"""


REGISTRY = {
    "identity_components": QuerySpec(
        identity_components, _IDENTITY_COMPONENTS_SQL, "identity graph CC"
    ),
}
