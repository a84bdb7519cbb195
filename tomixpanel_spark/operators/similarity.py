"""Embedding similarity search over ``embeddings`` (array<float>, dim 64).

Operators:
  * ``cosine_topk`` — brute-force cosine top-k: the correctness baseline.
  * ``cosine_topk_partitioned`` — IVF-style pruned search: restrict the
    scan to the query's coarse partition (the ``label`` column plays the
    centroid-assignment role). At 100 TB this is the scale path: cell
    assignment turns top-k from full-scan into per-cell scan.
  * ``embedding_neardup`` — all pairs above a cosine threshold, computed
    as a BLOCKED distributed all-pairs join (no driver-side corpus).
  * ``ann_ivf`` — IVF with learned centroids; training samples in Spark.

Execution strategy (the 100 TB shape):
  * Raw ``(id, embedding)`` rows stream into Arrow-batched ``mapInPandas``
    stages; L2 normalization happens IN numpy per batch (one vectorized
    divide) rather than as a JVM higher-order fold — Catalyst's
    CollapseProject re-inlines the norm aggregate per array element, which
    made the JVM fold O(d^2) interpreted work per row (measured 0.86 s for
    2000x64 at sf0.1 vs ~1 ms in numpy).
  * Top-k queries broadcast only the SMALL side (the query matrix) in the
    closure; each corpus batch does one BLAS matmul and emits only its
    local top-k, so the final window shuffle carries k*batches rows.
  * All-pairs near-dup never materializes the corpus on the driver: the
    corpus is hash-split into B blocks, each unordered block pair (i<=j)
    cogroups once, and one task scores that pair with a single matmul.
    Shuffle volume is O(N*B) rows; per-task memory is O(N/B * d) — pick B
    so a block fits an executor, the classic blocked all-pairs layout.

Float parity: similarity is emitted as ``sim_e6`` (sim * 1e6 rounded to
BIGINT). numpy's pairwise summation differs from DuckDB's sequential fold
by ~1 ulp; integer-rounding at 1e-6 absorbs it, and ranking happens on the
rounded value + id tiebreak so ranks are identical across engines.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tomixpanel_spark.operators.base import (
    Gate,
    QuerySpec,
    ensure_parallel,
    fresh_attrs,
    local_rows_df,
    table,
)
from tomixpanel_spark.session import python_stage

N_QUERIES = 10
TOP_K = 5
NEARDUP_E6 = 400_000  # cosine >= 0.40 (synthetic corpus max ~0.51)
NEARDUP_BLOCKS = 8  # all-pairs block count; at 100 TB size so N/B fits a task
# Per-matmul score-matrix cell budget (~32 MB of int64 per chunk). The
# REAL task-memory bound of every pair kernel: a block pair's naive
# (nL x nR) score matrix is O((N/B)^2) cells regardless of n_blocks —
# the round-11 probe sized it at 14 GB/task at 1M x 110k decontam scale
# before chunking. Kernels now score the left side in row chunks of
# cap // nR, so task memory is O(block_rows * d + cap) and only hits
# accumulate. Env-tunable for executor-memory sizing.
SCORE_CELLS_CAP = Gate("TOMIX_SCORE_CELLS_CAP", 4_000_000)

_SQL_SIM = (
    "CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])) * 1000000) AS BIGINT)"
)


def _finite_vecs(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Drop null and NON-FINITE vectors (engine policy, documented): a
    NaN/Inf component poisons the integer ``sim_e6`` cast (NaN -> INT_MIN
    garbage rows) and engines do not even agree on NaN ordering, so a
    garbage vector must contribute nothing — the same contract as a NULL
    vector (NULL sim fails every predicate in the oracle SQL)."""
    e = F.col(vec_col)
    non_finite = F.exists(e, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    return df.filter(e.isNotNull() & ~non_finite)


# ``_finite_vecs`` in DuckDB: the oracles of the k-means verbs read
# ``fe`` wherever the Spark side reads finite vectors (sample-step count,
# training, queries, candidates), or a NULL vector shifts the step and a
# NaN one fails the BIGINT quantization cast.
_SQL_FINITE_CTE = """fe AS (
  SELECT * FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0)"""


def _mat(pdf: pd.DataFrame, col: str = "embedding"):
    """embedding column of an Arrow batch -> L2-normalized float64 matrix."""
    import numpy as np

    if col not in pdf.columns:
        raise KeyError(
            f"_mat: column {col!r} absent; got columns={list(pdf.columns)} "
            f"dtypes={[str(t) for t in pdf.dtypes]} len={len(pdf)}"
        )
    if not len(pdf):
        # empty input yields a 1-D (0,) array from np.array(list(...)) —
        # axis-1 ops would raise a cryptic AxisError; give callers a
        # typed empty matrix instead (queries-empty paths early-out)
        return np.zeros((0, 0), dtype="float64")
    m = np.array(list(pdf[col]), dtype="float64")
    norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    return m / norms


# -- the three scoring kernels every similarity verb shares -------------------
# Each verb scores its partition locally, keeps local top-k rows or
# threshold hits, and a global window or union merges them.


def _score_blocks():
    """The one chunked cosine kernel. Reads ``SCORE_CELLS_CAP`` when the
    plan is built (the driver's environment: executors never see a
    later ``TOMIX_*`` change) and returns ``score(a, b)``, a generator
    over unit-row matrices yielding ``(lo, e6)``: ``e6`` is the
    ``sim_e6`` block of ``a[lo : lo + rows]`` against all of ``b``, with
    rows = cap // len(b), so a task holds one bounded score block
    however large either side is."""
    import numpy as np

    cells_cap = SCORE_CELLS_CAP.cap()

    def score(a, b):
        rows = max(1, cells_cap // max(1, len(b)))
        for lo in range(0, len(a), rows):
            yield lo, np.rint((a[lo : lo + rows] @ b.T) * 1_000_000).astype("int64")

    return score


def _threshold_hits(threshold_e6: int):
    """The one threshold-hit loop, built on ``_score_blocks`` when the
    plan is built. Returns ``hits(a, b, upper=None)`` over unit-row
    matrices: ``(ai, bj, sim_e6)`` arrays for every row pair scoring at
    least ``threshold_e6``, in chunk order. ``upper=(a_ids, b_ids)``
    keeps only pairs with ``a_ids[ai] < b_ids[bj]``, the strict upper
    triangle of a side scored against itself."""
    import numpy as np

    score = _score_blocks()

    def hits(a, b, upper=None):
        parts = [(np.zeros(0, "int64"),) * 3]
        for lo, e6 in score(a, b):
            hit = e6 >= threshold_e6
            if upper is not None:
                hit &= upper[0][lo : lo + len(e6), None] < upper[1][None, :]
            ai, bj = np.nonzero(hit)
            parts.append((lo + ai, bj, e6[ai, bj]))
        return tuple(np.concatenate(p) for p in zip(*parts))

    return hits


def _local_topk(scores, mask, n_ids, k: int):
    """The one local top-k: for each query column of ``scores`` (rows x
    Q), the at most ``k`` rows where ``mask`` holds, highest score first
    and lowest ``n_ids`` on ties. Returns ``(row, query)`` index arrays
    grouped by query column in that order. Lowest-first rankings pass
    negated scores."""
    import numpy as np

    ri, qi = np.nonzero(mask)
    order = np.lexsort((n_ids[ri], -scores[ri, qi], qi))
    ri, qi = ri[order], qi[order]
    keep = np.arange(len(qi)) - np.searchsorted(qi, qi) < k
    return ri[keep], qi[keep]


def _sq_dists(x, cent):
    """(rows, cells) squared-L2 distances to the centroids — the one
    nearest-centroid kernel: ``argmin(axis=1)`` assigns each row to the
    lowest cell among equals (the oracle's ORDER BY dist, cell)."""
    return ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)


def _int_mean(members):
    """Column mean of an int64 block TRUNCATED toward zero — DuckDB's
    ``//`` on the sum (numpy's // floors, which differs on negative sums)."""
    import numpy as np

    s = members.sum(axis=0)
    return np.sign(s) * (np.abs(s) // len(members))


def _lloyd(sample, k: int, iters: int, mean):
    """The one Lloyd trainer: the first ``k`` sample rows (vec_id order)
    seed the centroids, each round assigns every row to its nearest
    centroid (``_sq_dists``, first min on ties) and moves each non-empty
    cell to ``mean(members)`` — ``_int_mean`` for the integer-exact
    verbs, the float mean for ``ann_ivf``."""
    cent = sample[:k].copy()
    for _ in range(iters):
        assign = _sq_dists(sample, cent).argmin(axis=1)
        for ci in range(len(cent)):
            members = sample[assign == ci]
            if len(members):
                cent[ci] = mean(members)
    return cent


def _collect_queries(emb: DataFrame, with_label: bool = False):
    """Small side -> (ids, unit matrix[, labels]) for the UDF closure.
    Sorted by vec_id so the closure is deterministic under any scan order."""
    cols = ["vec_id", "embedding"] + (["label"] if with_label else [])
    pdf = (
        # null-vector rows contribute nothing on either engine (NULL sim
        # fails every predicate in the oracle SQL) — drop them up front
        _finite_vecs(emb.filter(F.col("vec_id") < N_QUERIES))
        .select(*cols)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ids = pdf["vec_id"].to_numpy(dtype="int64")
    mat = _mat(pdf)
    if with_label:
        return ids, mat, pdf["label"].to_numpy()
    return ids, mat


def _train_sample(emb: DataFrame):
    """The one training prelude of the k-means verbs: ``(sample, queries)``
    pandas frames of ``(vec_id, embedding)``, both sorted by vec_id, from
    ONE count and ONE collect over ``emb`` (already ``_finite_vecs``).
    ``emb`` is the source as read: the trainers spread their scoring
    pass with ``ensure_parallel`` only after this, because over a
    repartition the count alone ran 3 jobs, one a hash shuffle of every
    embedding, and the collect shuffled them again.

    The count sizes ``step = max(2, n // 1024)``, ~1-2k training vectors
    at any corpus size, so driver memory is O(sample) (the IVF contract:
    the training set fits one node, the corpus need not). The collect
    takes the union of the training sample ``pmod(vec_id, step) == 0``
    and the query set ``vec_id < N_QUERIES``; the split back is exact
    because both filters are deterministic on vec_id, and pandas
    ``% step`` agrees with pmod for any sign of vec_id. The oracles
    unroll the same sample in SQL."""
    step = max(2, emb.count() // 1024)
    both = (
        emb.filter(
            (F.pmod(F.col("vec_id"), F.lit(step)) == 0)
            | (F.col("vec_id") < N_QUERIES)
        )
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    sample = both[(both["vec_id"] % step) == 0].reset_index(drop=True)
    queries = both[both["vec_id"] < N_QUERIES].reset_index(drop=True)
    return sample, queries


def _scored_pairs(
    cand: DataFrame, q_ids, q_mat, local_k: int | None, threshold_e6: int | None,
    q_labels=None, exclude_self: bool = True,
) -> DataFrame:
    """mapInPandas stage: raw candidate batches x query matrix -> sim_e6
    rows. Candidates normalize in-batch (numpy) and score in
    ``_score_blocks`` chunks, which bound the (rows x Q) block even when
    the broadcast query side is at its 100k-vector gate ceiling; only
    each chunk's local top-k (``_local_topk``) or above-threshold rows
    survive to the shuffle.

    ``exclude_self`` masks candidates whose id equals the query id — the
    self-search semantics every top-k/neardup caller wants. Callers whose
    query and candidate sets live in INDEPENDENT id spaces (decontam:
    train vs held-out) must pass False, or a numeric id collision would
    silently suppress a real cross-set pair."""
    import numpy as np

    score = _score_blocks()
    q_ids = np.asarray(q_ids, dtype="int64")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not len(q_ids):
            return  # no queries -> no rows (empty-corpus/empty-suite path)
        for pdf in it:
            if not len(pdf):
                continue
            n_ids = pdf["neighbor_id"].to_numpy(dtype="int64")
            labels = None if q_labels is None else pdf["label"].to_numpy()
            for lo, e6 in score(_mat(pdf), q_mat):
                ids = n_ids[lo : lo + len(e6)]
                mask = (
                    np.ones(e6.shape, dtype=bool)
                    if threshold_e6 is None
                    else e6 >= threshold_e6
                )
                if exclude_self:
                    mask &= ids[:, None] != q_ids[None, :]
                if labels is not None:
                    mask &= labels[lo : lo + len(e6), None] == q_labels[None, :]
                ri, qi = (
                    np.nonzero(mask)
                    if local_k is None
                    else _local_topk(e6, mask, ids, local_k)
                )
                yield pd.DataFrame(
                    {"q_id": q_ids[qi], "neighbor_id": ids[ri], "sim_e6": e6[ri, qi]}
                )

    return python_stage(cand, batches, "q_id long, neighbor_id long, sim_e6 long")


def _topk_window(scored: DataFrame, k: int, col: str = "sim_e6") -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.col(col).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", col)
    )


def _no_queries(spark: SparkSession, k: int, col: str = "sim_e6") -> DataFrame:
    """Zero rows in a top-k verb's own schema: the corpus holds no vector
    with vec_id < N_QUERIES, so there is nothing to search for."""
    scored = local_rows_df(spark, [], f"q_id long, neighbor_id long, {col} long")
    return _topk_window(scored, k, col)


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k neighbors for the first N_QUERIES vectors."""
    emb = _finite_vecs(table(spark, sf_dir, "embeddings"))
    q_ids, q_mat = _collect_queries(emb)
    cand = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    scored = _scored_pairs(cand, q_ids, q_mat, local_k=TOP_K, threshold_e6=None)
    return _topk_window(scored, TOP_K)


_COSINE_TOPK_SQL = f"""
SELECT q_id, neighbor_id, rank, sim_e6 FROM (
  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         {_SQL_SIM} AS sim_e6,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_SQL_SIM} DESC, b.vec_id) AS rank
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES})
WHERE rank <= {TOP_K}
"""


def cosine_topk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style pruned top-k: only candidates in the query's coarse cell
    (label) are scored — per-cell scan instead of full scan."""
    emb = _finite_vecs(table(spark, sf_dir, "embeddings"))
    q_ids, q_mat, q_labels = _collect_queries(emb, with_label=True)
    cand = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding", "label")
    scored = _scored_pairs(cand, q_ids, q_mat, local_k=3, threshold_e6=None, q_labels=q_labels)
    return _topk_window(scored, 3)


_COSINE_TOPK_PART_SQL = f"""
SELECT q_id, neighbor_id, rank, sim_e6 FROM (
  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         {_SQL_SIM} AS sim_e6,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_SQL_SIM} DESC, b.vec_id) AS rank
  FROM embeddings a
  JOIN embeddings b ON b.label = a.label AND b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES})
WHERE rank <= 3
"""


def _blocked_pairs(
    left: DataFrame,
    right: DataFrame | None,
    threshold_e6: int,
    names: tuple[str, str],
    n_blocks: int = NEARDUP_BLOCKS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The one blocked all-pairs kernel: every (left, right) pair with
    sim_e6 >= ``threshold_e6`` as rows ``(names[0], names[1], sim_e6)``,
    fully distributed (no driver collect).

    Each side hash-splits into ``n_blocks`` blocks on the id and every
    row is replicated across its partner blocks, so each pair meets in
    exactly one block-pair group; the groups cogroup into tasks that
    score through ``_threshold_hits``. Each row shuffles ~n_blocks times
    and task memory is O(block_rows * d + SCORE_CELLS_CAP): the rows of
    two blocks plus ONE bounded score chunk (the naive per-task score
    matrix is O((N/B)^2) cells, 14 GB/task at the round-11 probe's
    100k-vector corpus). At 100 TB pick n_blocks so one block's ROWS fit
    an executor.

    ``right=None`` joins ``left`` with itself: only block pairs
    ``pi <= pj`` form, so no pair is scored twice, the diagonal keeps
    its strict upper triangle, and pairs come out as ``(min, max)`` ids.
    Two distinct sides keep every pair, id collisions included (train
    and held-out ids are independent spaces)."""
    import numpy as np

    self_join = right is None
    B = n_blocks
    all_blocks = F.array(*[F.lit(i) for i in range(B)])

    def blocked(df, own, other):
        # block ids must be the SAME type on both cogroup sides: pmod is
        # LONG while exploded literals are INT — mismatched key types
        # silently misalign cogroup groups, so pin both to INT. pmod (not
        # %): Spark's % follows the dividend's sign, so a negative id
        # would land in a blk < 0 that never matches the exploded 0..B-1
        # partner blocks and every pair involving that row would vanish.
        out = df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.pmod(F.col(id_col), F.lit(B)).cast("int").alias(own),
        ).withColumn(other, F.explode(all_blocks))
        if self_join:
            out = out.filter(F.col("pi") <= F.col("pj"))
        return out.select("pi", "pj", "vec_id", "embedding")

    a_col, b_col = names
    empty = pd.DataFrame({a_col: [], b_col: [], "sim_e6": []})
    hits = _threshold_hits(threshold_e6)

    def block_pairs(key, lg: pd.DataFrame, rg: pd.DataFrame) -> pd.DataFrame:
        if not len(lg) or not len(rg):
            return empty
        a_ids = lg["vec_id"].to_numpy(dtype="int64")
        b_ids = rg["vec_id"].to_numpy(dtype="int64")
        # a self-join's diagonal block sits on both sides: upper triangle
        diag = self_join and key[0] == key[1]
        ai, bj, e6 = hits(_mat(lg), _mat(rg), (a_ids, b_ids) if diag else None)
        a, b = a_ids[ai], b_ids[bj]
        if self_join:
            a, b = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({a_col: a, b_col: b, "sim_e6": e6})

    # fresh_attrs: both sides may derive from ONE table (a self-join
    # always does), which shares attribute ids across the cogroup;
    # without it column pruning under a no-output consumer (count)
    # strips the right child to key-only frames (base.fresh_attrs)
    lhs = blocked(left, "pi", "pj")
    rhs = fresh_attrs(blocked(left if self_join else right, "pj", "pi"))
    return python_stage(
        lhs.groupBy("pi", "pj").cogroup(rhs.groupBy("pi", "pj")),
        block_pairs,
        f"{a_col} long, {b_col} long, sim_e6 long",
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_e6: int = NEARDUP_E6,
    n_blocks: int = NEARDUP_BLOCKS,
) -> DataFrame:
    """Public API: exact all-pairs cosine near-dup over ANY embeddings
    DataFrame, fully distributed: the finite vectors joined with
    themselves through the blocked kernel ``_blocked_pairs``, emitting
    ``(vec_a, vec_b, sim_e6)`` with ``vec_a < vec_b``. (The reference
    has no similarity surface; this is the training-data extension named
    in SURVEY.md §2.6.)
    """
    return _blocked_pairs(
        _finite_vecs(df, vec_col), None, threshold_e6, ("vec_a", "vec_b"),
        n_blocks, id_col, vec_col,
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, sim >= 0.40)
    via the blocked distributed all-pairs path (see embedding_neardup_pairs)."""
    return embedding_neardup_pairs(table(spark, sf_dir, "embeddings"))


# ~25 MB closure at 64 float32 dims
EMB_BCAST_VECS = Gate("TOMIX_EMB_BCAST_VECS", 100_000)


def embedding_decontam_pairs(
    train: DataFrame,
    held_out: DataFrame,
    threshold_e6: int = NEARDUP_E6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Public API: embedding-space benchmark decontamination — every
    (train, held-out) pair with cosine >= threshold, the semantic
    companion to the shingle-overlap ``decontam_overlap``.

    Scale shape, AUTO-GATED like ``decontam_overlap``: the held-out side
    is counted first (one narrow job). At or below the gate
    (``TOMIX_EMB_BCAST_VECS``, default 100k vectors) its unit matrix
    rides in the UDF closure and the 100 TB train side streams through
    ONE Arrow-batched mapInPandas (a BLAS matmul per batch, only
    above-threshold rows surviving); no join, no shuffle. Above the gate
    the plan flips to the two-sided blocked cogroup
    (``_blocked_pairs``) — same answers, bounded task memory —
    instead of trusting the caller not to collect an oversized suite.
    """
    # null-vector rows contribute nothing on either engine (NULL sim
    # fails every predicate) — drop them before gating and collecting
    train = _finite_vecs(train, vec_col)
    held_out = _finite_vecs(held_out, vec_col)
    # ONE bounded probe job decides the tier AND (under the gate) IS the
    # collect (Gate.collect_or_none) — the old shape paid a separate
    # count job before an identical toPandas. Over the gate the wasted
    # transfer is bounded by the cap (~25 MB at the default) and the
    # blocked cogroup runs unchanged.
    pdf = EMB_BCAST_VECS.collect_or_none(held_out.select(id_col, vec_col))
    if pdf is None:
        return _blocked_pairs(
            train, held_out, threshold_e6, ("train_id", "eval_id"),
            id_col=id_col, vec_col=vec_col,
        )
    pdf = pdf.sort_values(id_col)
    ids = pdf[id_col].to_numpy(dtype="int64")
    mat = _mat(pdf, col=vec_col)
    cand = train.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("embedding")
    )
    # exclude_self=False: train and held-out ids are independent spaces —
    # a numeric collision is still a real (train, eval) pair, and the
    # cogroup fallback above keeps such pairs, so both gate sides agree
    return _scored_pairs(
        cand, ids, mat, local_k=None, threshold_e6=threshold_e6, exclude_self=False
    ).select(
        F.col("neighbor_id").alias("train_id"),
        F.col("q_id").alias("eval_id"),
        "sim_e6",
    )


def embedding_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: label 0 plays the held-out benchmark, every
    other label the training corpus; emit contaminated (train, eval)
    pairs at the near-dup threshold."""
    emb = ensure_parallel(table(spark, sf_dir, "embeddings"), "vec_id")
    held = emb.filter(F.col("label") == 0)
    train = emb.filter(F.col("label") != 0)
    return embedding_decontam_pairs(train, held)


_EMBEDDING_DECONTAM_SQL = f"""
SELECT a.vec_id AS train_id, b.vec_id AS eval_id, {_SQL_SIM} AS sim_e6
FROM (SELECT * FROM embeddings WHERE label <> 0) a
JOIN (SELECT * FROM embeddings WHERE label = 0) b ON true
WHERE {_SQL_SIM} >= {NEARDUP_E6}
"""


_EMBEDDING_NEARDUP_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_SQL_SIM} AS sim_e6
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_SQL_SIM} >= {NEARDUP_E6}
"""


def ann_ivf_topk(emb: DataFrame, k: int = TOP_K, nprobe: int = 2) -> DataFrame:
    """IVF ANN with learned coarse centroids over any ``(vec_id,
    embedding)`` DataFrame.

    Centroid training runs driver-side (numpy Lloyd iterations) on the
    ``_train_sample`` of the corpus, which also brings back the queries.
    Sparse/non-dense id spaces can under-fill its ``pmod(vec_id, step)``
    filter, so the sample falls back to a bounded ``limit`` and K clamps
    to the sample size. Cell assignment is FUSED into the scoring stage:
    one mapInPandas pass assigns each batch's vectors to cells (matmul vs
    broadcast centroids) and scores them against the queries probing that
    cell — no corpus collect, no assignment join. Each query probes its
    ``nprobe`` nearest cells (default 2); ``nprobe >= K`` probes every
    cell, which makes the result EXACTLY the brute-force top-k — the
    quality contract tests/test_advanced.py pins (full-probe == exact,
    recall floor at nprobe=2, monotone in nprobe).
    """
    import numpy as np

    # NPROBE > #centroids just probes them all (argsort slice saturates)
    K, N_ITER, NPROBE = 16, 8, nprobe
    spark = emb.sparkSession
    emb = _finite_vecs(emb)  # null/NaN/Inf vecs score nothing
    sample_pdf, q_pdf = _train_sample(emb)
    if len(sample_pdf) < K:
        # the % step filter assumes a dense id space; sparse/non-dense ids
        # can under-sample (even to zero rows). Fall back to a bounded
        # limit — training vectors just need to be a representative
        # handful, exact membership doesn't matter.
        sample_pdf = (
            emb.select("vec_id", "embedding").limit(2048).toPandas().sort_values("vec_id")
        )
    if not len(sample_pdf):
        raise ValueError("ann_ivf: empty corpus — nothing to train centroids on")
    centroids = _lloyd(_mat(sample_pdf), K, N_ITER, lambda m: m.mean(axis=0))

    if not len(q_pdf):
        return _no_queries(spark, k)
    q_ids = q_pdf["vec_id"].to_numpy(dtype="int64")
    q_mat = _mat(q_pdf)
    # each query probes its NPROBE nearest cells (driver-side, Q x K)
    probe = np.argsort(_sq_dists(q_mat, centroids), axis=1)[:, :NPROBE]
    score = _score_blocks()

    def assign_and_score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            c = _mat(pdf)
            cell = _sq_dists(c, centroids).argmin(axis=1)
            n_ids = pdf["neighbor_id"].to_numpy(dtype="int64")
            for lo, e6 in score(c, q_mat):
                ids = n_ids[lo : lo + len(e6)]
                probed = (cell[lo : lo + len(e6), None, None] == probe[None]).any(axis=2)
                ri, qi = _local_topk(e6, probed & (ids[:, None] != q_ids), ids, k)
                yield pd.DataFrame(
                    {"q_id": q_ids[qi], "neighbor_id": ids[ri], "sim_e6": e6[ri, qi]}
                )

    cand = ensure_parallel(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    scored = python_stage(cand, assign_and_score, "q_id long, neighbor_id long, sim_e6 long")
    return _topk_window(scored, k)


LSH_TABLES = 4  # L independent hash tables (union of candidates)
LSH_BITS = 4  # P sign bits per table -> 2^P buckets
LSH_DIM = 64


def _lsh_planes() -> list[list[float]]:
    """L*P deterministic pseudo-random hyperplanes in R^dim: coefficients
    are md5-derived uniforms in [-1, 1). No RNG state — the SAME double
    literals are embedded in the Spark expressions and the DuckDB oracle,
    so bucket assignment is engine-identical (h/2^31 is a power-of-two
    division: exactly representable, repr round-trips)."""
    import hashlib

    planes = []
    for t in range(LSH_TABLES):
        for p in range(LSH_BITS):
            coeffs = []
            for d in range(LSH_DIM):
                h = int(
                    hashlib.md5(f"lsh:{t}:{p}:{d}".encode()).hexdigest()[:8], 16
                )
                coeffs.append(h / 2147483648.0 - 1.0)
            planes.append(coeffs)
    return planes


_PLANES = _lsh_planes()


def _lsh_buckets(m):
    """(B, dim) vectors -> (B, L) int64 bucket ids: bit p of table t's
    bucket is the sign of the vector's dot with plane t*P + p. The one
    numpy copy of the bucket math; the DuckDB oracle spells it in
    ``_sql_bucket``.

    Sign parity with the oracle: numpy's summation order differs from
    DuckDB's sequential list_dot_product by ~1 ulp, which could only flip
    a bucket bit if |dot| were within ~1e-15 of zero — the corpus-wide
    minimum margin is ~1e-5 at every test SF (checked offline), ten
    orders of magnitude of headroom, so bucket assignment is
    engine-identical despite the float noise."""
    import numpy as np

    planes_t = np.array(_PLANES, dtype="float64").T  # (dim, L*P)
    pows = np.array([1 << p for p in range(LSH_BITS)], dtype="int64")
    bits = (m @ planes_t >= 0).reshape(len(m), LSH_TABLES, LSH_BITS)
    return (bits * pows).sum(axis=2)


def _lsh_signatures(df: DataFrame) -> DataFrame:
    """(vec_id, embedding) -> L rows (vec_id, t, bucket): one Arrow batch
    matmul against all L*P planes (``_lsh_buckets``), one row per table."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            m = np.array(list(pdf["embedding"]), dtype="float64")  # raw, unnormalized
            buckets = _lsh_buckets(m).astype("int32")  # (B, L)
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, LSH_TABLES),
                    "t": np.tile(np.arange(LSH_TABLES, dtype="int32"), len(m)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return python_stage(df, batches, "vec_id long, t int, bucket int")


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane signatures, L hash tables of P
    sign bits, candidates = bucket collisions in ANY table, exact cosine
    re-rank of the candidate union. Unlike ann_ivf (learned centroids, no
    SQL oracle) this path is FULLY oracle-checked: hyperplanes are
    deterministic md5-derived literals, so DuckDB reproduces buckets,
    candidate sets, and ranks exactly.

    Scale shape (query-lookup regime, tiny query set): the query buckets
    ride in the UDF closure, so bucket-match + exact re-rank FUSE into a
    single mapInPandas pass over the corpus — a map-side bucket join with
    zero shuffles before the final top-k exchange, which itself carries
    at most k rows per query per batch (local top-k inside the stage).
    Candidate matching is one (B, Q, L) broadcast compare per Arrow
    batch; scoring is one BLAS matmul. For the corpus-x-corpus or
    large-query-set regime this closure no longer fits; then signatures
    (``_lsh_signatures``) are stored bucketed-by-(t, bucket) and
    candidate generation becomes the co-located equi-join on
    (t, bucket) — the bucket-join analog of minhash-LSH band pairs."""
    import numpy as np

    emb = _finite_vecs(ensure_parallel(table(spark, sf_dir, "embeddings"), "vec_id"))
    q_ids, q_mat = _collect_queries(emb)
    if not len(q_ids):
        return _no_queries(spark, TOP_K)
    # Query signatures DRIVER-SIDE from the already-collected query matrix
    # (bucket bits are sign(dot) — norm-invariant, so the unit rows give
    # the same bits as raw vectors): no extra Spark job.
    q_buckets = _lsh_buckets(q_mat)  # (Q, L)
    score = _score_blocks()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            m = np.array(list(pdf["embedding"]), dtype="float64")  # raw
            buckets = _lsh_buckets(m)  # (B, L)
            match = (buckets[:, None, :] == q_buckets[None, :, :]).any(axis=2)
            n_ids = pdf["vec_id"].to_numpy(dtype="int64")
            for lo, e6 in score(_mat(pdf), q_mat):
                ids = n_ids[lo : lo + len(e6)]
                hit = match[lo : lo + len(e6)] & (ids[:, None] != q_ids)
                ri, qi = _local_topk(e6, hit, ids, TOP_K)
                yield pd.DataFrame(
                    {"q_id": q_ids[qi], "neighbor_id": ids[ri], "sim_e6": e6[ri, qi]}
                )

    scored = python_stage(emb, batches, "q_id long, neighbor_id long, sim_e6 long")
    return _topk_window(scored, TOP_K)


def _sql_plane_list(plane: list[float]) -> str:
    return "[" + ", ".join(repr(c) for c in plane) + "]"


def _sql_bucket(t: int) -> str:
    # list_dot_product on DOUBLE[] is a sequential native loop: verified
    # bitwise-equal to the explicit list_reduce left fold on this corpus
    # (and to Spark's F.aggregate fold), at ~1000x the lambda speed.
    bits = []
    for p in range(LSH_BITS):
        dot = (
            "list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"{_sql_plane_list(_PLANES[t * LSH_BITS + p])})"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS INTEGER)"


_ANN_LSH_SQL = f"""
WITH sig AS (
  SELECT vec_id,
    unnest([{", ".join(str(t) for t in range(LSH_TABLES))}]) AS t,
    unnest([{", ".join(_sql_bucket(t) for t in range(LSH_TABLES))}]) AS bucket
  FROM embeddings),
pairs AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
  FROM sig q JOIN sig c ON q.t = c.t AND q.bucket = c.bucket
    AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}),
scored AS (
  SELECT p.q_id, p.neighbor_id,
    CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) * 1000000)
         AS BIGINT) AS sim_e6
  FROM pairs p
  JOIN embeddings a ON a.vec_id = p.q_id
  JOIN embeddings b ON b.vec_id = p.neighbor_id)
SELECT q_id, neighbor_id, rank, sim_e6 FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY sim_e6 DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library entry point: learned-float IVF ANN on the ``embeddings``
    table. Retired from the query registry in round 8: float Lloyd
    training isn't SQL-expressible, so the row could never carry more
    than a rows-only check — the scalar-quantized ``ann_ivf_q`` carries
    the FULL oracle (training included) and is the registered IVF.
    This path keeps its hard quality contract in
    tests/test_advanced.py::TestAnnIvf (calibrated recall floor at
    nprobe=2, monotone recall, full-probe == brute-force exactly)."""
    return ann_ivf_topk(table(spark, sf_dir, "embeddings"))


# -- quantized IVF: integer-exact end to end --------------------------------
IVFQ_CELLS = 16  # coarse cells (K-means K)
IVFQ_ITER = 4  # Lloyd iterations, unrolled in the SQL oracle
IVFQ_NPROBE = 2
IVFQ_SCALE = 1_000_000  # scalar quantization: val = floor(x * 1e6)


def _quant(m) -> "np.ndarray":
    """float embedding matrix -> int64 e6 quantization. floor(x * 1e6) is
    engine-exact: the float32 cell widens to float64 exactly, one float64
    multiply is deterministic IEEE-754, floor is exact — no summation
    happens before quantization, so there is no order-of-evaluation
    noise anywhere."""
    import numpy as np

    return np.floor(m.astype("float64") * float(IVFQ_SCALE)).astype("int64")


def ann_ivf_quantized(
    emb: DataFrame, k: int = TOP_K, nprobe: int = IVFQ_NPROBE
) -> DataFrame:
    """Scalar-quantized IVF ANN (the FAISS SQ+IVF practice): vectors are
    quantized to int64 e6 once, and EVERYTHING downstream — Lloyd
    centroid training, cell assignment, probe selection, and the final
    max-inner-product scores — is exact int64 arithmetic. That buys two
    things: (1) bit-identical results on any engine, partitioning, or
    thread count (the learned-float ``ann_ivf`` can't promise that),
    which is why this variant has a FULL DuckDB oracle with the 4-round
    Lloyd loop unrolled in SQL; (2) the quantized index is the shape a
    100 TB deployment actually ships (int8/int16 codes, exact integer
    distance kernels).

    Scale shape mirrors ``ann_ivf_topk``: training runs driver-side on
    the deterministic ``_train_sample`` (O(sample) driver memory), then
    ONE mapInPandas pass fuses per-batch quantize + cell-assign +
    integer matmul scoring + local top-k; only <=k rows per query per
    batch reach the final top-k exchange. Ties break to the lowest cell
    (np.argmin / stable argsort == the oracle's ORDER BY dist, cell)."""
    import numpy as np

    spark = emb.sparkSession
    emb = _finite_vecs(emb)  # null/NaN/Inf vecs score nothing
    sample_pdf, q_pdf = _train_sample(emb)
    if not len(sample_pdf):
        raise ValueError("ann_ivf_quantized: empty training sample")
    if not len(q_pdf):
        return _no_queries(spark, k, "score")
    sm = _quant(np.array(list(sample_pdf["embedding"]), dtype="float64"))
    cent = _lloyd(sm, IVFQ_CELLS, IVFQ_ITER, _int_mean)

    q_ids = q_pdf["vec_id"].to_numpy(dtype="int64")
    qm = _quant(np.array(list(q_pdf["embedding"]), dtype="float64"))
    # stable sort: equal distances resolve to the lowest cell index
    probe = np.argsort(_sq_dists(qm, cent), axis=1, kind="stable")[:, :nprobe]

    def assign_and_score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            m = _quant(np.array(list(pdf["embedding"]), dtype="float64"))
            cell = _sq_dists(m, cent).argmin(axis=1)
            scores = m @ qm.T  # exact int64 inner products (B, Q)
            n_ids = pdf["neighbor_id"].to_numpy(dtype="int64")
            probed = (cell[:, None, None] == probe[None]).any(axis=2)
            ri, qi = _local_topk(scores, probed & (n_ids[:, None] != q_ids), n_ids, k)
            yield pd.DataFrame(
                {"q_id": q_ids[qi], "neighbor_id": n_ids[ri], "score": scores[ri, qi]}
            )

    cand = ensure_parallel(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    scored = python_stage(
        cand, assign_and_score, "q_id long, neighbor_id long, score long"
    )
    return _topk_window(scored, k, "score")


def ann_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: quantized IVF over the embeddings table —
    integer-exact, so fully DuckDB-oracle-checked (including training)."""
    return ann_ivf_quantized(table(spark, sf_dir, "embeddings"))


def _ivfq_sql() -> str:
    """Generate the oracle: the 4-round Lloyd loop unrolled as chained
    CTEs over a long-format (id, dim, val) quantized view of the finite
    vectors (``_SQL_FINITE_CTE``). DuckDB's `//` truncates toward zero
    — ``_int_mean`` mirrors that exactly."""
    sq = (
        "SELECT vec_id, "
        "unnest(generate_series(1, len(embedding))) AS dim, embedding "
        "FROM fe"
    )
    parts = [
        f"""WITH {_SQL_FINITE_CTE},
p AS (SELECT greatest(2, COUNT(*) // 1024) AS step FROM fe),
bl0 AS ({sq}),
bl AS MATERIALIZED (
  SELECT vec_id, dim,
         CAST(floor(CAST(embedding[dim] AS DOUBLE) * {IVFQ_SCALE}) AS BIGINT) AS val
  FROM bl0),
sl AS MATERIALIZED (SELECT vec_id, dim, val FROM bl WHERE vec_id % (SELECT step FROM p) = 0),
c0 AS MATERIALIZED (
  SELECT CAST(r - 1 AS BIGINT) AS cell, dim, val
  FROM (SELECT dim, val, dense_rank() OVER (ORDER BY vec_id) AS r FROM sl)
  WHERE r <= {IVFQ_CELLS})"""
    ]
    for i in range(1, IVFQ_ITER + 1):
        parts.append(
            f"""d{i} AS (
  SELECT s.vec_id, c.cell, SUM((s.val - c.val) * (s.val - c.val)) AS dist
  FROM sl s JOIN c{i - 1} c USING (dim) GROUP BY 1, 2),
a{i} AS (
  SELECT vec_id, (min(struct_pack(d := dist, c := cell))).c AS cell
  FROM d{i} GROUP BY vec_id),
m{i} AS (
  SELECT a.cell, s.dim, SUM(s.val) AS sv, COUNT(*) AS cnt
  FROM a{i} a JOIN sl s USING (vec_id) GROUP BY 1, 2),
c{i} AS MATERIALIZED (
  SELECT pc.cell, pc.dim, CAST(COALESCE(m.sv // m.cnt, pc.val) AS BIGINT) AS val
  FROM c{i - 1} pc LEFT JOIN m{i} m ON pc.cell = m.cell AND pc.dim = m.dim)"""
        )
    cn = f"c{IVFQ_ITER}"
    parts.append(
        f"""qs AS (SELECT vec_id AS q_id, dim, val FROM bl WHERE vec_id < {N_QUERIES}),
qd AS (
  SELECT q.q_id, c.cell, SUM((q.val - c.val) * (q.val - c.val)) AS dist
  FROM qs q JOIN {cn} c USING (dim) GROUP BY 1, 2),
probe AS (
  SELECT q_id, cell FROM (
    SELECT q_id, cell,
           row_number() OVER (PARTITION BY q_id ORDER BY dist, cell) AS rn
    FROM qd) WHERE rn <= {IVFQ_NPROBE}),
ad AS (
  SELECT b.vec_id, c.cell, SUM((b.val - c.val) * (b.val - c.val)) AS dist
  FROM bl b JOIN {cn} c USING (dim) GROUP BY 1, 2),
assign AS (
  SELECT vec_id, (min(struct_pack(d := dist, c := cell))).c AS cell
  FROM ad GROUP BY vec_id),
cand AS (
  SELECT pr.q_id, a.vec_id AS neighbor_id
  FROM probe pr JOIN assign a USING (cell)
  WHERE a.vec_id <> pr.q_id),
scored AS (
  SELECT ca.q_id, ca.neighbor_id, SUM(nb.val * qb.val) AS score
  FROM cand ca
  JOIN bl nb ON nb.vec_id = ca.neighbor_id
  JOIN bl qb ON qb.vec_id = ca.q_id AND qb.dim = nb.dim
  GROUP BY 1, 2)
SELECT q_id, neighbor_id, rank, CAST(score AS BIGINT) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= {TOP_K}"""
    )
    return ",\n".join(parts)


_ANN_IVFQ_SQL = _ivfq_sql()


# -- product quantization: integer-exact end to end --------------------------
# PQ is THE compressed-index path at 100 TB (FAISS IVF+PQ): vectors are
# split into PQ_SUBS subvectors, each subspace gets its own small Lloyd
# codebook, and a vector is stored as PQ_SUBS small codes. Query scoring
# is ADC (asymmetric distance computation): one (Q x SUBS x CELLS)
# lookup table of exact subspace distances, then each vector costs
# PQ_SUBS table lookups instead of a D-dim kernel — index size and scan
# cost drop by ~D/SUBS while the distance stays a true lower-dimension
# decomposition. Everything here is int64 e6 (same quantization as
# ann_ivf_q) so training, encoding, and ADC are bit-exact on any engine
# or partitioning, which is what lets the DuckDB oracle unroll the
# per-subspace Lloyd loop and hash-match end to end.
PQ_SUBS = 8  # subspaces (M) — 8 dims each over the 64-dim embeddings
PQ_CELLS = 16  # codebook entries per subspace (K*): 4 bits x 8 = 32-bit codes
PQ_ITER = 2  # Lloyd iterations per subspace, unrolled in the oracle
PQ_RERANK = 100  # ADC shortlist size fed to the exact refine step


def ann_pq_quantized(emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """Quantized product-quantization ANN with exact integer ADC scoring.

    Two stages, the FAISS IVFPQ+refine production shape:
    (1) ADC SHORTLIST — codebooks train driver-side on the
    deterministic ``_train_sample`` (O(sample * D) driver memory, the
    same sample as ``ann_ivf_quantized``); the corpus pass is
    ONE mapInPandas stage fusing quantize + per-subspace encode +
    LUT-sum scoring + exact re-rank distances for the batch's local ADC
    top-``rerank`` — so only <=rerank rows per query per batch reach
    the shuffle, and no full-precision vector crosses it (the property
    that makes PQ the 100 TB index layout).
    (2) REFINE — the global ADC top-``rerank`` (a batch's local top-R
    always contains its members of the global top-R, so the union is a
    superset and the window is exact) re-ranks by the exact int64
    squared-L2 carried from the batch. ADC alone is a lossy 32-bit
    code; the refine step recovers exact ordering within the shortlist,
    which is how PQ is actually served.
    Ties break to the lowest neighbor_id at BOTH stages (mirrored by
    the oracle's ORDER BY ..., neighbor_id)."""
    import numpy as np

    spark = emb.sparkSession
    emb = _finite_vecs(emb)  # null/NaN/Inf vecs score nothing
    sample_pdf, q_pdf = _train_sample(emb)
    if not len(sample_pdf):
        raise ValueError("ann_pq_quantized: empty training sample")
    if not len(q_pdf):
        return _no_queries(spark, k, "dist")
    sm = _quant(np.array(list(sample_pdf["embedding"]), dtype="float64"))
    d_full = sm.shape[1]
    if d_full % PQ_SUBS:
        raise ValueError(f"embedding dim {d_full} not divisible by {PQ_SUBS} subspaces")
    sub_d = d_full // PQ_SUBS
    subs = [slice(m * sub_d, (m + 1) * sub_d) for m in range(PQ_SUBS)]
    books = [_lloyd(sm[:, s], PQ_CELLS, PQ_ITER, _int_mean) for s in subs]

    q_ids = q_pdf["vec_id"].to_numpy(dtype="int64")
    qm = _quant(np.array(list(q_pdf["embedding"]), dtype="float64"))
    # ADC lookup tables: luts[m] is (Q, K*) exact subspace distances
    luts = [_sq_dists(qm[:, s], book) for s, book in zip(subs, books)]

    rerank = PQ_RERANK

    def encode_and_score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            mm = _quant(np.array(list(pdf["embedding"]), dtype="float64"))
            n_ids = pdf["neighbor_id"].to_numpy(dtype="int64")
            # per-subspace encode (one code per vector) + LUT sum: (B, Q)
            adc = np.zeros((len(mm), len(q_ids)), dtype=np.int64)
            for s, book, lut in zip(subs, books, luts):
                adc += lut[:, _sq_dists(mm[:, s], book).argmin(axis=1)].T
            # lowest ADC first: the shortlist ranks the negated distance
            ri, qi = _local_topk(-adc, n_ids[:, None] != q_ids, n_ids, rerank)
            yield pd.DataFrame(
                {
                    "q_id": q_ids[qi],
                    "neighbor_id": n_ids[ri],
                    "adc": adc[ri, qi],
                    # exact refine distances only for the local shortlist
                    "dist": ((mm[ri] - qm[qi]) ** 2).sum(axis=1),
                }
            )

    cand = ensure_parallel(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    scored = python_stage(
        cand, encode_and_score, "q_id long, neighbor_id long, adc long, dist long"
    )
    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("neighbor_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= rerank)
        .drop("rn")
    )
    w_ref = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("neighbor_id"))
    return (
        shortlist.withColumn("rank", F.row_number().over(w_ref))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "dist")
    )


def ann_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: product-quantized ANN over the embeddings table —
    integer-exact, fully oracle-checked including per-subspace training."""
    return ann_pq_quantized(table(spark, sf_dir, "embeddings"))


def _pq_sql() -> str:
    """Oracle: the per-subspace Lloyd loop unrolled as chained CTEs over
    a long-format (vec_id, sub, dim, val) quantized view of the finite
    vectors — the ivfq oracle's structure with ``sub`` added to every
    grouping key, so one CTE chain trains BOTH codebooks at once. ADC
    re-derives as assign-join-LUT and sums the subspace distances."""
    sub_case = "CAST((dim - 1) // sub_d AS BIGINT)"
    parts = [
        f"""WITH {_SQL_FINITE_CTE},
p AS (SELECT greatest(2, COUNT(*) // 1024) AS step FROM fe),
bl0 AS (
  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS dim,
         len(embedding) // {PQ_SUBS} AS sub_d, embedding
  FROM fe),
bl AS MATERIALIZED (
  SELECT vec_id, {sub_case} AS sub, dim,
         CAST(floor(CAST(embedding[dim] AS DOUBLE) * {IVFQ_SCALE}) AS BIGINT) AS val
  FROM bl0),
sl AS MATERIALIZED (SELECT vec_id, sub, dim, val FROM bl WHERE vec_id % (SELECT step FROM p) = 0),
c0 AS MATERIALIZED (
  SELECT sub, CAST(r - 1 AS BIGINT) AS cell, dim, val
  FROM (SELECT sub, dim, val, dense_rank() OVER (PARTITION BY sub ORDER BY vec_id) AS r
        FROM sl)
  WHERE r <= {PQ_CELLS})"""
    ]
    for i in range(1, PQ_ITER + 1):
        parts.append(
            f"""d{i} AS (
  SELECT s.vec_id, s.sub, c.cell, SUM((s.val - c.val) * (s.val - c.val)) AS dist
  FROM sl s JOIN c{i - 1} c ON s.sub = c.sub AND s.dim = c.dim GROUP BY 1, 2, 3),
a{i} AS (
  SELECT vec_id, sub, (min(struct_pack(d := dist, c := cell))).c AS cell
  FROM d{i} GROUP BY vec_id, sub),
m{i} AS (
  SELECT a.sub, a.cell, s.dim, SUM(s.val) AS sv, COUNT(*) AS cnt
  FROM a{i} a JOIN sl s ON a.vec_id = s.vec_id AND a.sub = s.sub
  GROUP BY 1, 2, 3),
c{i} AS MATERIALIZED (
  SELECT pc.sub, pc.cell, pc.dim, CAST(COALESCE(m.sv // m.cnt, pc.val) AS BIGINT) AS val
  FROM c{i - 1} pc
  LEFT JOIN m{i} m ON pc.sub = m.sub AND pc.cell = m.cell AND pc.dim = m.dim)"""
        )
    cn = f"c{PQ_ITER}"
    parts.append(
        f"""qs AS (SELECT vec_id AS q_id, sub, dim, val FROM bl WHERE vec_id < {N_QUERIES}),
lut AS (
  SELECT q.q_id, c.sub, c.cell, SUM((q.val - c.val) * (q.val - c.val)) AS dist
  FROM qs q JOIN {cn} c ON q.sub = c.sub AND q.dim = c.dim GROUP BY 1, 2, 3),
ad AS (
  SELECT b.vec_id, b.sub, c.cell, SUM((b.val - c.val) * (b.val - c.val)) AS dist
  FROM bl b JOIN {cn} c ON b.sub = c.sub AND b.dim = c.dim GROUP BY 1, 2, 3),
assign AS (
  SELECT vec_id, sub, (min(struct_pack(d := dist, c := cell))).c AS cell
  FROM ad GROUP BY vec_id, sub),
adc AS (
  SELECT l.q_id, a.vec_id AS neighbor_id, SUM(l.dist) AS adc
  FROM assign a JOIN lut l ON a.sub = l.sub AND a.cell = l.cell
  GROUP BY 1, 2),
shortlist AS (
  SELECT q_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY adc, neighbor_id) AS rn
    FROM adc WHERE neighbor_id <> q_id) WHERE rn <= {PQ_RERANK}),
refine AS (
  SELECT s.q_id, s.neighbor_id,
         SUM((b.val - qb.val) * (b.val - qb.val)) AS dist
  FROM shortlist s
  JOIN bl b ON b.vec_id = s.neighbor_id
  JOIN bl qb ON qb.vec_id = s.q_id AND qb.sub = b.sub AND qb.dim = b.dim
  GROUP BY 1, 2)
SELECT q_id, neighbor_id, rank, CAST(dist AS BIGINT) AS dist FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY dist, neighbor_id) AS rank
  FROM refine) WHERE rank <= {TOP_K}"""
    )
    return ",\n".join(parts)


_ANN_PQ_SQL = _pq_sql()


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids) — the building block
    for centroid classifiers, cluster summaries, and IVF-style coarse
    indexes over a LABELED corpus.

    Scale shape: the elementwise vector aggregate is declared as
    posexplode -> groupBy(label, dim) — entirely whole-stage codegen,
    and the hash aggregate's MAP-SIDE PARTIALS collapse each task to at
    most |labels| x D rows before the only exchange, so the shuffle is
    index-sized no matter how many vectors feed it (the same reason
    one-pass dedup counting scales). Values quantize to int64 e6 before
    any summation, so the centroid (truncating integer mean, DuckDB's
    ``//``) is bit-exact under any partitioning."""
    emb = _finite_vecs(ensure_parallel(table(spark, sf_dir, "embeddings"), "vec_id"))
    q = F.floor(F.col("val").cast("double") * IVFQ_SCALE).cast("long")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "val"))
        .select("label", "dim", q.alias("q"))
        .groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("s"))
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("dim").cast("long").alias("dim"),
            "n",
            F.expr("s div n").alias("centroid"),
        )
    )


_LABEL_CENTROIDS_SQL = f"""
WITH v AS (
  SELECT label, unnest(generate_series(1, len(embedding))) AS dim1, embedding
  FROM embeddings),
q AS (
  SELECT label, dim1 - 1 AS dim,
         CAST(floor(CAST(embedding[dim1] AS DOUBLE) * {IVFQ_SCALE}) AS BIGINT) AS qv
  FROM v)
SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(qv) // COUNT(*) AS BIGINT) AS centroid
FROM q GROUP BY label, dim
"""


def embedding_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup keep-list — the missing last verb
    of the similarity family: blocked-cogroup cosine near-dup pairs ->
    connected components (size-adaptive union-find / label propagation,
    identity.py) -> keep the MIN vec_id per duplicate cluster, plus every
    vector with no near-dup (including null/non-finite vectors, which are
    not candidates by the ``_finite_vecs`` policy and so keep
    themselves). The embedding twin of ``dedup_keep_list`` (shingle
    Jaccard) and ``lsh_keep_list`` (MinHash banding).

    Scale shape: pairs come from the chunked blocked kernel (task memory
    O(block_rows*d + SCORE_CELLS_CAP)); CC flips to distributed label
    propagation past TOMIX_CC_LOCAL_MAX (probe-verified at 2.5M edges);
    the final anti-join keys on vec_id only."""
    from tomixpanel_spark.operators.identity import keep_per_cluster

    emb = ensure_parallel(table(spark, sf_dir, "embeddings"), "vec_id")
    _, drops = keep_per_cluster(
        embedding_neardup_pairs(emb), a="vec_a", b="vec_b"
    )
    return emb.select("vec_id").join(
        drops.select(F.col("node").alias("vec_id")), "vec_id", "left_anti"
    )


_EMBEDDING_KEEP_LIST_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {_SQL_SIM} >= {NEARDUP_E6}),
sym AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs),
walk(node, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node)
SELECT e.vec_id
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
WHERE c.node IS NULL OR c.component = e.vec_id
"""


# Helper modules whose changes should count as a change to this
# module's registered queries for the external-window rotation
# (rule: code changed since last external green outranks staleness).
ROTATION_DEPS = [
    "tomixpanel_spark.operators.identity",
]

REGISTRY = {
    "cosine_topk": QuerySpec(cosine_topk, _COSINE_TOPK_SQL, "ext:similarity"),
    "embedding_keep_list": QuerySpec(
        embedding_keep_list,
        _EMBEDDING_KEEP_LIST_SQL,
        "ext:similarity semantic dedup keep-list",
    ),
    "cosine_topk_partitioned": QuerySpec(
        cosine_topk_partitioned, _COSINE_TOPK_PART_SQL, "ext:similarity"
    ),
    "embedding_neardup": QuerySpec(embedding_neardup, _EMBEDDING_NEARDUP_SQL, "ext:similarity"),
    "embedding_decontam": QuerySpec(
        embedding_decontam, _EMBEDDING_DECONTAM_SQL, "ext:similarity decontamination"
    ),
    "ann_ivf_q": QuerySpec(
        ann_ivf_q, _ANN_IVFQ_SQL, "ext:similarity quantized IVF (integer-exact)"
    ),
    "ann_lsh": QuerySpec(ann_lsh, _ANN_LSH_SQL, "ext:similarity scale path"),
    "ann_pq_q": QuerySpec(
        ann_pq_q, _ANN_PQ_SQL, "ext:similarity product quantization (integer-exact)"
    ),
    "label_centroids": QuerySpec(
        label_centroids, _LABEL_CENTROIDS_SQL, "ext:similarity class centroids"
    ),
}
