"""Pipeline verbs: the composition queries that close the engine's
selection/dedup loops into the operations a pretraining-data run
actually executes end to end.

- ``dsir_select``   — APPLY the DSIR importance weights to select a
  corpus subset (Xie et al. 2023's selection step; the weights were
  previously computed but never consumed).
- ``corpus_clean``  — the fused quality gate chain (lang -> Gopher
  quality -> Gopher repetition -> exact-dup keep-first) in ONE plan
  with ONE corpus scan and no text-carrying exchange.
- ``semdedup_prune``— SemDeDup-style semantic pruning (Abbas et al.
  2023): k-means cluster the embeddings, near-dup WITHIN clusters only,
  keep the member least similar to its centroid.
- ``media_dedup_keep_list`` — perceptual near-dup pairs -> connected
  components -> keep-best, giving images the same end-to-end dedup
  story the text family has.

This module deliberately lives OUTSIDE the modules it composes: it
declares them as ROTATION_DEPS (an upstream edit re-queues these rows
for external verification) and reuses their public surface by import.
``corpus_clean`` re-expresses the Gopher gates over the primaries' own
SQL folds (``textops._sql_top_ngram``); the copy is pinned to the
primary definitions by
tests/test_pipelines.py::test_corpus_clean_matches_composed_gates and
both are independently DuckDB-oracle-checked.
``semdedup_clusters`` trains through similarity's ``_train_sample`` and
``_lloyd`` and pairs through ``_threshold_hits``, the kernels the ANN
verbs use, so no k-means or pairing code is copied here.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tomixpanel_spark.functions.text import SQL_WORDS, fingerprint, lang_guess, tokens
from tomixpanel_spark.operators.base import (
    QuerySpec,
    ensure_parallel,
    stage_checkpoint,
    table,
)
from tomixpanel_spark.operators.textops import (
    _DSIR_SQL,
    _SQL_STOPSET,
    GOPHER_MAX_DUP_WORD,
    GOPHER_MAX_TOP_BIGRAM,
    GOPHER_MIN_WORDS,
    GOPHER_MWL_HI,
    GOPHER_MWL_LO,
    GOPHER_TOP2_MAX_E6,
    GOPHER_TOP3_MAX_E6,
    GOPHER_TOP4_MAX_E6,
    dsir_weights,
)
from tomixpanel_spark.session import python_stage


# ---------------------------------------------------------------------------
# dsir_select — apply the DSIR weights (verdict r13 #3)
# ---------------------------------------------------------------------------

# Keep a document when its mean per-bigram frequency ratio is >= 1.0
# (e6-scaled): its hashed-bigram distribution is at least as target-like
# as the raw corpus average. Integer-exact: weight >= 1e6 * n_bigrams
# needs no division, so both engines compare the same int64s.
DSIR_SELECT_MIN_AVG_E6 = 1_000_000


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR SELECTION step (Xie et al. 2023): apply ``dsir_weights``
    to pick the target-like corpus subset — the verb the weights exist
    for. Deterministic threshold (mean bigram ratio >= 1.0, exact int64
    compare) instead of sampling, so the result is engine-reproducible.

    Scale shape: the weights plan (one narrow tokenize+hash pass, one
    bucket-id aggregate, zero doc-level shuffles — textops.dsir_weights)
    plus ONE hash join on doc_id to attach document columns to the
    keep-list; the documents side of that join is pruned to
    (doc_id, lang) at the scan."""
    w = dsir_weights(spark, sf_dir)
    sel = w.filter(
        (F.col("n_bigrams") > 0)
        & (
            F.col("dsir_weight_e6")
            >= F.lit(DSIR_SELECT_MIN_AVG_E6) * F.col("n_bigrams")
        )
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sel.join(docs, "doc_id").select(
        "doc_id", "lang", "n_bigrams", "dsir_weight_e6"
    )


_DSIR_SELECT_SQL = f"""
WITH weights AS MATERIALIZED ({_DSIR_SQL})
SELECT w.doc_id, d.lang, w.n_bigrams, w.dsir_weight_e6
FROM weights w JOIN documents d USING (doc_id)
WHERE w.n_bigrams > 0
  AND w.dsir_weight_e6 >= {DSIR_SELECT_MIN_AVG_E6} * w.n_bigrams
"""


# ---------------------------------------------------------------------------
# corpus_clean — fused gate chain (verdict r13 #5)
# ---------------------------------------------------------------------------

# Gate order is the cheap-to-expensive order a pretraining pipeline
# runs; first_failed_gate reports the FIRST failure in this order.
CLEAN_GATES = ("lang", "gopher_quality", "gopher_repetition", "exact_dup")


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused corpus-cleaning pipeline: language gate, Gopher quality
    gate, Gopher repetition gate, and exact-dup keep-first — the chain a
    pretraining run executes — in ONE plan, emitting
    (doc_id, keep, first_failed_gate).

    Scale shape (plan-locked): documents is scanned ONCE; every gate but
    exact-dup is a pure narrow codegen fold over that scan; the dup gate
    is a min-over-fingerprint window whose single exchange carries only
    (doc_id, fp, three booleans) — the text never crosses the wire. At
    100 TB that is one corpus pass plus one hash-width shuffle, vs the
    naive compose-by-join form's four scans and three doc_id joins.

    Gate semantics are exactly the standalone queries':
    lang_id (lang_guess == 'en'), gopher_quality (textops.py:675),
    gopher_repetition (textops.py:786), dedup_exact keep-first
    (dedup.py:339) — pinned by the composed-gates test."""
    docs = ensure_parallel(table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        (lang_guess("text") == "en").alias("lang_ok"),
        F.length("text").cast("bigint").alias("n_chars"),
        tokens("text").alias("words"),
    )
    words = F.col("words")
    n = F.size(words).cast("bigint")

    # -- per-doc feature row: one projection computing every fold once.
    # tot = total word characters (gopher_repetition's denominator);
    # t2/t3/t4 = (count, gram) of the top word n-gram — t2.c doubles as
    # gopher_quality's max-bigram count, so the bigram array is sorted
    # and folded exactly once per document. The folds are the PRIMARY
    # queries' shared SQL builders (textops._sql_top_ngram) — one
    # F.expr parse each instead of hundreds of py4j Column calls, and
    # the copy-drift pin now holds by construction.
    from tomixpanel_spark.operators.textops import _SQL_TOT_CHARS, _sql_top_ngram

    gated = base.select(
        "doc_id",
        "fp",
        "lang_ok",
        n.alias("n_words"),
        F.col("n_chars"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_distinct"),
        F.expr(_SQL_TOT_CHARS).alias("tot"),
        F.expr(_sql_top_ngram(2)).alias("t2"),
        F.expr(_sql_top_ngram(3)).alias("t3"),
        F.expr(_sql_top_ngram(4)).alias("t4"),
    )

    # -- gopher_quality keep (features per textops.gopher_quality) --
    nw = F.col("n_words")
    mwl = (F.col("n_chars") - nw + 1).cast("double") / nw.cast("double")
    dup_frac = F.lit(1.0) - F.col("n_distinct").cast("double") / nw.cast("double")
    top_bg_frac = F.coalesce(
        (F.nullif(F.col("t2.c"), F.lit(0).cast("long")) * 2).cast("double")
        / nw.cast("double"),
        F.lit(0.0),
    )
    # zero-word guard: a doc with no tokens fails the word-count bound by
    # definition, and the CASE WHEN keeps the per-token divisions from
    # ever evaluating on it (ANSI mode raises DIVIDE_BY_ZERO even for
    # doubles; the standalone gopher_quality never sees such docs in the
    # oracle corpora, so the fused verb defines the behavior explicitly)
    gq_ok = F.when(
        nw > 0,
        (nw >= GOPHER_MIN_WORDS)
        & (mwl >= GOPHER_MWL_LO)
        & (mwl <= GOPHER_MWL_HI)
        & (dup_frac <= GOPHER_MAX_DUP_WORD)
        & (top_bg_frac <= GOPHER_MAX_TOP_BIGRAM),
    ).otherwise(F.lit(False))

    # -- gopher_repetition keep (per textops.gopher_repetition) --
    fr = lambda ng: F.expr(  # noqa: E731 — the primary's exact div expr
        f"coalesce((t{ng}.c * (length(t{ng}.g) - {ng - 1}) * 1000000L)"
        f" div nullif(tot, 0L), 0L)"
    )
    gr_ok = (
        (fr(2) <= GOPHER_TOP2_MAX_E6)
        & (fr(3) <= GOPHER_TOP3_MAX_E6)
        & (fr(4) <= GOPHER_TOP4_MAX_E6)
    )
    narrow = gated.select(
        "doc_id", "fp", "lang_ok", gq_ok.alias("gq_ok"), gr_ok.alias("gr_ok")
    )

    # -- exact-dup keep-first: one hash-width exchange on fp --
    w = Window.partitionBy("fp")
    dup_ok = F.col("doc_id") == F.min("doc_id").over(w)
    out = narrow.withColumn("dup_ok", dup_ok)
    first_failed = (
        F.when(~F.col("lang_ok"), F.lit("lang"))
        .when(~F.col("gq_ok"), F.lit("gopher_quality"))
        .when(~F.col("gr_ok"), F.lit("gopher_repetition"))
        .when(~F.col("dup_ok"), F.lit("exact_dup"))
        .otherwise(F.lit("none"))
    )
    keep = (
        F.col("lang_ok") & F.col("gq_ok") & F.col("gr_ok") & F.col("dup_ok")
    )
    return out.select(
        "doc_id", keep.alias("keep"), first_failed.alias("first_failed_gate")
    )


def _corpus_clean_sql() -> str:
    grams = {
        2: "words[i] || ' ' || words[i + 1]",
        3: "words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]",
        4: "words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3]",
    }
    tops = []
    for ng, g in grams.items():
        tops.append(f""", g{ng} AS (
  SELECT doc_id, {g} AS gram
  FROM base, UNNEST(range(1, len(words) - {ng} + 2)) AS u(i)),
top{ng} AS (
  SELECT doc_id, c, gram FROM (
    SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY COUNT(*) DESC, gram) AS rn
    FROM g{ng} GROUP BY doc_id, gram)
  WHERE rn = 1)""")
    fr = lambda ng: (  # noqa: E731
        f"COALESCE(top{ng}.c * (length(top{ng}.gram) - {ng - 1}) * 1000000"
        f" // NULLIF(b.tot, 0), 0)"
    )
    return f"""
WITH t AS (
  SELECT doc_id, {SQL_WORDS} AS words,
    CAST(length(text) AS BIGINT) AS n_chars,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents),
base AS MATERIALIZED (
  SELECT doc_id, words, n_chars, fp,
    CAST(COALESCE(list_aggregate(list_transform(words, w -> len(w)), 'sum'), 0)
         AS BIGINT) AS tot
  FROM t){''.join(tops)},
gates AS (
  SELECT b.doc_id, b.fp,
    (len(list_filter(b.words[1:40],
                     t -> list_contains({_SQL_STOPSET}, lower(t)))) >= 2) AS lang_ok,
    (CASE WHEN len(b.words) > 0 THEN
      (CAST(len(b.words) AS BIGINT) >= {GOPHER_MIN_WORDS}
       AND CAST(b.n_chars - len(b.words) + 1 AS DOUBLE) / CAST(len(b.words) AS DOUBLE)
           >= {GOPHER_MWL_LO}
       AND CAST(b.n_chars - len(b.words) + 1 AS DOUBLE) / CAST(len(b.words) AS DOUBLE)
           <= {GOPHER_MWL_HI}
       AND 1.0 - CAST(len(list_distinct(b.words)) AS DOUBLE) / CAST(len(b.words) AS DOUBLE)
           <= {GOPHER_MAX_DUP_WORD}
       AND COALESCE(CAST(2 * top2.c AS DOUBLE) / CAST(len(b.words) AS DOUBLE), 0.0)
           <= {GOPHER_MAX_TOP_BIGRAM})
     ELSE FALSE END) AS gq_ok,
    (CAST({fr(2)} AS BIGINT) <= {GOPHER_TOP2_MAX_E6}
     AND CAST({fr(3)} AS BIGINT) <= {GOPHER_TOP3_MAX_E6}
     AND CAST({fr(4)} AS BIGINT) <= {GOPHER_TOP4_MAX_E6}) AS gr_ok,
    (b.doc_id = MIN(b.doc_id) OVER (PARTITION BY b.fp)) AS dup_ok
  FROM base b
  LEFT JOIN top2 ON top2.doc_id = b.doc_id
  LEFT JOIN top3 ON top3.doc_id = b.doc_id
  LEFT JOIN top4 ON top4.doc_id = b.doc_id)
SELECT doc_id,
  (lang_ok AND gq_ok AND gr_ok AND dup_ok) AS keep,
  CASE WHEN NOT lang_ok THEN 'lang'
       WHEN NOT gq_ok THEN 'gopher_quality'
       WHEN NOT gr_ok THEN 'gopher_repetition'
       WHEN NOT dup_ok THEN 'exact_dup'
       ELSE 'none' END AS first_failed_gate
FROM gates
"""


# ---------------------------------------------------------------------------
# semdedup_prune — cluster-then-prune semantic dedup (verdict r13 #4)
# ---------------------------------------------------------------------------


def semdedup_clusters(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup stages 1-2, exposed for plan-locking: (assigned, pairs).
    ``assigned`` is the per-vector cluster assignment
    (vec_id, cell, cdot, embedding); ``pairs`` the within-cluster cosine
    near-dup pairs — its plan must exchange on the cluster id only
    (tests/test_pipelines.py asserts hashpartitioning(cell) and no
    cartesian), because connected_components' driver-local tier would
    otherwise hide the pairing plan from the final query's explain.

    ``assigned`` is NOT materialized: every action on it, or on
    ``pairs`` built from it, re-runs the Arrow cluster-assignment pass
    over the embeddings. Checkpoint it before consuming it more than
    once."""
    import numpy as np

    from tomixpanel_spark.operators.similarity import (
        IVFQ_CELLS,
        IVFQ_ITER,
        NEARDUP_E6,
        _finite_vecs,
        _int_mean,
        _lloyd,
        _mat,
        _quant,
        _sq_dists,
        _threshold_hits,
        _train_sample,
    )

    fin = _finite_vecs(table(spark, sf_dir, "embeddings"))
    sample_pdf, _ = _train_sample(fin)
    if not len(sample_pdf):
        raise ValueError("semdedup_prune: empty training sample")
    sm = _quant(np.array(list(sample_pdf["embedding"]), dtype="float64"))
    cent = _lloyd(sm, IVFQ_CELLS, IVFQ_ITER, _int_mean)

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            m = _quant(np.array(list(pdf["embedding"]), dtype="float64"))
            cell = _sq_dists(m, cent).argmin(axis=1)
            cdot = (m * cent[cell]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cell.astype("int32"),
                    "cdot": cdot,
                    "embedding": pdf["embedding"],
                }
            )

    # NOT checkpointed since the centroid-dots started riding the pair
    # edges: pair generation is the assignment's ONLY remaining consumer
    # in the query plan, so a materialization point would cost a
    # block-store write/read for nothing (the keep-policy signal comes
    # off the collected/checkpointed edge set downstream).
    assigned = python_stage(
        ensure_parallel(fin, "vec_id"),
        assign,
        "vec_id long, cell int, cdot long, embedding array<float>",
    )

    hits = _threshold_hits(NEARDUP_E6)

    def cell_pairs(key, pdf):
        # a one-member cell scores against itself and its upper
        # triangle is empty: no pairs, no special case
        m = _mat(pdf)
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        # each side's centroid-dot rides the pair edge: the keep-the-
        # outlier policy downstream then never re-reads the assignment
        # table for it (guide §8 — the signal is already in this task)
        cds = pdf["cdot"].to_numpy(dtype="int64")
        ai, bj, e6 = hits(m, m, (ids, ids))
        return pd.DataFrame(
            {
                "vec_a": ids[ai],
                "vec_b": ids[bj],
                "sim_e6": e6,
                "cdot_a": cds[ai],
                "cdot_b": cds[bj],
            }
        )

    pairs = python_stage(
        assigned.select("cell", "vec_id", "cdot", "embedding").groupBy("cell"),
        cell_pairs,
        "vec_a long, vec_b long, sim_e6 long, cdot_a long, cdot_b long",
    )
    return assigned, pairs


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means cluster the embedding
    space, find cosine near-duplicates WITHIN each cluster only, and per
    duplicate group keep the member LEAST similar to its cluster
    centroid (the paper's keep-the-outlier policy — it preserves
    diversity). Returns the keep-list of vec_ids.

    This is the standard 100 TB semantic-dedup shape: clustering makes
    the pairing cost sum(|cluster|^2) instead of N^2, and the cluster id
    is the only pairing key — the plan-lock asserts the pair stage
    exchanges on cell, never all-pairs. Training is integer-exact on a
    deterministic O(sample) driver sample (the ann_ivf_q discipline, and
    the same trainer — similarity._lloyd), assignment + centroid-dot
    is ONE Arrow pass over the corpus, pairing is chunked BLAS under
    TOMIX_SCORE_CELLS_CAP per task (similarity._score_blocks),
    components reuse the size-adaptive CC engine, and the keep-best
    argmin is one map-side-partial aggregate. Everything after the pair stage carries ids only."""
    from tomixpanel_spark.operators.identity import keep_per_cluster

    _, pairs = semdedup_clusters(spark, sf_dir)
    emb = ensure_parallel(table(spark, sf_dir, "embeddings"), "vec_id")
    _, drops = keep_per_cluster(
        pairs.select("vec_a", "vec_b", "cdot_a", "cdot_b"),
        a="vec_a",
        b="vec_b",
        attrs=("cdot_a", "cdot_b"),
        largest=False,
    )
    return emb.select("vec_id").join(
        drops.select(F.col("node").alias("vec_id")), "vec_id", "left_anti"
    )


def _semdedup_sql() -> str:
    """Oracle: the Lloyd loop unrolled (the similarity._ivfq_sql CTE
    pattern with the same constants), then within-cell pairs at the
    embedding family's cosine formula, recursive-CTE components, and
    the min-(cdot, node) winner per component."""
    from tomixpanel_spark.operators.similarity import (
        IVFQ_CELLS,
        IVFQ_ITER,
        IVFQ_SCALE,
        NEARDUP_E6,
        _SQL_FINITE_CTE,
        _SQL_SIM,
    )

    sq = (
        "SELECT vec_id, "
        "unnest(generate_series(1, len(embedding))) AS dim, embedding "
        "FROM fe"
    )
    # fe mirrors the Spark side's _finite_vecs policy EVERYWHERE the
    # Spark side applies it: the sample-step count, training, assignment,
    # centroid-dot and pairing all see finite vectors only, while the
    # final keep-list ranges over RAW embeddings (non-candidates keep
    # themselves). Without this the step = count//1024 arithmetic
    # diverges as soon as a corpus has a null/NaN vector (review r14).
    # Every CTE a later CTE references TWICE is MATERIALIZED: DuckDB
    # inlines plain CTEs, so the unrolled Lloyd chain (c{i} reads c{i-1}
    # both via d{i} and directly as pc) otherwise re-evaluates
    # exponentially — 2^ITER expansions of the scan+rank; measured 45 s
    # at sf0.01 with `cdot` alone 44.5 s, vs the Spark leg's 2-9 s.
    # MATERIALIZED is an evaluation-strategy fence only (same rows).
    parts = [
        f"""WITH RECURSIVE {_SQL_FINITE_CTE},
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
        f"""ad AS (
  SELECT b.vec_id, c.cell, SUM((b.val - c.val) * (b.val - c.val)) AS dist
  FROM bl b JOIN {cn} c USING (dim) GROUP BY 1, 2),
assign AS MATERIALIZED (
  SELECT vec_id, (min(struct_pack(d := dist, c := cell))).c AS cell
  FROM ad GROUP BY vec_id),
cdot AS MATERIALIZED (
  SELECT b.vec_id, CAST(SUM(b.val * c.val) AS BIGINT) AS cd
  FROM bl b JOIN assign a USING (vec_id)
  JOIN {cn} c ON c.cell = a.cell AND c.dim = b.dim
  GROUP BY b.vec_id),
prs AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM embeddings a JOIN assign aa ON a.vec_id = aa.vec_id
  JOIN embeddings b ON b.vec_id > a.vec_id
  JOIN assign ab ON b.vec_id = ab.vec_id AND ab.cell = aa.cell
  WHERE {_SQL_SIM} >= {NEARDUP_E6}),
sym AS (
  SELECT vec_a AS src, vec_b AS dst FROM prs
  UNION SELECT vec_b, vec_a FROM prs),
walk(node, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
comp AS MATERIALIZED (SELECT node, MIN(reach) AS component FROM walk GROUP BY node),
winners AS (
  SELECT c.component,
         (min(struct_pack(d := cd.cd, nid := c.node))).nid AS keep_id
  FROM comp c JOIN cdot cd ON cd.vec_id = c.node
  GROUP BY c.component),
drops AS (
  SELECT c.node AS vec_id
  FROM comp c JOIN winners w ON w.component = c.component
  WHERE c.node <> w.keep_id)
SELECT e.vec_id FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)"""
    )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# media_dedup_keep_list — perceptual dedup end to end (verdict r13 #6)
# ---------------------------------------------------------------------------


def media_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end perceptual media dedup: banded-Hamming dHash pairs
    through the real PNG encode/decode path (multimodal.media_neardup)
    -> connected components -> keep the BEST copy per cluster — the
    media twin of the text family's neardup_keep_best. 'Best' here is
    the brightest thumbnail (max pixel sum, ties to the lowest doc_id) —
    the deterministic stand-in for the resolution/quality signal a
    production pipeline ranks by, computed from the same pixel spec the
    oracle uses so the policy is externally checkable.

    Scale shape: pair generation is quadratic only within band buckets
    (dedup.banded_hamming_pairs); CC is the size-adaptive engine; the
    quality join and argmax touch component-node rows only (orders of
    magnitude fewer than items); the final keep-list is one anti-join
    on doc_id."""
    import hashlib
    from functools import lru_cache

    from tomixpanel_spark.operators.identity import keep_per_cluster
    from tomixpanel_spark.operators.multimodal import (
        DHASH_COLS,
        DHASH_ROWS,
        MEDIA_GROUP,
        _thumb_pixel,
        media_neardup,
    )

    n_px = DHASH_ROWS * DHASH_COLS

    # docs in one MEDIA_GROUP share every group-keyed pixel, and a doc
    # overrides exactly ONE position with its doc-keyed noise pixel —
    # so cache (pixels, sum) per GROUP and derive each member's sum
    # with a single extra md5 instead of 64 (n_px*|members| ->
    # n_px*|groups| + |members| digests). Spec parity with _thumb_pixel
    # and the oracle's _media_px_sql is pinned by
    # tests/test_pipelines.py::test_media_px_sum_py_matches_spark.
    @lru_cache(maxsize=None)
    def g_pixels(g: int) -> tuple:
        px = [
            int(hashlib.md5(f"g:{g}:{i}".encode()).hexdigest()[:2], 16)
            for i in range(n_px)
        ]
        return px, sum(px)

    def px_sum_py(doc_id: int) -> int:
        g = doc_id // MEDIA_GROUP
        noise = doc_id % n_px
        px, total = g_pixels(g)
        d = int(hashlib.md5(f"d:{doc_id}:{noise}".encode()).hexdigest()[:2], 16)
        return total - px[noise] + d

    # the same pixel spec in Catalyst, for the distributed tier: computed
    # on component-node rows only (orders of magnitude fewer than items),
    # not projected over the whole corpus and joined
    px_sum = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_px - 1)),
            lambda i: _thumb_pixel(i, F.col("node")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x.cast("long"),
    )
    pairs = media_neardup(spark, sf_dir).select("doc_a", "doc_b")
    _, drops = keep_per_cluster(
        pairs, a="doc_a", b="doc_b", node_signal=(px_sum_py, px_sum)
    )
    docs = ensure_parallel(table(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id").join(
        drops.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    )


def _media_keep_list_sql() -> str:
    from tomixpanel_spark.operators.multimodal import (
        _MEDIA_NEARDUP_SQL,
        _media_px_sql,
    )

    return f"""
WITH RECURSIVE prs AS MATERIALIZED ({_MEDIA_NEARDUP_SQL}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM prs
  UNION SELECT doc_b, doc_a FROM prs),
walk(node, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node),
sized AS (
  SELECT doc_id AS node,
         CAST(list_aggregate({_media_px_sql()}, 'sum') AS BIGINT) AS px_sum
  FROM documents),
winners AS (
  SELECT c.component,
         CAST(-(max(struct_pack(s := z.px_sum, nid := -c.node))).nid AS BIGINT)
           AS keep_id
  FROM comp c JOIN sized z USING (node)
  GROUP BY c.component),
drops AS (
  SELECT c.node AS doc_id
  FROM comp c JOIN winners w ON w.component = c.component
  WHERE c.node <> w.keep_id)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
"""


# ---------------------------------------------------------------------------
# dedup_cascade — staged exact -> near-dup dedup with per-stage attribution
# ---------------------------------------------------------------------------


def dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged dedup cascade a production corpus actually runs
    (cheap-to-expensive, each stage only over the previous stage's
    survivors): exact keep-first by canonical fingerprint, then verified
    shingle-Jaccard near-dup with the keep-best policy
    (most tokens, ties to the lowest doc_id — neardup_keep_best's
    policy). Emits (doc_id, keep, dropped_by in
    {'exact','near_dup','none'}) — the dedup twin of corpus_clean's
    first_failed_gate attribution.

    Scale shape: the exact stage is the corpus_clean fingerprint window
    (one hash-width exchange); staging near-dup AFTER it means the
    expensive shingle/postings machinery runs only over exact-unique
    survivors (on web corpora exact dups are the bulk of duplication);
    pair generation is the postings-list kernel (sum df^2, df_cap at
    scale — dedup.near_dup_pairs), components are size-adaptive, and
    every attribution join is keyed on doc_id with drop-list-sized
    sides."""
    from tomixpanel_spark.operators.dedup import near_dup_pairs
    from tomixpanel_spark.operators.identity import keep_per_cluster

    docs = ensure_parallel(table(spark, sf_dir, "documents"), "doc_id")
    fps = docs.select("doc_id", fingerprint("text").alias("fp"))
    w = Window.partitionBy("fp")
    # checkpoint the id-width drop list: it is consumed by both the
    # survivor anti-join feeding the near-dup machinery AND the final
    # attribution join; without a materialization point each consumer
    # re-runs the full fingerprint + window lineage over the corpus.
    # Lazy: the CC stage's first action materializes it. id-only rows,
    # so the checkpoint is hash-width at any corpus size (guide §2.3/§5).
    exact_drops = stage_checkpoint(
        fps.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )
    surv = docs.join(exact_drops, "doc_id", "left_anti")
    # token counts ride the pair edges (stamped in the shingle projection
    # where the tokens array already exists), so the keep-best signal
    # never needs a second corpus scan (guide §8)
    pairs = near_dup_pairs(surv, carry_ntoks=True).select(
        "doc_a", "doc_b", "nt_a", "nt_b"
    )
    _, nd_drops = keep_per_cluster(
        pairs, a="doc_a", b="doc_b", attrs=("nt_a", "nt_b")
    )
    nd_drops = nd_drops.select(F.col("node").alias("doc_id"))
    out = (
        docs.select("doc_id")
        .join(exact_drops.withColumn("g_exact", F.lit("exact")), "doc_id", "left")
        .join(nd_drops.withColumn("g_nd", F.lit("near_dup")), "doc_id", "left")
    )
    dropped_by = F.coalesce(F.col("g_exact"), F.col("g_nd"), F.lit("none"))
    return out.select(
        "doc_id",
        (dropped_by == "none").alias("keep"),
        dropped_by.alias("dropped_by"),
    )


def _dedup_cascade_sql() -> str:
    from tomixpanel_spark.operators.dedup import (
        _SQL_SHINGLE_ROWS,
        JACCARD_THRESHOLD,
    )

    # the shingle-row fragment is written against the documents view;
    # re-aim it at the exact-survivor CTE (text column name unchanged)
    sh_surv = _SQL_SHINGLE_ROWS.replace("FROM documents)", "FROM surv)")
    return f"""
WITH RECURSIVE f AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents),
k AS (SELECT fp, MIN(doc_id) AS keep_id FROM f GROUP BY fp),
exact_drops AS (
  SELECT f.doc_id FROM f JOIN k USING (fp) WHERE f.doc_id <> k.keep_id),
surv AS (
  SELECT d.* FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM exact_drops)),
sh AS ({sh_surv}),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
p AS (
  SELECT doc_a, doc_b FROM c
  JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
  WHERE CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE)
        >= {JACCARD_THRESHOLD}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION SELECT doc_b, doc_a FROM p),
walk(node, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node),
sized AS (
  SELECT doc_id AS node, CAST(len({SQL_WORDS}) AS BIGINT) AS n_tokens
  FROM surv),
winners AS (
  SELECT c.component,
         CAST(-(max(struct_pack(t := z.n_tokens, nid := -c.node))).nid AS BIGINT)
           AS keep_id
  FROM comp c JOIN sized z USING (node)
  GROUP BY c.component),
nd_drops AS (
  SELECT c.node AS doc_id
  FROM comp c JOIN winners w ON w.component = c.component
  WHERE c.node <> w.keep_id),
att AS (
  SELECT d.doc_id,
    CASE WHEN d.doc_id IN (SELECT doc_id FROM exact_drops) THEN 'exact'
         WHEN d.doc_id IN (SELECT doc_id FROM nd_drops) THEN 'near_dup'
         ELSE 'none' END AS dropped_by
  FROM documents d)
SELECT doc_id, (dropped_by = 'none') AS keep, dropped_by FROM att
"""


# Upstream modules whose changes must re-queue these composition rows
# for external verification (rotation: changed-since-green outranks
# staleness). One level deep, matching module_relpaths.
ROTATION_DEPS = [
    "tomixpanel_spark.functions.text",
    "tomixpanel_spark.operators.textops",
    "tomixpanel_spark.operators.similarity",
    "tomixpanel_spark.operators.identity",
    "tomixpanel_spark.operators.dedup",
    "tomixpanel_spark.operators.multimodal",
]

REGISTRY = {
    "dsir_select": QuerySpec(
        dsir_select,
        _DSIR_SELECT_SQL,
        "ext:pipeline DSIR selection step (apply importance weights)",
    ),
    "corpus_clean": QuerySpec(
        corpus_clean,
        _corpus_clean_sql(),
        "ext:pipeline fused quality-gate chain, single corpus scan",
    ),
    "semdedup_prune": QuerySpec(
        semdedup_prune,
        _semdedup_sql(),
        "ext:pipeline SemDeDup cluster-then-prune semantic dedup",
    ),
    "media_dedup_keep_list": QuerySpec(
        media_dedup_keep_list,
        _media_keep_list_sql(),
        "ext:pipeline perceptual media dedup keep-best",
    ),
    "dedup_cascade": QuerySpec(
        dedup_cascade,
        _dedup_cascade_sql(),
        "ext:pipeline staged exact -> near-dup dedup with attribution",
    ),
}
