"""Deduplication operators over ``documents`` (training-data extensions):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
  * exact dedup = hash-groupBy on a fingerprint — one shuffle keyed by the
    md5, uniform by construction (no skew).
  * n-gram Jaccard = shingle-explode + per-shingle postings list +
    intra-list pair expansion + pair count (no self-join). At 100 TB the
    candidate generation must NOT be the quadratic cross join — a
    postings list only pairs docs that actually share a shingle. Hot
    shingles (stopword trigrams) are the skew risk; a document-frequency
    cap (drop shingles in > df_cap docs) bounds the worst case, mirroring
    what production near-dup pipelines do.
  * MinHash+LSH replaces even that with band postings: candidate pairs
    are only docs agreeing on a full band — the standard sub-quadratic
    near-dup path.
  * Every postings list of the family (shingles, LSH bands, SimHash
    exact-signature clusters) expands through ONE kernel:
    ``_postings_pairs`` groups and caps the lists, ``_pairs_expr`` emits
    each (x, y) pair with x before y. Verification stays separate.
  * Small corpora fold on the driver under the text family's gate,
    ``TOMIX_TFIDF_DRIVER_FOLD_DOCS``: the shingle verbs
    (``near_dup_pairs``, ``containment_pairs`` and every query over
    them) through ``_shingle_fold``, the banded-Hamming verbs through
    ``_banded_pairs_fold``. Their numpy twin of ``_pairs_expr`` is
    ``_block_pairs``; the rows come back as one ``LocalTableScan``.
    Every fold takes the pandas frame the gate's door
    (``Gate.collect_or_none``) returned and collects nothing itself.
  * SimHash gives a 32-bit per-doc signature; hamming-adjacent bucketing
    is a cheap pre-filter.

Hash parity trick: "min over md5 hex strings" is a valid MinHash family
(lexicographic order on a uniform hash), and md5 is identical in Spark and
DuckDB — so signatures are string-equal across engines with no integer
conversion subtleties.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tomixpanel_spark.functions.text import (
    SQL_WORDS,
    driver_tokens,
    fingerprint,
    tokens,
)
from tomixpanel_spark.operators.base import (
    Gate,
    QuerySpec,
    derived,
    ensure_parallel,
    local_rows_df,
    stage_checkpoint,
    table,
)
from tomixpanel_spark.operators.textops import (
    TFIDF_DRIVER_FOLD_DOCS,
    driver_tf,
    fold_corpus,
)

N_MINHASH = 8
N_BANDS = 2  # 4 hashes per band
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 32

_SQL_SHINGLES = (
    "list_distinct([array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)])"
)
_SQL_SHINGLE_ROWS = f"""
  SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh
  FROM (SELECT doc_id, {SQL_WORDS} AS words FROM documents)
"""


# SQL-string form of the shingle zip_with chain (reads column `toks`).
# Same Catalyst tree as the Column-API construction it replaces, but ONE
# F.expr parse instead of ~20 py4j round-trips with three nested lambda
# builds — the gopher-fold treatment (guide §1.2 step 2: per-build fixed
# work; measured 0.4 s of pure plan construction per staged_shingles
# call, paid by every query in the near-dup family, 3x per bench row).
_SPARK_SHINGLE_EXPR = (
    "array_distinct(zip_with(zip_with("
    "slice(toks, 1, greatest(size(toks) - 2, 0)), "
    "slice(toks, 2, greatest(size(toks) - 2, 0)), "
    "(x, y) -> concat(x, ' ', y)), "
    "slice(toks, 3, greatest(size(toks) - 2, 0)), "
    "(xy, z) -> concat(xy, ' ', z)))"
)


def staged_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_ntoks: bool = False,
) -> DataFrame:
    """(doc_id, sh_arr) distinct-3-gram projection WITHOUT the parallelism
    guard — the pure narrow stage, also legal on STREAMING DataFrames
    (where partitioning comes from the source and ``.rdd`` inspection is
    not allowed). Tokens materialize as a named column in a separate
    projection: inlining the split() into every slice makes Catalyst
    re-evaluate it per slice.

    ``with_ntoks`` additionally emits ``n_toks`` = size(tokens) — free
    here (the tokens array is already materialized), and callers whose
    downstream policy ranks by token count can then carry it through the
    pair kernel instead of re-scanning the corpus for it (guide §8)."""
    d1 = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    cols = ["doc_id"]
    if with_ntoks:
        cols.append(F.size("toks").cast("bigint").alias("n_toks"))
    return d1.select(*cols, _shingle_col().alias("sh_arr")).filter(
        F.size("sh_arr") > 0
    )


@lru_cache(maxsize=1)
def _shingle_col() -> F.Column:
    """Constant unresolved tree over the `toks` column — memoized so the
    F.expr parse is paid once per process (ga.py lru_cache pattern)."""
    return F.expr(_SPARK_SHINGLE_EXPR)


def shingle_arrays_for(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_ntoks: bool = False,
) -> DataFrame:
    """Public API: id + distinct-3-gram array over ANY documents DataFrame
    (same staged-projection construction as the fixture query)."""
    return staged_shingles(ensure_parallel(df, id_col), id_col, text_col, with_ntoks)


def minhash_columns() -> list:
    """The 8 seeded min-of-md5 fold columns over ``sh_arr`` — a pure
    narrow projection shared by the batch signature query and the
    streaming signature path. One F.expr parse per column instead of a
    lambda build (~8x fewer py4j round-trips; same Catalyst tree), and
    the parsed constant trees memoize across builds."""
    return list(_minhash_columns_cached())


@lru_cache(maxsize=1)
def _minhash_columns_cached() -> tuple:
    return tuple(
        F.expr(
            f"array_min(transform(sh_arr, s -> md5(concat('{i}:', s))))"
        ).alias(f"mh{i}")
        for i in range(N_MINHASH)
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
    df_cap: int | None = None,
    carry_ntoks: bool = False,
) -> DataFrame:
    """Public API: Jaccard>=threshold near-dup pairs over ANY documents
    DataFrame. ``df_cap`` drops postings lists longer than the cap (hot
    shingles shared by > df_cap docs) from CANDIDATE GENERATION only — the
    standard bound on quadratic pair blowup at corpus scale; generated
    candidates are then verified exactly on the full shingle arrays, so
    capping can only lose pairs whose every shared shingle is hot, never
    misscore a pair. None keeps fully exact semantics.

    ``carry_ntoks`` (uncapped path only) additionally emits
    ``nt_a``/``nt_b`` — each side's token count, computed in the shingle
    projection where the tokens array already exists and carried through
    the postings structs. Keep-best consumers then rank winners from the
    pair set itself instead of re-scanning the corpus for token counts
    (a full second pass at 100 TB; guide §8 — decide with small rows).

    Size-adaptive under ``TOMIX_TFIDF_DRIVER_FOLD_DOCS``: one bounded
    probe of (id, text) through the gate's door decides (unkeyed: ``df``
    is any frame); under the cap, with unique ids, the driver fold
    ``_shingle_fold`` pairs the shingles in numpy and the rows come back
    as one ``LocalTableScan``, else the Spark SQL chain
    (``_jaccard_pairs_from_shingles``) runs. Both tiers give the same
    rows."""
    if df_cap is not None:
        df_cap = int(df_cap)
        if carry_ntoks:
            raise ValueError("carry_ntoks is incompatible with df_cap")
    docs = TFIDF_DRIVER_FOLD_DOCS.collect_or_none(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        admit=_unique_ids,
    )
    fold = None if docs is None else _shingle_fold(docs, threshold, df_cap, verify=True)
    if fold is None:
        sa = shingle_arrays_for(df, id_col, text_col, with_ntoks=carry_ntoks)
        return _jaccard_pairs_from_shingles(sa, threshold, df_cap, carry_ntoks)
    import pandas as pd

    ids, n, nt, a, b, common = fold
    jaccard = common / (n[a] + n[b] - common)  # float64, as the SQL tail casts
    keep = jaccard >= threshold
    a, b = a[keep], b[keep]
    cols = {"doc_a": ids[a], "doc_b": ids[b], "jaccard": jaccard[keep]}
    id_type = df.schema[id_col].dataType
    schema = StructType().add("doc_a", id_type).add("doc_b", id_type).add("jaccard", "double")
    if carry_ntoks:
        cols.update(nt_a=nt[a], nt_b=nt[b])
        schema = schema.add("nt_a", "long").add("nt_b", "long")
    return local_rows_df(df.sparkSession, pd.DataFrame(cols), schema)


def _pairs_expr(ds: str, carry=(), ratio: float | None = None) -> str:
    """THE intra-list pair expansion of the dedup family, as SQL text:
    every (x, y) with x before y in the sorted array column ``ds``,
    inlined into (doc_a, doc_b, ...) rows. Members are bare ids, or
    structs with ``doc_id`` plus the ``carry`` fields, where each
    ``(field, stem)`` comes out as ``<stem>_a``/``<stem>_b``. Cost is
    size(ds)^2 / 2 per list, which is why callers cap the list.

    ``ratio`` adds the Jaccard length-ratio prefilter on the carried set
    size ``n``, INSIDE the array transform, before any struct exists:
    ``common <= min(n_a, n_b)`` implies ``jaccard <= min/max``, so a pair
    with ``min/max < ratio`` can never reach the final filter — EXACT, no
    lost pairs. Measured at sf0.1 it kills ~80% of the 1.27M candidate
    structs before the per-pair count shuffle. The bound uses the same
    least/greatest division the final jaccard evaluates to at
    ``common == min`` so float rounding agrees."""
    x, y = ("x.doc_id", "y.doc_id") if carry else ("x", "y")
    fields = [f"'doc_a', {x}, 'doc_b', {y}"] + [
        f"'{stem}_a', x.{field}, '{stem}_b', y.{field}" for field, stem in carry
    ]
    rest = f"slice({ds}, i + 2, size({ds}))"
    if ratio is not None:
        rest = (
            f"filter({rest}, y -> CAST(least(x.n, y.n) AS DOUBLE) / "
            f"CAST(greatest(x.n, y.n) AS DOUBLE) >= {ratio!r}D)"
        )
    return (
        f"inline(flatten(transform({ds}, (x, i) -> transform({rest}, "
        f"y -> named_struct({', '.join(fields)})))))"
    )


def _block_pairs(starts, sizes, b_starts=None, b_sizes=None):
    """THE numpy pair expansion of the dedup family's driver folds, the
    twin of ``_pairs_expr``: blocks are runs [start, start + size) of
    one sorted flat array. With one block list, every (i, j) with i < j
    inside each block; with a second list ``b``, every (i, j) in block
    k of the first times block k of ``b``. Returns int64 arrays (i, j,
    k), block by block, i-major. Cost is the pair count, which is why
    callers cap their blocks first."""
    import numpy as np

    starts = np.asarray(starts, dtype=np.int64)
    sizes = np.asarray(sizes, dtype=np.int64)
    if b_starts is None:
        # member m of a block pairs with the block's tail after it: the
        # members come out of the product of each block with itself as a
        # one-row block, then each member is a one-row block against its tail
        _, pos, blk = _block_pairs(starts, np.ones_like(sizes), starts, sizes)
        tail = starts[blk] + sizes[blk] - pos - 1
        i, j, m = _block_pairs(pos, np.ones_like(pos), pos + 1, tail)
        return i, j, blk[m]
    b_starts = np.asarray(b_starts, dtype=np.int64)
    b_sizes = np.asarray(b_sizes, dtype=np.int64)
    rep = sizes * b_sizes
    k = np.repeat(np.arange(len(rep), dtype=np.int64), rep)
    off = np.arange(len(k), dtype=np.int64) - (np.cumsum(rep) - rep)[k]
    nb = b_sizes[k]
    return starts[k] + off // nb, b_starts[k] + off % nb, k


def _postings_pairs(
    src: str, key: str, member: str, carry=(), ratio: float | None = None,
    cap: int | None = None,
) -> str:
    """SQL text of the one postings-list candidate generator: collect
    ``member`` (an id, or a struct led by ``doc_id`` so the sort orders
    by id) per ``key`` over ``src`` into one sorted list, keep lists of
    2+ members, and expand each with ``_pairs_expr``. ``cap`` (the
    ``df_cap``/``band_cap`` hot-key guard) also drops lists longer than
    the cap; it goes through ``int()``, so a non-numeric cap raises
    before any SQL text exists."""
    having = "size(ds) > 1"
    if cap is not None:
        having += f" AND size(ds) <= {int(cap)}"
    return f"""
  SELECT {_pairs_expr("ds", carry, ratio)} FROM (
    SELECT {key}, array_sort(collect_list({member})) AS ds
    FROM {src} GROUP BY {key} HAVING {having})"""


def _shingle_pairs_sql(
    tail: str, ratio: float | None = None, carry_ntoks: bool = False,
    cap: int | None = None,
) -> str:
    """Spark-side SQL of the shingle-postings chain shared by the Jaccard
    and containment verbs (the {sa} placeholder is bound by spark.sql
    templating): ``rows_`` is one row per (doc, shingle) with the doc's
    set size ``n``, ``pairs`` is ``_postings_pairs`` over shingles, and
    ``common`` counts shared shingles per pair; ``tail`` reads ``pairs``
    or ``common``. ONE spark.sql over the shingle frame: a chain of
    DataFrame ops pays an eager analyzer pass per op over an ever-deeper
    tree (~0.3 s of construction per build), the single SQL
    parse+analyze ~0.15 s.

    With ``carry_ntoks`` the per-doc token count rides the postings
    structs and comes back out as nt_a/nt_b — grouping on them changes
    nothing (they are functional on the doc ids) and the widened struct
    costs 8 bytes per posting row where it saves keep-best consumers a
    full corpus re-scan for the same numbers."""
    nt, nt_out = (", n_toks", ", nt_a, nt_b") if carry_ntoks else ("", "")
    carry = (("n", "n"), ("n_toks", "nt")) if carry_ntoks else (("n", "n"),)
    pairs = _postings_pairs("rows_", "sh", f"struct(doc_id, n{nt})", carry, ratio, cap)
    return f"""
WITH rows_ AS (
  SELECT doc_id{nt}, size(sh_arr) AS n, explode(sh_arr) AS sh FROM {{sa}}),
pairs AS ({pairs}),
common AS (
  SELECT doc_a, doc_b, n_a, n_b{nt_out}, count(1) AS common
  FROM pairs GROUP BY doc_a, doc_b, n_a, n_b{nt_out})
{tail}"""


def _unique_ids(pdf) -> bool:
    """The shingle fold's admission at the gate's door: non-null, unique
    doc ids. The fold does not re-derive the chain's handling of
    repeated ids (struct ties in the postings sort, the verify join's
    fan-out), so such a corpus takes the chain and the decision log
    reads "distributed"."""
    return not pdf["doc_id"].isna().any() and pdf["doc_id"].is_unique


# The fold holds every postings pair in numpy temporaries, about 75
# bytes a pair at peak (96 MB traced for the 1.27M pairs of sf0.1's
# 5,000 documents): past this many pairs, about 0.3 GB, the Spark chain
# runs instead. The doc-count gate alone does not bound it: 5,000 copies
# of one boilerplate text are 12.5M pairs per shared shingle.
FOLD_PAIR_BUDGET = 1 << 22


def _shingle_fold(docs, ratio: float | None = None, cap: int | None = None,
                  verify: bool = False):
    """The driver fold of the shingle-postings chain (``_shingle_pairs_sql``
    in numpy), for corpora under ``TFIDF_DRIVER_FOLD_DOCS``: a pandas
    (doc_id, text) frame -> ``(ids, n, nt, a, b, common)``. Docs are
    positions in id order: ``ids`` per position, ``n`` its distinct
    shingle count, ``nt`` its token count; (a, b, common) are the
    ``common`` rows, a < b.

    Shingles are ``driver_tokens`` 3-gram windows joined by
    ``binary_join_element_wise``, kept only inside one document and
    dictionary-encoded; the distinct (shingle, doc) keys sorted by
    shingle are the postings lists, expanded by ``_block_pairs``.
    ``ratio`` is the SQL chain's exact length-ratio prefilter (the same
    float64 division). ``cap`` drops lists longer than the cap; with
    ``verify`` the capped lists only propose pairs and ``common`` counts
    the full shingle sets, the shared hot shingles added by a lookup
    (``verify_pairs_exact``'s semantics, candidate generation and
    verification kept apart), else it counts the capped lists
    (containment's semantics). None when an expansion would pass
    ``FOLD_PAIR_BUDGET``: the caller runs the chain."""
    import numpy as np
    import pyarrow.compute as pc

    ids = docs["doc_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    flat, doc = driver_tokens(docs["text"].iloc[order])
    n_docs = len(ids)
    nt = np.bincount(doc, minlength=n_docs)
    w = np.flatnonzero(doc[:-2] == doc[2:])  # windows inside one document
    if not len(w):
        none = np.array([], dtype=np.int64)
        return ids, np.zeros(n_docs, dtype=np.int64), nt, none, none, none
    sh = pc.dictionary_encode(
        pc.binary_join_element_wise(
            pc.take(flat, w), pc.take(flat, w + 1), pc.take(flat, w + 2), " "
        )
    )
    n_sh = len(sh.dictionary)
    key = np.unique(sh.indices.to_numpy().astype(np.int64) * n_docs + doc[w])
    code, member = np.divmod(key, n_docs)
    n = np.bincount(member, minlength=n_docs)
    block_start = np.r_[True, code[1:] != code[:-1]]
    starts = np.flatnonzero(block_start)
    sizes = np.diff(np.r_[starts, len(code)])
    live = sizes > 1
    if cap is not None:
        live &= sizes <= cap
    if int((sizes[live] * (sizes[live] - 1) // 2).sum()) > FOLD_PAIR_BUDGET:
        return None
    i, j, _ = _block_pairs(starts[live], sizes[live])
    a, b = member[i], member[j]
    if ratio is not None:
        keep = np.minimum(n[a], n[b]) / np.maximum(n[a], n[b]) >= ratio
        a, b = a[keep], b[keep]
    pair, common = np.unique(a * n_docs + b, return_counts=True)
    a, b = np.divmod(pair, n_docs)
    if verify and cap is not None:
        # the capped lists counted each pair's shared rare shingles; add
        # its shared hot ones, each of a's hot shingles looked up among
        # the doc-major hot keys of b (a one-row block per candidate)
        hot = (sizes > cap)[np.cumsum(block_start) - 1]
        hn = np.bincount(member[hot], minlength=n_docs)
        if int(hn[a].sum()) > FOLD_PAIR_BUDGET:
            return None
        dm = np.sort(member[hot] * n_sh + code[hot])
        i, _, k = _block_pairs((np.cumsum(hn) - hn)[a], hn[a], a, np.ones_like(a))
        probe = b[k] * n_sh + dm[i] % n_sh
        hit = dm[np.minimum(np.searchsorted(dm, probe), len(dm) - 1)] == probe
        common = common + np.bincount(k, weights=hit, minlength=len(a)).astype(np.int64)
    return ids, n, nt, a, b, common


def _jaccard_pairs_from_shingles(
    sa: DataFrame,
    threshold: float,
    df_cap: int | None = None,
    carry_ntoks: bool = False,
) -> DataFrame:
    """Jaccard pairs from a (doc_id, sh_arr) shingle-array DataFrame.

    With ``df_cap`` set, capped postings lists are used ONLY for candidate
    generation; Jaccard is then verified exactly on the full shingle arrays
    (a join back to ``sa`` on both pair sides). Counting `common` over
    capped postings while keeping full set sizes would systematically
    underestimate Jaccard for docs sharing hot shingles and silently drop
    true near-dups — the capped path must only ever lose pairs whose ONLY
    shared shingles are hot ones (the standard, documented LSH-style
    recall trade), never misscore a generated candidate.
    """
    spark = sa.sparkSession
    if df_cap is not None:
        sql = _shingle_pairs_sql(
            "SELECT DISTINCT doc_a, doc_b FROM pairs", threshold, cap=df_cap
        )
        return verify_pairs_exact(spark.sql(sql, sa=sa), sa, threshold)
    nt = ", nt_a, nt_b" if carry_ntoks else ""
    tail = f"""SELECT doc_a, doc_b, jaccard{nt} FROM (
  SELECT doc_a, doc_b{nt},
         CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE) AS jaccard
  FROM common)
WHERE jaccard >= {threshold!r}D"""
    return spark.sql(_shingle_pairs_sql(tail, threshold, carry_ntoks), sa=sa)


CONTAINMENT_E6 = 900_000  # inner's shingles >= 90% covered by outer

# Both directions from ONE pass over the aggregate: a union of two
# projections re-executes the post-shuffle final aggregate per branch
# (exchange reuse only shares the shuffle files), while inlining a
# 2-element array stays inside the same codegen stage.
_CONTAINMENT_TAIL = f"""SELECT inner_doc, outer_doc, containment_e6 FROM (
  SELECT inline(array(
    named_struct('inner_doc', doc_a, 'outer_doc', doc_b,
                 'containment_e6', common * 1000000L div n_a),
    named_struct('inner_doc', doc_b, 'outer_doc', doc_a,
                 'containment_e6', common * 1000000L div n_b)))
  FROM common)
WHERE containment_e6 >= {CONTAINMENT_E6}"""


def containment_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int | None = None
) -> DataFrame:
    """Asymmetric near-SUBSET detection: (inner_doc, outer_doc) pairs
    where >= 90% of the inner document's shingles appear in the outer —
    the boilerplate-wrapping / quote-reuse case symmetric Jaccard
    misses (a small doc embedded in a much larger one scores low Jaccard
    no matter how completely it is contained).

    Same postings-list candidate machinery as the Jaccard path
    (``_shingle_pairs_sql``), with two deliberate differences: (1) NO
    length-ratio prefilter — that bound is a Jaccard fact (common <= min
    implies jaccard <= min/max) and containment has no such bound, the
    prefilter would drop exactly the small-inside-large pairs this
    operator exists to find; (2) each
    unordered candidate emits BOTH directions, scored common*1e6 div
    n_inner in pure integers so both engines keep identical pairs.
    Scale: cost is the same Σ df² postings expansion; ``df_cap`` bounds
    hot-shingle blowup HERE (the registered query runs uncapped so
    results stay exactly oracle-equal). The cap trades recall the same
    way as the Jaccard path — a pair whose every shared shingle is hot
    is lost — but note containment scores are NOT re-verified downstream,
    so with a cap the reported containment_e6 can UNDER-count on capped
    shingles; production callers wanting exact scores verify survivors
    against full shingle arrays like ``verify_pairs_exact`` does.

    Size-adaptive like ``near_dup_pairs``: under
    ``TOMIX_TFIDF_DRIVER_FOLD_DOCS`` the driver fold ``_shingle_fold``
    counts ``common`` over the same (capped) postings in numpy, and the
    integer tail runs on its rows; above it the Spark SQL chain runs."""
    if df_cap is not None:
        df_cap = int(df_cap)
    docs, pdf = fold_corpus(spark, sf_dir, admit=_unique_ids)
    fold = None if pdf is None else _shingle_fold(pdf, cap=df_cap)
    if fold is None:
        sa = _shingle_arrays(spark, sf_dir, docs)
        return spark.sql(_shingle_pairs_sql(_CONTAINMENT_TAIL, cap=df_cap), sa=sa)
    import numpy as np
    import pandas as pd

    ids, n, _, a, b, common = fold
    inner, outer = np.r_[a, b], np.r_[b, a]
    e6 = np.r_[common, common] * 1_000_000 // n[inner]
    keep = e6 >= CONTAINMENT_E6
    id_type = docs.schema["doc_id"].dataType
    schema = (
        StructType().add("inner_doc", id_type).add("outer_doc", id_type)
        .add("containment_e6", "long")
    )
    pairs = {"inner_doc": ids[inner[keep]], "outer_doc": ids[outer[keep]],
             "containment_e6": e6[keep]}
    return local_rows_df(spark, pd.DataFrame(pairs), schema)


_CONTAINMENT_SQL = f"""
WITH sh AS ({_SQL_SHINGLE_ROWS}),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
d AS (
  SELECT doc_a AS inner_doc, doc_b AS outer_doc,
         common * 1000000 // na.n AS containment_e6
  FROM c JOIN n na ON doc_a = na.doc_id
  UNION ALL
  SELECT doc_b, doc_a, common * 1000000 // nb.n
  FROM c JOIN n nb ON doc_b = nb.doc_id)
SELECT inner_doc, outer_doc, CAST(containment_e6 AS BIGINT) AS containment_e6
FROM d WHERE containment_e6 >= {CONTAINMENT_E6}
"""


def verify_pairs_exact(cand: DataFrame, sa: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard verification of a CANDIDATE pair set against the full
    shingle arrays: join both pair sides back to ``sa``, intersect the
    arrays, keep pairs scoring >= threshold. Candidates are a recall set —
    capping/banding upstream can only lose pairs, never misscore one that
    reaches this gate. Shared by the capped shingle-join path and the
    LSH pipeline path."""
    a = sa.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("sh_a"))
    b = sa.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("sh_b"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
    )
    return (
        verified.withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _shingle_arrays(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """doc_id + distinct-3-gram array, built in STAGED projections.

    Two scale-critical choices:
      * ``ensure_parallel`` before the heavy per-row work — document
        tables are small in bytes but heavy in CPU, and a single-row-group
        scan (or AQE byte-coalescing) would otherwise collapse them onto
        one task (observed 10-80x slowdowns at sf0.1). The repartition is
        CONDITIONAL: an already-parallel source (any real corpus) skips
        the shuffle entirely.
      * tokens and shingle arrays are materialized as named columns in
        separate projections; inlining the token expression into every
        lambda reference makes Catalyst re-evaluate split() per shingle.

    Cached as a derived view (``base.derived``) when TOMIX_CACHE_TABLES is
    on: four dedup queries consume the same shingle sets, and production
    near-dup pipelines likewise materialize shingles/signatures once.
    ``docs`` is the caller's already-read documents table, if it has one
    (each ``table`` read runs a parquet-footer job).
    """
    return derived(
        spark,
        ("shingles", sf_dir),
        lambda: shingle_arrays_for(
            table(spark, sf_dir, "documents") if docs is None else docs
        ),
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by canonical fingerprint, keep lowest doc_id.
    (M4 keep-first semantics lifted to content identity.)"""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


_DEDUP_EXACT_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram shingle Jaccard >= 0.8.

    Candidate generation is ONE pass over shingle rows: group by shingle,
    collect the (doc_id, set_size) postings list, and emit intra-list pairs
    with the ``_postings_pairs`` kernel — cost is sum over shingles of df^2
    (sub-quadratic on real corpora), with no self-join and a single
    evaluation of the shingle arrays. Doc set-sizes ride along in the
    postings structs, so no extra join to attach them. At 100 TB add a
    document-frequency cap (drop postings lists longer than df_cap) to
    bound hot-shingle blowup — standard near-dup practice.
    """
    return near_dup_pairs(table(spark, sf_dir, "documents"))


_NGRAM_JACCARD_SQL = f"""
WITH sh AS ({_SQL_SHINGLE_ROWS}),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
SELECT doc_a, doc_b,
       CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) AS jaccard
FROM c JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
WHERE CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


def _minhash_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature WITHOUT explode/shuffle: the shingle set
    stays an array column and each minhash is array_min(transform(...)) —
    a pure narrow projection over the staged shingle arrays,
    embarrassingly parallel at any scale. (The oracle computes the same
    mins via unnest+GROUP BY; identical values, different physical plan.)

    Cached as a derived view: signatures are THE canonical materialized
    artifact of a production LSH pipeline (computed once, banded many
    times); minhash_signature and minhash_lsh_pairs share this DataFrame
    instead of re-deriving shingles + 8 md5 folds per query."""

    def build() -> DataFrame:
        return _shingle_arrays(spark, sf_dir).select("doc_id", *minhash_columns())

    return derived(spark, ("minhash_sig", sf_dir), build)


def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature: 8 independent min-of-seeded-md5 values,
    computed as a narrow array fold (no explode, no shuffle)."""
    return _minhash_sig_df(spark, sf_dir)


_MINHASH_MINS = ",\n  ".join(
    f"min(md5('{i}:' || sh)) AS mh{i}" for i in range(N_MINHASH)
)
_MINHASH_SIGNATURE_SQL = f"""
WITH sh AS ({_SQL_SHINGLE_ROWS})
SELECT doc_id, {_MINHASH_MINS}
FROM sh GROUP BY doc_id
"""


def lsh_pairs_from_signatures(sig: DataFrame, band_cap: int | None = None) -> DataFrame:
    """LSH candidate pairs from a MinHash signature DataFrame
    (doc_id, mh0..mh{N-1}): docs agreeing on a full band of consecutive
    minhashes are candidates.

    Shape (the round-5 rewrite): instead of stacking band rows and
    SELF-JOINING on (band_idx, band) — two scans of the signature set plus
    a join shuffle, and quadratic row blowup inside a hot band — group by
    (band_idx, band), collect the sorted doc postings list once, and
    expand intra-list pairs through the family's one postings kernel,
    ``_postings_pairs``. One aggregate shuffle over band keys plus
    the final pair-dedup; the per-band cost is explicit (``size(ds)^2``)
    and therefore CAPPABLE.

    ``band_cap`` drops degenerate bands with more than ``band_cap``
    members from candidate generation — the analog of ``df_cap`` on hot
    shingles. A boilerplate corpus putting thousands of near-identical
    docs into one band otherwise pairs quadratically no matter how the
    pairs are produced; capping bounds emitted pairs at
    ``N_BANDS * n_bands * cap^2 / 2``. Downstream exact verification is
    unaffected (candidates are a recall set, never scored)."""
    per_band = N_MINHASH // N_BANDS
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * per_band + k}") for k in range(per_band)]))
        for b in range(N_BANDS)
    ]
    stack_args = []
    for b, bc in enumerate(band_cols):
        stack_args += [F.lit(b), bc]
    bands = sig.select(
        "doc_id", F.stack(F.lit(N_BANDS), *stack_args).alias("band_idx", "band")
    )
    pairs = _postings_pairs("{bands}", "band_idx, band", "doc_id", cap=band_cap)
    return sig.sparkSession.sql(
        f"SELECT DISTINCT doc_a, doc_b FROM ({pairs})", bands=bands
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on a full band (4 consecutive
    minhashes). Candidate generation is a postings-list expansion per band
    (no self-join; see ``lsh_pairs_from_signatures``); downstream a
    Jaccard verify pass would confirm. The registered query runs uncapped
    so results stay exactly oracle-equal; production callers pass
    ``band_cap`` to bound degenerate hot bands."""
    return lsh_pairs_from_signatures(_minhash_sig_df(spark, sf_dir))


_BAND_EXPRS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band FROM sig".format(
        b=b,
        concat=" || '|' || ".join(f"mh{b * (N_MINHASH // N_BANDS) + k}" for k in range(N_MINHASH // N_BANDS)),
    )
    for b in range(N_BANDS)
)
_MINHASH_LSH_SQL = f"""
WITH sh AS ({_SQL_SHINGLE_ROWS}),
sig AS (SELECT doc_id, {_MINHASH_MINS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_EXPRS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
"""


_SIMHASH_LANE_BITS = 15  # lane counter width -> docs up to 2^15-1 tokens
_SIMHASH_LANES = 4  # lanes per packed long (4*15=60 bits used)


def _simhash_fold_sigs(pdf) -> "pd.DataFrame":
    """Driver-fold signature computation over the driver (doc_id, text)
    frame: the in-process tf table (``driver_tf``), then vectorized
    numpy votes — exactly the lane aggregate's math
    (bit_j set iff 2*ones_j > n, ones tf-weighted; the occurrence-stream
    oracle is equivalent because tf occurrences of one token vote
    identically). One np.add.at scatter replaces the doc_id exchange."""
    import hashlib

    import numpy as np
    import pandas as pd

    tf_pdf = driver_tf(pdf)
    if not len(tf_pdf):
        return pd.DataFrame({"doc_id": [], "simhash": []})
    uniq = tf_pdf["token"].unique()
    hmap = {
        t: int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16) for t in uniq
    }
    h = tf_pdf["token"].map(hmap).to_numpy(dtype="int64")
    tf = tf_pdf["tf"].to_numpy(dtype="int64")
    codes, doc_ids = pd.factorize(tf_pdf["doc_id"])
    bits = ((h[:, None] >> np.arange(SIMHASH_BITS)) & 1).astype(np.int64)
    ones = np.zeros((len(doc_ids), SIMHASH_BITS), dtype=np.int64)
    np.add.at(ones, codes, bits * tf[:, None])
    n = np.zeros(len(doc_ids), dtype=np.int64)
    np.add.at(n, codes, tf)
    sig = (
        (2 * ones > n[:, None]).astype(np.int64) << np.arange(SIMHASH_BITS)
    ).sum(axis=1)
    return pd.DataFrame({"doc_id": doc_ids, "simhash": sig})


def _popcount64(x):
    """Vectorized int64 population count (numpy<2 has no bitwise_count):
    branch-free SWAR — 6 whole-array ops, ~30x faster than the per-byte
    table-lookup it replaces (2.1M elements: 1.4 s -> 0.05 s)."""
    import numpy as np

    x = x.astype(np.uint64, copy=True)
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    x -= (x >> np.uint64(1)) & m1
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return ((x * h01) >> np.uint64(56)).astype(np.int64)


def _banded_pairs_fold(
    sig_pdf, n_bands: int, band_bits: int, ham_max: int,
    sig_col: str = "simhash", id_col: str = "doc_id",
):
    """Driver-fold banded-Hamming pairing over a signature frame — the
    identical exact-collapse -> band-bucket -> verify -> cluster-expand
    semantics as ``banded_hamming_pairs``, fully vectorized: cluster
    blocks come from one sort, the band buckets of every band from a
    second (band index namespaces the bucket key), and every expansion
    (intra-cluster pairs, intra-bucket candidates, the cluster
    cross-product) is one ``_block_pairs`` call, verified with the SWAR
    ``_popcount64`` — no Python loop ever touches an output-sized
    collection (the earlier tuple-building expansion cost ~0.3 s for
    83k pairs; this is ~10 ms). Returns a pandas frame (doc_a, doc_b,
    hamming)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {c: np.array([], dtype=np.int64) for c in ("doc_a", "doc_b", "hamming")}
    )
    if not len(sig_pdf):
        return empty
    # one sort gives contiguous member blocks per signature (the cluster
    # table), ids ascending within a block
    sp = sig_pdf.sort_values([sig_col, id_col])
    sigs_all = sp[sig_col].to_numpy(np.int64)
    ids_all = sp[id_col].to_numpy(np.int64)
    starts = np.flatnonzero(np.r_[True, sigs_all[1:] != sigs_all[:-1]])
    sizes = np.diff(np.r_[starts, len(sigs_all)])
    sig_arr = sigs_all[starts]  # unique signatures

    # hamming-0: every pair inside one identical-signature cluster
    i, j, _ = _block_pairs(starts[sizes > 1], sizes[sizes > 1])
    out_a, out_b = [ids_all[i]], [ids_all[j]]
    out_h = [np.zeros(len(i), dtype=np.int64)]

    # banded candidates over UNIQUE signatures: bucket key (band, value),
    # member index = flat position mod the unique-signature count
    band = np.arange(n_bands, dtype=np.int64)[:, None]
    mask = (1 << band_bits) - 1
    keys = (((sig_arr[None, :] >> (band * band_bits)) & mask) + (band << band_bits)).ravel()
    order = np.argsort(keys, kind="stable").astype(np.int64)
    sk = keys[order]
    bs = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    bsz = np.diff(np.r_[bs, len(sk)])
    i, j, _ = _block_pairs(bs[bsz > 1], bsz[bsz > 1])
    u = np.int64(len(sig_arr))
    qa, qb = order[i] % u, order[j] % u
    qa, qb = np.minimum(qa, qb), np.maximum(qa, qb)
    # verify FIRST, dedup the qualifying survivors: the Hamming filter cuts
    # candidates ~40x, so the duplicate-collision unique sorts the
    # small survivor set instead of every banded candidate
    ham = _popcount64(sig_arr[qa] ^ sig_arr[qb])
    keep = ham <= ham_max
    qa, qb, ham = qa[keep], qb[keep], ham[keep]
    _, first = np.unique(qa * u + qb, return_index=True)
    qa, qb, ham = qa[first], qb[first], ham[first]
    # cluster cross-product: signature pair p expands to every
    # (member of qa[p], member of qb[p]) doc pair
    ia, ib, p = _block_pairs(starts[qa], sizes[qa], starts[qb], sizes[qb])
    ia, ib = ids_all[ia], ids_all[ib]
    out_a.append(np.minimum(ia, ib))
    out_b.append(np.maximum(ia, ib))
    out_h.append(ham[p])
    return pd.DataFrame(
        {
            "doc_a": np.concatenate(out_a),
            "doc_b": np.concatenate(out_b),
            "hamming": np.concatenate(out_h),
        }
    )


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over token occurrences: per-bit +/-1 vote weighted by
    term frequency, sign -> bit. One explode + one aggregate.

    Vote packing (the round-3 fix for the 32-branch when() per token row):
    the +/-1 vote sum satisfies ``s_j = 2*ones_j - n``, so only the per-bit
    ONES counts are aggregated — four 15-bit lane counters packed per long,
    8 branch-free SUM buffers instead of 32 conditional sums. Lane width
    bounds docs at 2^15-1 tokens (far beyond the corpus; a longer doc would
    overflow a lane counter) and the packed partial sums stay < 2^61, safe
    under ANSI arithmetic. Decode is ``bit_j = (2*ones_j > n)``.

    Round 8: votes aggregate over the SPARSE tf table from the fused
    Arrow tokenize stage (``textops.tokenize_tf``), each row weighted by
    tf — identical math (an occurrence-exploded vote of weight 1, tf
    times, equals one vote of weight tf), but the lane aggregate reads
    ~10x fewer rows than the 12M-occurrence explode and the token
    stream never materializes. Weighted lane values still fit: bit*tf <
    2^15 per lane, same packed bound as before.
    """
    from tomixpanel_spark.operators.textops import tokenize_tf

    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        # size-adaptive driver fold (the tfidf/bm25 gate): the door's
        # one bounded collect + numpy votes, zero exchanges
        return local_rows_df(
            spark, _simhash_fold_sigs(pdf), schema="doc_id long, simhash long"
        )
    toks = tokenize_tf(ensure_parallel(docs, "doc_id"))
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    toks = toks.withColumn("h", h)

    n_groups = SIMHASH_BITS // _SIMHASH_LANES
    pack_cols, sim_col = _simhash_columns(weighted=True)
    # packed lanes are computed in a PROJECTION and the aggregate sums
    # plain columns: measured ~2x faster than evaluating the packing
    # expressions inside the HashAggregate itself
    lanes = toks.select("doc_id", "tf", *pack_cols)
    votes = lanes.groupBy("doc_id").agg(
        F.sum("tf").alias("n"),
        *[F.sum(f"k{g}").alias(f"p{g}") for g in range(n_groups)],
    )
    return votes.select("doc_id", sim_col)


@lru_cache(maxsize=2)
def _simhash_columns(weighted: bool = False):
    """The ~170-node pack/decode expression trees are constants — building
    them is pure py4j round-trips (~0.9 s/call measured), so they memoize
    per process. Columns are unresolved expression trees, not bound to a
    DataFrame, so reuse across plans is safe. ``weighted=True`` packs
    ``bit * tf`` per lane (sparse tf-table input); False packs bare bits
    (occurrence-stream input — kept for the streaming path and the
    naive-equivalence property test)."""

    def packed(g: int):
        lanes = None
        for lane in range(_SIMHASH_LANES):
            j = g * _SIMHASH_LANES + lane
            bit = F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))
            unit = bit * F.col("tf") if weighted else bit
            term = F.shiftleft(unit, lane * _SIMHASH_LANE_BITS)
            lanes = term if lanes is None else lanes + term
        return lanes

    n_groups = SIMHASH_BITS // _SIMHASH_LANES
    pack_cols = tuple(packed(g).alias(f"k{g}") for g in range(n_groups))
    sim = None
    for j in range(SIMHASH_BITS):
        g, lane = divmod(j, _SIMHASH_LANES)
        ones = F.shiftright(F.col(f"p{g}"), lane * _SIMHASH_LANE_BITS).bitwiseAND(
            F.lit((1 << _SIMHASH_LANE_BITS) - 1)
        )
        term = F.when(ones * 2 > F.col("n"), F.lit(2**j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return pack_cols, sim.cast("bigint").alias("simhash")


_SIMHASH_VOTES = ",\n  ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(SIMHASH_BITS)
)
_SIMHASH_RECON = " + ".join(
    f"CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END" for j in range(SIMHASH_BITS)
)
_SIMHASH_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest({SQL_WORDS}) AS token FROM documents)),
v AS (SELECT doc_id, {_SIMHASH_VOTES} FROM t GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_RECON} AS BIGINT) AS simhash FROM v
"""

SIMHASH_BANDS = 4  # 8 bits each over the 32-bit signature
SIMHASH_HAM_MAX = 3  # pigeonhole: hamming <= 3 => >= 1 of 4 bands equal


def simhash_pairs(spark: SparkSession, sf_dir: str, band_cap: int | None = None) -> DataFrame:
    """SimHash near-dup PAIR decision: candidates from 8-bit band
    collisions over the 32-bit signature, verified by exact Hamming
    distance <= SIMHASH_HAM_MAX on the signatures themselves (SimHash IS
    the sketch — no second look at the text, unlike the Jaccard paths).
    Pigeonhole guarantees recall: hamming <= 3 differing bits cannot
    touch all 4 bands, so every qualifying pair collides somewhere.

    Exact-duplicate collapse FIRST, banding second: identical signatures
    (boilerplate clusters — the degenerate case of any near-dup corpus)
    are grouped into one row before candidate generation, so band
    postings hold UNIQUE signatures and the expansion is quadratic only
    in distinct signatures per bucket, never in documents (on the test
    corpus this cuts candidate structs from 2.8M to the ~k^2 of a few
    hundred uniques; at 100 TB it is the difference between a boilerplate
    cluster of a million docs costing 10^12 candidate pairs and costing
    ONE posting entry). Signature-level pairs dedup before the cluster
    cross-product expands doc pairs, so each output pair materializes
    exactly once; intra-cluster (hamming-0) pairs expand directly.
    ``band_cap`` bounds distinct-signature postings, the residual
    hot-bucket guard, read through ``int()`` before any job runs."""
    if band_cap is not None:
        band_cap = int(band_cap)
    pdf = fold_corpus(spark, sf_dir)[1] if band_cap is None else None
    if pdf is not None:
        # full driver fold under the tfidf gate: signatures AND the
        # banded pairing run in numpy, pairs ship back as ONE Arrow
        # local relation. (An earlier fold lost to the JVM join because
        # its expansion built 83k Python tuples; the vectorized fold +
        # Arrow createDataFrame is ~0.6 s vs 1.3-1.9 s distributed at
        # sf0.1.) band_cap callers stay distributed — the cap is a
        # hot-bucket guard for the scale path and the fold does not
        # replicate its band-dropping semantics.
        pairs = _banded_pairs_fold(
            _simhash_fold_sigs(pdf), SIMHASH_BANDS, 8, SIMHASH_HAM_MAX
        )
        return local_rows_df(
            spark, pairs, schema="doc_a long, doc_b long, hamming long"
        )
    sig = simhash(spark, sf_dir)
    return banded_hamming_pairs(
        sig, "simhash", SIMHASH_BANDS, 8, SIMHASH_HAM_MAX, band_cap=band_cap
    )


def banded_hamming_pairs(
    sig: DataFrame,
    sig_col: str,
    n_bands: int,
    band_bits: int,
    ham_max: int,
    band_cap: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Generic banded-Hamming pairing over an integer signature column —
    the machinery behind ``simhash_pairs`` (text signatures) and
    ``media_neardup`` (perceptual image hashes). Pigeonhole guarantee:
    ``ham_max < n_bands`` differing bits cannot touch every band, so
    every qualifying pair collides in at least one band.

    Exact-duplicate collapse FIRST, banding second: identical signatures
    (boilerplate clusters — the degenerate case of any near-dup corpus)
    are grouped into one row before candidate generation, so band
    postings hold UNIQUE signatures and the expansion is quadratic only
    in distinct signatures per bucket, never in documents (at 100 TB it
    is the difference between a boilerplate cluster of a million docs
    costing 10^12 candidate pairs and costing ONE posting entry).
    Signature-level pairs dedup before the cluster cross-product expands
    doc pairs, so each output pair materializes exactly once;
    intra-cluster (hamming-0) pairs expand directly. ``band_cap`` bounds
    distinct-signature postings, the residual hot-bucket guard.

    Size-adaptive: when the SIGNATURE table fits the driver gate (and no
    band_cap is requested — the fold does not replicate its
    band-dropping), the whole pairing folds through
    ``_banded_pairs_fold`` — the signature producer (decode/hash
    pipeline) still runs distributed; only the output-bounded signature
    rows transfer. The bounded probe proves overflow without shipping
    the full table. ``band_cap`` goes through ``int()`` first, so a
    non-numeric cap raises before the cluster checkpoint job."""
    if band_cap is not None:
        band_cap = int(band_cap)
    if band_cap is None:
        probe = TFIDF_DRIVER_FOLD_DOCS.collect_or_none(
            sig.select(F.col(id_col).alias("doc_id"), F.col(sig_col).alias("simhash"))
        )
        if probe is not None:
            pdf = _banded_pairs_fold(probe, n_bands, band_bits, ham_max)
            return local_rows_df(
                sig.sparkSession, pdf, schema="doc_a long, doc_b long, hamming long"
            )
    # The cluster table (one row per DISTINCT signature) is the compact
    # dedup artifact everything else reads: materialize it once — four
    # consumers (intra pairs, band postings, two id join-backs) would
    # otherwise re-run the signature aggregate per branch. Size is
    # bounded by signature diversity, not corpus size.
    clusters = (
        sig.groupBy(sig_col)
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
    )
    clusters = stage_checkpoint(clusters, eager=True)
    # hamming-0: every pair inside one identical-signature cluster (the
    # sorted ids list is a postings list; same kernel as shingles/bands)
    intra = clusters.filter(F.size("ids") >= 2).selectExpr(
        _pairs_expr("ids"), "0L AS hamming"
    )
    mask = (1 << band_bits) - 1
    rb = F.explode(
        F.array(
            *[
                F.shiftright(sig_col, i * band_bits).bitwiseAND(F.lit(mask))
                + F.lit(i * (mask + 1))  # band value namespaced by band index
                for i in range(n_bands)
            ]
        )
    ).alias("band")
    # Candidates via a band EQUI-JOIN over bare unique signatures. This
    # family's Jaccard/LSH paths use postings-list lambda expansion to
    # dodge a double scan of a heavyweight input, but here the band table
    # derives from the CHECKPOINTED cluster artifact (no recompute), and
    # narrow bands over a low-diversity signature space are collision-
    # dense — millions of candidates — where whole-stage-codegen join +
    # bit_count filter beats interpreted higher-order-function struct
    # building ~4x (measured). ``band_cap`` drops degenerate bands
    # before the join via a tiny per-band count.
    bands = clusters.select(sig_col, rb)
    if band_cap is not None:
        sizes = bands.groupBy("band").agg(F.count(F.lit(1)).alias("k"))
        bands = bands.join(
            F.broadcast(sizes.filter(F.col("k") <= band_cap).select("band")), "band"
        )
    a = bands.select("band", F.col(sig_col).alias("sa"))
    b = bands.select("band", F.col(sig_col).alias("sb"))
    sig_pairs = (
        a.join(b, "band")
        .filter(F.col("sa") < F.col("sb"))
        .select(
            "sa",
            "sb",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= ham_max)
        .dropDuplicates(["sa", "sb"])  # multi-band collisions of one sig pair
    )
    inter = (
        sig_pairs.join(
            F.broadcast(clusters.select(F.col(sig_col).alias("sa"), F.col("ids").alias("ids_a"))),
            "sa",
        )
        .join(
            F.broadcast(clusters.select(F.col(sig_col).alias("sb"), F.col("ids").alias("ids_b"))),
            "sb",
        )
        .select("hamming", F.explode("ids_a").alias("ia"), "ids_b")
        .select("hamming", "ia", F.explode("ids_b").alias("ib"))
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            "hamming",
        )
    )
    return intra.unionByName(inter)


_SIMHASH_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {i} AS b, (simhash >> {i * 8}) & 255 AS band FROM sig"
    for i in range(SIMHASH_BANDS)
)
_SIMHASH_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest({SQL_WORDS}) AS token FROM documents)),
v AS (SELECT doc_id, {_SIMHASH_VOTES} FROM t GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({_SIMHASH_RECON} AS BIGINT) AS simhash FROM v),
bands AS ({_SIMHASH_BANDS_SQL})
SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
FROM bands a JOIN bands c ON a.b = c.b AND a.band = c.band AND a.doc_id < c.doc_id
WHERE bit_count(xor(a.simhash, c.simhash)) <= {SIMHASH_HAM_MAX}
"""


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup decision: verified Jaccard>=0.8 pairs ->
    drop the higher doc_id of each pair -> emit the keep list.

    This is the production flow's final step (candidates from MinHash-LSH
    at 100 TB, pairwise Jaccard verify, greedy keep-lowest-id policy —
    pairwise rather than transitive closure, matching common corpus-dedup
    practice where near-dup clusters are small)."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(drops, "doc_id", "left_anti").select("doc_id")


_DEDUP_KEEP_LIST_SQL = f"""
WITH sh AS ({_SQL_SHINGLE_ROWS}),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
drops AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM c JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
  WHERE CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) >= {JACCARD_THRESHOLD})
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""


def dedup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
    df_cap: int | None = None,
    candidate_source: str = "jaccard",
    band_cap: int | None = None,
) -> dict[str, DataFrame]:
    """Production dedup entry point: run candidate generation + exact
    Jaccard verification ONCE and serve BOTH downstream decisions from the
    persisted pair set.

    ``candidate_source``:
      * ``"jaccard"`` (default) — shingle-postings candidate generation
        with exact verification: every >= threshold pair is found (modulo
        the documented ``df_cap`` hot-shingle trade). Right up to the
        scale where the per-shingle postings expansion gets expensive.
      * ``"lsh"`` — the 100 TB path: MinHash band agreement proposes
        candidates (``band_cap`` bounds degenerate bands), then the SAME
        exact-Jaccard gate verifies them. Probabilistic recall
        (a >= threshold pair missing every band is lost — ~`1-(1-j^r)^b`),
        but candidate volume stays sub-quadratic no matter how the corpus
        clusters; surviving pairs carry true Jaccard scores either way.

    The registered ``dedup_keep_list`` and ``neardup_components`` queries
    are deliberately self-contained (each prices its own full lineage for
    the oracle comparison), which means running both in one session
    recomputes shingling + verification twice. A real pipeline
    materializes verified pairs once — the standard "pairs table" artifact
    — and derives every policy from it. Returns:

      * ``pairs`` — verified (doc_a, doc_b, jaccard) rows, persisted.
      * ``keep_list`` — pairwise drop-higher-id policy (``dedup_keep_list``
        semantics).
      * ``components`` — transitive clusters with keep_doc_id/cluster_size
        (``neardup_components`` semantics).

    Caller owns the persisted pairs' lifetime: ``result["pairs"].
    unpersist()`` when done (or write it to the lake as the artifact)."""
    from tomixpanel_spark.operators.identity import keep_per_cluster

    if candidate_source == "lsh":
        sa = shingle_arrays_for(df, id_col, text_col)
        sig = sa.select("doc_id", *minhash_columns())
        cand = lsh_pairs_from_signatures(sig, band_cap)
        pairs = verify_pairs_exact(cand, sa, threshold).persist()
    elif candidate_source == "jaccard":
        pairs = near_dup_pairs(df, id_col, text_col, threshold, df_cap).persist()
    else:
        raise ValueError(f"unknown candidate_source: {candidate_source!r}")
    drops = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    keep = df.select(id_col).join(drops, id_col, "left_anti").select(id_col)
    winners, _ = keep_per_cluster(pairs, a="doc_a", b="doc_b")
    components = winners.select(
        F.col("keep").alias("keep_doc_id"), F.col("size").alias("cluster_size")
    )
    return {"pairs": pairs, "keep_list": keep, "components": components}


def lsh_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup flow as ONE oracle-checkable query: MinHash band
    agreement proposes candidates, exact Jaccard verifies them, the
    pairwise drop-higher-id policy emits the keep list. Differs from
    ``dedup_keep_list`` only in candidate generation (sub-quadratic band
    buckets instead of shingle postings) — the verification gate and the
    policy are the same code.

    The shingle-array projection feeds THREE consumers in this lineage
    (signatures + both verify sides); Spark has no cross-branch
    subexpression reuse, so without materialization the corpus shingles
    three times. Materialize it in-query with a LAZY localCheckpoint —
    exactly the signatures artifact a production dedup pipeline writes
    once (``dedup_pipeline``). localCheckpoint, NOT persist(): a persist
    registers the subplan in the session CacheManager, which then
    silently substitutes the cached relation into every OTHER query
    sharing the subtree — a surprising cross-query side effect a single
    query must not have.

    The signature projection rides the SAME derived-artifact key as
    ``minhash_signature`` (``("minhash_sig", sf_dir)``): with
    TOMIX_CACHE_DERIVED on, a pipeline that already materialized
    signatures skips the 8 md5 folds per shingle here entirely; with it
    off, the builder runs over the checkpointed shingles — still one
    shingle computation for all three consumers."""
    import os

    sa = stage_checkpoint(_shingle_arrays(spark, sf_dir), eager=False)
    if os.environ.get("TOMIX_CACHE_DERIVED"):
        # shared artifact path: build (or reuse) the SAME keyed signature
        # view as minhash_signature, from the FULL lineage — rooting the
        # session-wide artifact in this query's non-replicated
        # localCheckpoint would make it unrecoverable after executor loss
        sig = _minhash_sig_df(spark, sf_dir)
    else:
        sig = sa.select("doc_id", *minhash_columns())
    cand = lsh_pairs_from_signatures(sig)
    verified = verify_pairs_exact(cand, sa, JACCARD_THRESHOLD)
    drops = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(drops, "doc_id", "left_anti").select("doc_id")


_LSH_KEEP_LIST_SQL = f"""
WITH sh AS ({_SQL_SHINGLE_ROWS}),
sig AS (SELECT doc_id, {_MINHASH_MINS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_EXPRS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
lists AS (SELECT doc_id, list(sh) AS ls, COUNT(*) AS n FROM sh GROUP BY doc_id),
ver AS (
  SELECT doc_a, doc_b, len(list_intersect(la.ls, lb.ls)) AS common, la.n AS na, lb.n AS nb
  FROM cand JOIN lists la ON doc_a = la.doc_id JOIN lists lb ON doc_b = lb.doc_id),
drops AS (
  SELECT DISTINCT doc_b AS doc_id FROM ver
  WHERE CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= {JACCARD_THRESHOLD})
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM drops)
"""


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: connected components over the
    verified Jaccard pair graph, keep the minimum doc_id per cluster.
    Upgrades `dedup_keep_list`'s pairwise drop policy (A~B, B~C now
    collapse to ONE representative even when A!~C). Reuses the
    size-adaptive CC engine (operators/identity.py): near-dup clusters are
    small and the pair set is sparse, so at corpus scale the edge list is
    orders of magnitude smaller than the corpus — the driver union-find
    path almost always applies; the distributed loop is the fallback."""
    from tomixpanel_spark.operators.identity import keep_per_cluster

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    winners, _ = keep_per_cluster(pairs, a="doc_a", b="doc_b")
    return winners.select(
        F.col("keep").alias("keep_doc_id"), F.col("size").alias("cluster_size")
    )


_NEARDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE p AS ({_NGRAM_JACCARD_SQL.strip()}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION SELECT doc_b, doc_a FROM p),
walk(node, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node)
SELECT min(node) AS keep_doc_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM comp GROUP BY component
"""


def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering keeping the BEST copy per cluster —
    the policy production dedup actually runs (keep the longest/highest-
    quality document, not the smallest id): per cluster, the doc with
    the most tokens, ties to the lowest doc_id.

    Shape: the same verified pair graph + size-adaptive connected
    components as ``neardup_components``; the quality signal RIDES THE
    PAIRS themselves (``near_dup_pairs(carry_ntoks=True)`` stamps each
    side's token count onto the edge in the shingle projection, where
    the tokens array already exists), so no second corpus scan ever
    fetches it — member signals derive from edge-sized data (guide §8).
    ``identity.keep_per_cluster`` picks each cluster's winner."""
    from tomixpanel_spark.operators.identity import keep_per_cluster

    pairs = near_dup_pairs(
        table(spark, sf_dir, "documents"), carry_ntoks=True
    ).select("doc_a", "doc_b", "nt_a", "nt_b")
    winners, _ = keep_per_cluster(pairs, a="doc_a", b="doc_b", attrs=("nt_a", "nt_b"))
    return winners.select(
        F.col("keep").alias("keep_doc_id"),
        F.col("signal").alias("keep_n_tokens"),
        F.col("size").alias("cluster_size"),
    )


_NEARDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE p AS ({_NGRAM_JACCARD_SQL.strip()}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION SELECT doc_b, doc_a FROM p),
walk(node, reach) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach),
comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
sized AS (
  SELECT doc_id AS node, CAST(len({SQL_WORDS}) AS BIGINT) AS n_tokens
  FROM documents)
SELECT CAST(-max(struct_pack(t := s.n_tokens, nid := -c.node)).nid AS BIGINT) AS keep_doc_id,
       CAST(max(struct_pack(t := s.n_tokens, nid := -c.node)).t AS BIGINT) AS keep_n_tokens,
       CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM comp c JOIN sized s USING (node)
GROUP BY c.component
"""


EVAL_SET_MOD = 97  # synthetic held-out set: every 97th doc

# Broadcast the eval side only while it's small enough to fit executor
# memory: a benchmark suite is typically thousands of docs, but a 100 TB
# corpus paired with a huge eval set must fall back to a shuffle join.
# Gate is in eval DOCS (counted with a cheap single-column scan — counting
# eval SHINGLE rows would force the whole shingle computation twice).
DECONTAM_BCAST_DOCS = Gate("TOMIX_DECONTAM_BCAST_DOCS", 100_000)


def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination check: which training docs share n-gram
    shingles with the held-out eval set (here: every 97th doc), and how
    many. The standard pre-training hygiene pass — eval-set shingles are
    ~1/97 of the corpus, so the eval side BROADCASTS (below the size gate)
    and contamination is a map-side hash join per shingle row; the only
    shuffle is the per-doc count-distinct aggregate. Above the gate
    (``TOMIX_DECONTAM_BCAST_DOCS``) the join falls back to a shuffle with
    Spark's runtime bloom-filter injection enabled, so non-overlapping
    corpus rows are still pruned map-side before the exchange. Docs with
    zero overlap don't appear."""
    docs = table(spark, sf_dir, "documents")
    sh = _shingle_arrays(spark, sf_dir, docs)
    rows = sh.select("doc_id", F.explode("sh_arr").alias("sh"))
    is_eval = F.pmod(F.col("doc_id"), F.lit(EVAL_SET_MOD)) == 0
    eval_sh = rows.filter(is_eval).select(
        F.col("sh").alias("e_sh"), F.col("doc_id").alias("eval_doc")
    )
    corpus = rows.filter(~is_eval)
    # Above the gate we KNOW the eval side is big even when Catalyst's
    # size estimate (unreliable through explode lineage) says tiny, so the
    # gate pins a shuffle-hash join. The pin holds at runtime too: with
    # the cap at 0, AQE's final plan keeps the ShuffledHashJoin even for
    # a KB-sized eval side (sf0.001 and sf0.01).
    eval_side = DECONTAM_BCAST_DOCS.join_sides((sf_dir,), docs.filter(is_eval), eval_sh)
    return (
        corpus.join(eval_side, corpus.sh == eval_sh.e_sh)
        .groupBy("doc_id")
        .agg(
            F.count_distinct("sh").alias("n_shared"),
            F.count_distinct("eval_doc").alias("n_eval_docs"),
        )
    )


_DECONTAM_SQL = f"""
WITH sh AS ({_SQL_SHINGLE_ROWS}),
ev AS (SELECT sh AS e_sh, doc_id AS eval_doc FROM sh WHERE doc_id % {EVAL_SET_MOD} = 0),
co AS (SELECT doc_id, sh FROM sh WHERE doc_id % {EVAL_SET_MOD} <> 0)
SELECT co.doc_id,
  CAST(COUNT(DISTINCT co.sh) AS BIGINT) AS n_shared,
  CAST(COUNT(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
FROM co JOIN ev ON co.sh = ev.e_sh
GROUP BY co.doc_id
"""


# -- exact substring-window duplication -------------------------------------
SUBSTR_WIN = 10  # tokens per sliding window (the exact-substring unit)
# window key: XOR of the 10 token hashes, each rotated by 7*offset bits
# (position-dependence without multiply — ANSI-safe, branch-free)
XOR_CHAIN = " ^ ".join(
    (
        f"(shiftleft(element_at(th, i + {k}), {(7 * k) % 64}) | "
        f"shiftrightunsigned(element_at(th, i + {k}), {64 - (7 * k) % 64}))"
        if k
        else "element_at(th, i)"
    )
    for k in range(SUBSTR_WIN)
)


def _substring_dup_window_positions(flat, doc, n_docs):
    """Shared fold core for the exact-substring family: window-hash the
    CONCATENATED driver token stream (``driver_tokens``' flat tokens and
    doc indices) with the rotate-XOR combination (dictionary-encoded
    token codes -> random 64-bit values; windows crossing a doc boundary
    mask out), and return per-doc token counts plus the CROSS-DOC
    duplicated windows as (doc index, 0-based start position) arrays.
    Stats counts them; spans merges them into islands; clean cuts them
    out."""
    import numpy as np
    import pyarrow.compute as pc

    lens = np.bincount(doc, minlength=n_docs)
    empty = np.array([], dtype=np.int64)
    if not len(flat) or int(lens.max()) < SUBSTR_WIN:
        return lens, empty, empty
    enc = pc.dictionary_encode(flat)
    # deterministic 64-bit value per distinct token (collision-free at
    # the token level by construction; window-level collisions are the
    # same ~1e-9 risk the distributed xxhash64 path carries)
    vals = np.random.default_rng(0x5EED).integers(
        0, 2**63 - 1, size=len(enc.dictionary), dtype=np.int64
    )
    h = vals[enc.indices.to_numpy()]
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    W = len(h) - (SUBSTR_WIN - 1)
    wh = h[:W].copy()
    for k in range(1, SUBSTR_WIN):
        r = (7 * k) % 64
        x = h[k : k + W].astype(np.uint64)
        wh ^= ((x << np.uint64(r)) | (x >> np.uint64(64 - r))).astype(np.int64)
    keep_idx = np.flatnonzero(doc[:W] == doc[SUBSTR_WIN - 1 :])
    wh = wh[keep_idx]
    wdoc = doc[keep_idx]
    wpos = keep_idx - offsets[wdoc]  # 0-based start within the doc
    order = np.argsort(wh, kind="stable")
    ws, ds = wh[order], wdoc[order]
    first = np.r_[True, ws[1:] != ws[:-1]]
    starts = np.flatnonzero(first)
    grp = np.cumsum(first) - 1  # window -> its hash group
    dmin = np.minimum.reduceat(ds, starts)
    dmax = np.maximum.reduceat(ds, starts)
    dup_rows = order[(dmin != dmax)[grp]]
    return lens, wdoc[dup_rows], wpos[dup_rows]


def _substring_fold(pdf) -> "pd.DataFrame":
    """Driver-fold exact-substring stats over the driver (doc_id, text)
    frame: the whole window pipeline vectorized over the
    CONCATENATED corpus token stream — dictionary-encoded token codes map to
    random 64-bit values, window keys are the same rotate-XOR combination
    the distributed plan computes, and windows crossing a document
    boundary mask out. At bench scale the distributed plan is ~5 stages
    of scheduler floor over only ~226k windows; the fold is one transfer
    plus ~10 numpy passes."""
    import numpy as np
    import pandas as pd

    if not len(pdf):
        return pd.DataFrame(
            {
                "doc_id": np.array([], dtype=np.int64),
                "n_windows": np.array([], dtype=np.int64),
                "n_dup_windows": np.array([], dtype=np.int64),
                "dup_frac_e6": np.array([], dtype=np.int64),
            }
        )
    flat, doc = driver_tokens(pdf["text"])
    lens, dup_doc, dup_pos = _substring_dup_window_positions(flat, doc, len(pdf))
    n_windows = np.maximum(lens - (SUBSTR_WIN - 1), 0)
    n_dup = np.zeros(len(pdf), dtype=np.int64)
    np.add.at(n_dup, dup_doc, 1)
    frac = np.where(n_windows > 0, n_dup * 1_000_000 // np.maximum(n_windows, 1), 0)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(np.int64),
            "n_windows": n_windows,
            "n_dup_windows": n_dup,
            "dup_frac_e6": frac.astype(np.int64),
        }
    )


def substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-window duplication signal (the C4 / "Deduplicating
    Training Data" exact-substring criterion, re-expressed windowed): for
    every SUBSTR_WIN-token sliding window of every document, find windows
    whose exact text occurs in MORE THAN ONE document, and emit per-doc
    counts + the duplicated-window fraction — the filter signal for
    cross-document boilerplate that segment/shingle dedup miss (segments
    need delimiter structure; shingle Jaccard is whole-doc).

    Scale shape: the window table is one narrow explode (corpus token
    count rows); each window is keyed by a rotate-XOR combination of its
    tokens' xxhash64 values — the window TEXT is never materialized (the
    earlier concat_ws form allocated 12M ~60-byte strings per run just
    to hash them) and the duplicate-discovery aggregate shuffles
    fixed-width longs. Position sensitivity comes from the per-offset
    rotation (XOR alone would collide permuted windows); all ops are
    bitwise, so ANSI arithmetic cannot overflow. Each engine uses its
    own native window key (the oracle hashes the window string) — the
    dup-decision semantics are engine-independent and a 64-bit collision
    across ~10^7 windows is ~1e-6 improbable. Map-side partials collapse
    repeated boilerplate before the exchange; the duplicated-hash set
    (aggregate output, bounded by distinct duplicated windows) joins
    back in the same keyed space. Production suffix-array dedup replaces
    the window explode with an index build — the decision signal is the
    same."""
    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        # size-adaptive driver fold (the tfidf/bm25/simhash gate): the
        # distributed plan below is ~5 stages of scheduler floor at small
        # window counts; paths-agree test pins identity
        return local_rows_df(
            spark,
            _substring_fold(pdf),
            schema="doc_id long, n_windows long, n_dup_windows long, dup_frac_e6 long",
        )
    docs = ensure_parallel(docs, "doc_id")
    toks = docs.select("doc_id", tokens("text").alias("w")).select(
        "doc_id",
        F.size("w").alias("n"),
        F.expr("transform(w, t -> xxhash64(t))").alias("th"),
    )
    # guard short docs: a doc under SUBSTR_WIN tokens has ZERO windows —
    # unguarded, sequence(1, 0) is the DESCENDING [1, 0] and per-window
    # element_at reads would go out of range
    win_hash = F.expr(
        f"CASE WHEN n >= {SUBSTR_WIN} THEN "
        f"transform(sequence(1, n - {SUBSTR_WIN - 1}), i -> {XOR_CHAIN}) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    wins = toks.select("doc_id", F.explode(win_hash).alias("wh"))
    # two consumers (duplicate discovery, per-doc join-back) — materialize
    # the explode+hash once instead of re-running it per branch
    wins = stage_checkpoint(wins, eager=False)
    # cross-doc test as min!=max over doc_id: one pair of cheap partial
    # aggregates instead of a two-phase count_distinct
    dup = (
        wins.groupBy("wh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("wh")
    )
    per_doc = (
        wins.join(dup, "wh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    totals = toks.select(
        "doc_id",
        F.greatest(F.col("n") - (SUBSTR_WIN - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.when(F.col("n_windows") > 0,
               F.expr("coalesce(n_dup_windows, 0) * 1000000 div n_windows"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_frac_e6"),
    )


_SUBSTR_DUP_SQL = f"""
WITH toks AS (SELECT doc_id, {SQL_WORDS} AS w FROM documents),
wins AS (
  SELECT doc_id, hash(array_to_string(w[i:i+{SUBSTR_WIN - 1}], ' ')) AS wh
  FROM toks, unnest(generate_series(1, greatest(len(w) - {SUBSTR_WIN - 1}, 0))) AS t(i)),
dup AS (
  SELECT wh FROM (SELECT wh, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY wh)
  WHERE nd >= 2),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows
  FROM wins WHERE wh IN (SELECT wh FROM dup) GROUP BY doc_id),
totals AS (
  SELECT doc_id,
         CAST(greatest(len(w) - {SUBSTR_WIN - 1}, 0) AS BIGINT) AS n_windows
  FROM toks)
SELECT t.doc_id, t.n_windows,
       CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(CASE WHEN t.n_windows > 0
                 THEN COALESCE(p.n_dup_windows, 0) * 1000000 // t.n_windows
                 ELSE 0 END AS BIGINT) AS dup_frac_e6
FROM totals t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
"""


def _substring_spans_fold(pdf) -> "pd.DataFrame":
    """Driver-fold span merge: duplicated window starts from the shared
    core, islands via the vectorized gaps-and-islands (sort by
    (doc, pos); new island when the start gap exceeds SUBSTR_WIN),
    reduceat min/max per island."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            c: np.array([], dtype=np.int64)
            for c in ("doc_id", "span_start", "span_end", "span_tokens")
        }
    )
    if not len(pdf):
        return empty
    flat, doc = driver_tokens(pdf["text"])
    _lens, dup_doc, dup_pos = _substring_dup_window_positions(flat, doc, len(pdf))
    if not len(dup_doc):
        return empty
    order = np.lexsort((dup_pos, dup_doc))
    d, p = dup_doc[order], dup_pos[order]
    new_island = np.r_[
        True, (d[1:] != d[:-1]) | (p[1:] - p[:-1] > SUBSTR_WIN)
    ]
    starts = np.flatnonzero(new_island)
    ends = np.r_[starts[1:], len(p)]
    span_start = p[starts] + 1  # 1-based token index
    span_end = np.maximum.reduceat(p, starts) + SUBSTR_WIN
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(np.int64)[d[starts]],
            "span_start": span_start,
            "span_end": span_end,
            "span_tokens": span_end - span_start + 1,
        }
    )


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL policy (the "Deduplicating Training
    Data Makes Language Models Better" ExactSubstr cut, windowed): merge
    every cross-document duplicated SUBSTR_WIN-token window into maximal
    per-doc token spans — the spans a cleaning pipeline cuts out of the
    text (``substring_dup_stats`` is the per-doc SIGNAL; this is the
    actionable span list). Two windows join one span when their starts
    are within SUBSTR_WIN tokens (overlapping or contiguous coverage).

    Scale shape: identical window-hash discovery as the stats query
    (fixed-width longs through the exchange, never window text); the
    span merge is a per-doc gaps-and-islands — one window sort keyed by
    (doc_id, position), state bounded per doc. Size-adaptive: driver
    fold under the tfidf gate (vectorized lexsort + reduceat), same
    shape distributed."""
    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        return local_rows_df(
            spark,
            _substring_spans_fold(pdf),
            schema="doc_id long, span_start long, span_end long, span_tokens long",
        )
    docs = ensure_parallel(docs, "doc_id")
    from pyspark.sql import Window

    toks = docs.select("doc_id", tokens("text").alias("w")).select(
        "doc_id",
        F.size("w").alias("n"),
        F.expr("transform(w, t -> xxhash64(t))").alias("th"),
    )
    win_structs = F.expr(
        f"CASE WHEN n >= {SUBSTR_WIN} THEN "
        f"transform(sequence(1, n - {SUBSTR_WIN - 1}), i -> "
        f"struct(i AS i, {XOR_CHAIN} AS wh)) "
        f"ELSE CAST(array() AS ARRAY<STRUCT<i: INT, wh: BIGINT>>) END"
    )
    wins = toks.select("doc_id", F.explode(win_structs).alias("s")).select(
        "doc_id", F.col("s.i").alias("i"), F.col("s.wh").alias("wh")
    )
    wins = stage_checkpoint(wins, eager=False)
    dup = (
        wins.groupBy("wh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("wh")
    )
    d = wins.join(dup, "wh", "left_semi").select("doc_id", "i")
    w_ord = Window.partitionBy("doc_id").orderBy("i")
    flagged = d.withColumn(
        "nf",
        F.when(
            (F.col("i") - F.lag("i").over(w_ord) > SUBSTR_WIN)
            | F.lag("i").over(w_ord).isNull(),
            1,
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("nf").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return flagged.groupBy("doc_id", "island").agg(
        F.min("i").cast("long").alias("span_start"),
        (F.max("i") + (SUBSTR_WIN - 1)).cast("long").alias("span_end"),
        (F.max("i") + SUBSTR_WIN - F.min("i")).cast("long").alias("span_tokens"),
    ).drop("island")


_SUBSTR_SPANS_SQL = f"""
WITH toks AS (SELECT doc_id, {SQL_WORDS} AS w FROM documents),
wins AS (
  SELECT doc_id, i, array_to_string(w[i:i+{SUBSTR_WIN - 1}], ' ') AS wt
  FROM toks, unnest(generate_series(1, greatest(len(w) - {SUBSTR_WIN - 1}, 0))) AS t(i)),
dup AS (
  SELECT wt FROM (SELECT wt, MIN(doc_id) AS a, MAX(doc_id) AS b FROM wins GROUP BY wt)
  WHERE a <> b),
d AS (SELECT doc_id, i FROM wins WHERE wt IN (SELECT wt FROM dup)),
marked AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > {SUBSTR_WIN}
              OR lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
              THEN 1 ELSE 0 END AS nf
  FROM d),
isl AS (
  SELECT doc_id, i,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)
           AS island
  FROM marked)
SELECT doc_id,
       CAST(MIN(i) AS BIGINT) AS span_start,
       CAST(MAX(i) + {SUBSTR_WIN - 1} AS BIGINT) AS span_end,
       CAST(MAX(i) + {SUBSTR_WIN} - MIN(i) AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_id, island
"""


def _substring_clean_fold(pdf) -> "pd.DataFrame":
    """Driver-fold cleaned-corpus reconstruction over ONE tokenization:
    duplicated windows from the shared core mark their tokens in a
    coverage count over the flat stream (+1 at each window start, -1
    one past its end, running sum), and the kept tokens join per doc in
    one pyarrow ``binary_join``."""
    import hashlib

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    if not len(pdf):
        return pd.DataFrame(
            {"doc_id": [], "kept_tokens": [], "removed_tokens": [], "cleaned_fp": []}
        )
    flat, doc = driver_tokens(pdf["text"])
    lens, dup_doc, dup_pos = _substring_dup_window_positions(flat, doc, len(pdf))
    n = len(flat)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))[dup_doc] + dup_pos
    depth = np.cumsum(
        np.bincount(starts, minlength=n + 1)
        - np.bincount(starts + SUBSTR_WIN, minlength=n + 1)
    )[:n]
    keep = depth == 0
    kept_n = np.bincount(doc[keep], minlength=len(pdf))
    kept_text = pc.binary_join(
        pa.LargeListArray.from_arrays(
            pa.array(np.concatenate(([0], np.cumsum(kept_n))), type=pa.int64()),
            pc.filter(flat, pa.array(keep)),
        ),
        " ",
    )
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(np.int64),
            "kept_tokens": kept_n.astype(np.int64),
            "removed_tokens": (lens - kept_n).astype(np.int64),
            "cleaned_fp": [
                hashlib.md5(t.encode("utf-8")).hexdigest()
                for t in kept_text.to_pylist()
            ],
        }
    )


def substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-substring removal pipeline END-TO-END: cut every
    duplicated span (``substring_dup_spans``) out of each document and
    emit the cleaned corpus summary — kept/removed token counts and the
    md5 of the reconstructed cleaned text (single-space joined), so the
    oracle hash-verifies the actual reconstruction, not just the span
    arithmetic.

    Scale shape: the span table is OUTPUT-bounded (duplicated islands),
    so it re-attaches to the corpus as a broadcast join (plan-locked);
    per-doc span masking runs as one higher-order filter over the token
    array — no token-level explode or shuffle on the cleaning side.
    Size-adaptive via the family's driver-fold gate."""
    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        return local_rows_df(
            spark,
            _substring_clean_fold(pdf),
            schema="doc_id long, kept_tokens long, removed_tokens long, cleaned_fp string",
        )
    docs = ensure_parallel(docs, "doc_id")
    spans = substring_dup_spans(spark, sf_dir)
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp")
    )
    toks = docs.select("doc_id", tokens("text").alias("w"))
    joined = toks.join(F.broadcast(sp), "doc_id", "left").withColumn(
        "sp",
        F.coalesce(
            "sp",
            F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
        ),
    )
    kept = F.filter(
        "w",
        lambda t, i: ~F.exists(
            F.col("sp"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.size(kept).cast("long").alias("kept_tokens"),
        (F.size("w") - F.size(kept)).cast("long").alias("removed_tokens"),
        F.md5(F.concat_ws(" ", kept)).alias("cleaned_fp"),
    )


_SUBSTR_CLEAN_SQL = f"""
WITH toks AS (SELECT doc_id, {SQL_WORDS} AS w FROM documents),
wins AS (
  SELECT doc_id, i, array_to_string(w[i:i+{SUBSTR_WIN - 1}], ' ') AS wt
  FROM toks, unnest(generate_series(1, greatest(len(w) - {SUBSTR_WIN - 1}, 0))) AS t(i)),
dup AS (
  SELECT wt FROM (SELECT wt, MIN(doc_id) AS a, MAX(doc_id) AS b FROM wins GROUP BY wt)
  WHERE a <> b),
d AS (SELECT doc_id, i FROM wins WHERE wt IN (SELECT wt FROM dup)),
marked AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > {SUBSTR_WIN}
              OR lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
              THEN 1 ELSE 0 END AS nf
  FROM d),
isl AS (
  SELECT doc_id, i,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING)
           AS island
  FROM marked),
spans AS (
  SELECT doc_id, MIN(i) AS s, MAX(i) + {SUBSTR_WIN - 1} AS e
  FROM isl GROUP BY doc_id, island),
pos AS (
  SELECT doc_id, i AS p, w[i] AS token
  FROM toks, unnest(generate_series(1, len(w))) AS t(i)),
kept AS (
  SELECT pos.doc_id, pos.p, pos.token
  FROM pos
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = pos.doc_id AND pos.p BETWEEN s.s AND s.e))
SELECT t.doc_id,
       CAST(COALESCE(k.n, 0) AS BIGINT) AS kept_tokens,
       CAST(len(t.w) - COALESCE(k.n, 0) AS BIGINT) AS removed_tokens,
       md5(COALESCE(k.txt, '')) AS cleaned_fp
FROM toks t LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n, string_agg(token, ' ' ORDER BY p) AS txt
  FROM kept GROUP BY doc_id) k
ON t.doc_id = k.doc_id
"""


# -- persistent cross-run dedup (incremental crawl) ---------------------------
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run exact dedup through the persisted ``DedupIndex``
    (streaming/dedup_index.py): run 1 (even doc_ids) registers its
    content hashes into a hash-bucket-partitioned store; run 2 (odd
    doc_ids) probes it — each run-2 doc reports whether its exact text
    was already ingested and which keeper it duplicates. This is the
    incremental-crawl shape: per-batch cost is O(batch + touched
    buckets), never O(corpus), and the store survives across pipeline
    runs (manifest-pruned generations, the cagg commit protocol).

    The store builds fresh in a temp dir on every call — registration
    IS the operator under test (same policy as streaming_cagg_parity),
    so the timing includes the register leg, not just the probe.

    Run 2 is a synthetic RE-CRAWL: the odd-id docs (fresh content at
    this scale factor) plus exact copies of every 5th even doc under
    re-crawl ids (+1,000,000) — the test corpus has no full-text
    duplicates at sf0.01, and an all-unseen probe would leave the
    seen branch externally unexercised."""
    import os as _os
    import tempfile

    from tomixpanel_spark.streaming.dedup_index import DedupIndex

    docs = ensure_parallel(table(spark, sf_dir, "documents"), "doc_id")
    docs = docs.select("doc_id", "text")
    run1 = docs.filter(F.col("doc_id") % 2 == 0)
    recrawl = run1.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    run2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(recrawl)
    work = tempfile.mkdtemp(prefix="tomix_dedup_idx_")
    # buckets size the unit of rewrite IO: index-size / target-partition-
    # size in production (hash prefixes are uniform, so any count is
    # skew-free); 16 fits this corpus — more buckets just multiply
    # tiny-file overhead at benchmark scale
    idx = DedupIndex(_os.path.join(work, "store"), n_buckets=16)
    idx.register(run1, 0)
    out = idx.probe(run2)
    return out.select(
        "doc_id",
        F.col("seen_before").cast("int").alias("seen_before"),
        F.coalesce("first_doc_id", F.lit(-1)).cast("long").alias("dup_of"),
    )


_INCREMENTAL_DEDUP_SQL = """
WITH h AS (
  SELECT doc_id, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hh
  FROM documents),
run1 AS (SELECT hh, MIN(doc_id) AS keeper FROM h WHERE doc_id % 2 = 0 GROUP BY hh),
run2 AS (
  SELECT doc_id, hh FROM h WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000, hh FROM h WHERE doc_id % 2 = 0 AND doc_id % 5 = 0)
SELECT r2.doc_id,
       CAST(CASE WHEN r1.hh IS NOT NULL THEN 1 ELSE 0 END AS INT) AS seen_before,
       CAST(COALESCE(r1.keeper, -1) AS BIGINT) AS dup_of
FROM run2 r2 LEFT JOIN run1 r1 ON r2.hh = r1.hh
"""


# Helper modules whose changes should count as a change to this
# module's registered queries for the external-window rotation
# (rule: code changed since last external green outranks staleness).
ROTATION_DEPS = [
    "tomixpanel_spark.functions.text",
    "tomixpanel_spark.operators.identity",
    "tomixpanel_spark.streaming.dedup_index",
]

REGISTRY = {
    "dedup_exact": QuerySpec(dedup_exact, _DEDUP_EXACT_SQL, "ext:dedup"),
    "incremental_dedup": QuerySpec(
        incremental_dedup,
        _INCREMENTAL_DEDUP_SQL,
        "ext:dedup persistent cross-run index (incremental crawl)",
    ),
    "substring_dedup_clean": QuerySpec(
        substring_dedup_clean, _SUBSTR_CLEAN_SQL, "ext:dedup"
    ),
    "substring_dup_spans": QuerySpec(
        substring_dup_spans, _SUBSTR_SPANS_SQL, "ext:dedup"
    ),
    "substring_dup_stats": QuerySpec(
        substring_dup_stats, _SUBSTR_DUP_SQL, "ext:dedup exact substring windows"
    ),
    "ngram_jaccard_pairs": QuerySpec(ngram_jaccard_pairs, _NGRAM_JACCARD_SQL, "ext:dedup"),
    "minhash_signature": QuerySpec(minhash_signature, _MINHASH_SIGNATURE_SQL, "ext:dedup"),
    "minhash_lsh_pairs": QuerySpec(minhash_lsh_pairs, _MINHASH_LSH_SQL, "ext:dedup"),
    "simhash": QuerySpec(simhash, _SIMHASH_SQL, "ext:dedup"),
    "simhash_pairs": QuerySpec(simhash_pairs, _SIMHASH_PAIRS_SQL, "ext:dedup"),
    "dedup_keep_list": QuerySpec(dedup_keep_list, _DEDUP_KEEP_LIST_SQL, "ext:dedup e2e"),
    "lsh_keep_list": QuerySpec(
        lsh_keep_list, _LSH_KEEP_LIST_SQL, "ext:dedup e2e via LSH candidates"
    ),
    "decontam_overlap": QuerySpec(decontam_overlap, _DECONTAM_SQL, "ext:dedup decontamination"),
    "neardup_components": QuerySpec(
        neardup_components, _NEARDUP_COMPONENTS_SQL, "ext:dedup transitive clustering"
    ),
    "neardup_keep_best": QuerySpec(
        neardup_keep_best, _NEARDUP_KEEP_BEST_SQL, "ext:dedup keep-best policy"
    ),
    "containment_pairs": QuerySpec(
        containment_pairs, _CONTAINMENT_SQL, "ext:dedup asymmetric containment"
    ),
}
