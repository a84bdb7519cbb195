"""Text-analysis operators over the ``documents`` table (training-data
pipeline extensions: language-ID, quality scoring, token counting, document
fingerprinting) plus the explode operator (SURVEY.md §2.4 M1).

All pure Catalyst expressions; the only wide operator is word_freq's
hash aggregate (map-side partials make the shuffle proportional to the
vocabulary, not the corpus — at 100 TB the shuffle carries ~|vocab| rows
per partition)."""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:  # typing only — pandas imports lazily inside UDF bodies
    import pandas as pd

from tomixpanel_spark.functions.text import (
    PII_PASSES,
    SQL_WORDS,
    STOPWORDS,
    driver_tokens,
    fingerprint,
    lang_guess,
    pii_counts,
    pii_scrub,
    quality_features,
    tokens,
)
from tomixpanel_spark.operators.base import (
    Gate,
    QuerySpec,
    ensure_parallel,
    local_rows_df,
    stage_checkpoint,
    table,
)

_SQL_STOPSET = "['" + "', '".join(STOPWORDS) + "']"


def explode_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: explode a nested array into per-element rows (reference
    transform/gaToMixpanel.js:157-265 explodes session.hits[]; the testdata
    stand-in is the document token array — same generate-per-element shape)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.explode(tokens("text")).alias("token"))


_EXPLODE_HITS_SQL = f"""
SELECT doc_id, unnest({SQL_WORDS}) AS token FROM documents
"""


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish piece count (word /
    number / punctuation boundaries) for budget accounting."""
    docs = table(spark, sf_dir, "documents")
    bpe_pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    return docs.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(bpe_pat)).cast("bigint").alias("n_bpe_tokens"),
    )


_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
  CAST(len({SQL_WORDS}) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequency: explode + hash aggregate."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_WORD_FREQ_SQL = f"""
SELECT token, COUNT(*) AS cnt
FROM (SELECT unnest({SQL_WORDS}) AS token FROM documents)
GROUP BY token
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword hits in the first 40 tokens
    (deterministic n-gram/stopword scoring; the oracle mirrors the pinned
    stopword list)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_guess("text").alias("lang_guess"))


_LANG_ID_SQL = f"""
SELECT doc_id,
  CASE WHEN len(list_filter(({SQL_WORDS})[1:40],
                            t -> list_contains({_SQL_STOPSET}, lower(t)))) >= 2
       THEN 'en' ELSE 'unknown' END AS lang_guess
FROM documents
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio features."""
    docs = table(spark, sf_dir, "documents")
    feats = quality_features("text")
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


_QUALITY_SCORE_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
    {SQL_WORDS} AS words,
    CAST(length(text) AS BIGINT) AS n_chars
  FROM documents)
SELECT doc_id,
  CAST(len(words) AS BIGINT) AS n_tokens,
  n_chars,
  CAST(n_chars - len(words) + 1 AS DOUBLE) / CAST(len(words) AS DOUBLE) AS avg_token_len,
  CAST(len(list_filter(words, t -> list_contains({_SQL_STOPSET}, lower(t)))) AS DOUBLE)
    / CAST(len(words) AS DOUBLE) AS stopword_ratio,
  CAST(n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
    / CAST(n_chars AS DOUBLE) AS punct_ratio
FROM t
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over case/whitespace-canonicalized text
    (the anchor for exact dedup)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


_DOC_FINGERPRINT_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


SAMPLE_RATES_E4 = {"en": 8000, "unknown": 2000}  # per-bucket keep rates /1e4


def _portable_hash_e4(id_col: str) -> "F.Column":
    """Deterministic engine-portable sampling hash in [0, 10000): first 4
    md5 hex digits of the stringified id, mod 1e4. Identical in DuckDB
    (md5 string parity), unlike xxhash64/DuckDB hash() which differ."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
    return F.pmod(h.cast("long"), F.lit(10000))


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture sampling: deterministic per-stratum rates
    (language buckets here) via a portable content-independent hash — the
    standard reproducible-downsampling shape for corpus mixing. Pure
    narrow projection+filter: no shuffle, no RNG state, re-runnable with
    identical output on any cluster/partitioning."""
    docs = table(spark, sf_dir, "documents")
    rate = F.create_map(
        *[x for k, v in SAMPLE_RATES_E4.items() for x in (F.lit(k), F.lit(v))]
    )
    d = docs.select(
        "doc_id",
        lang_guess("text").alias("bucket"),
        _portable_hash_e4("doc_id").alias("h"),
    )
    return d.filter(F.col("h") < rate[F.col("bucket")]).select("doc_id", "bucket")


_STRATIFIED_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN len(list_filter(({SQL_WORDS})[1:40],
                              t -> list_contains({_SQL_STOPSET}, lower(t)))) >= 2
         THEN 'en' ELSE 'unknown' END AS bucket,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000 AS h
  FROM documents)
SELECT doc_id, bucket FROM d
WHERE h < CASE bucket WHEN 'en' THEN {SAMPLE_RATES_E4['en']} ELSE {SAMPLE_RATES_E4['unknown']} END
"""


def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: deterministically downsample every language
    bucket to (in expectation) the SMALLEST bucket's size — the standard
    data-mixing move when one source dominates a training corpus and the
    target is a uniform mix. Unlike ``stratified_sample`` the rates are
    not configured, they are DERIVED from the data: keep_prob(bucket) =
    min_count / count(bucket), realized without floats as
    ``h * count(bucket) < min_count * 10000`` over the same portable md5
    hash (h uniform in [0, 10000)) — exact integer arithmetic, so both
    engines keep the identical document set.

    Scale shape: per-bucket counts are one map-side-partial hash agg with
    |buckets| output rows; the min folds in as a 1-row cross INSIDE the
    broadcast build (one broadcast job, same trick as tfidf); the keep
    decision is then a narrow map-side filter over the corpus — no
    corpus shuffle anywhere, skew-free by construction. The broadcast is
    static, not count-gated: ``lang_guess`` yields two buckets ('en',
    'unknown'), so the build side is two rows at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        lang_guess("text").alias("bucket"),
        _portable_hash_e4("doc_id").alias("h"),
    )
    counts = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    build = F.broadcast(counts.crossJoin(mn))
    return (
        d.join(build, "bucket")
        .filter(F.col("h") * F.col("cnt") < F.col("mn") * 10000)
        .select("doc_id", "bucket")
    )


_MIXTURE_REBALANCE_SQL = f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN len(list_filter(({SQL_WORDS})[1:40],
                              t -> list_contains({_SQL_STOPSET}, lower(t)))) >= 2
         THEN 'en' ELSE 'unknown' END AS bucket,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000 AS h
  FROM documents),
c AS (SELECT bucket, COUNT(*) AS cnt FROM d GROUP BY 1),
m AS (SELECT MIN(cnt) AS mn FROM c)
SELECT doc_id, bucket FROM d JOIN c USING (bucket) CROSS JOIN m
WHERE h * cnt < mn * 10000
"""


CHUNK_TOKENS = 40
CHUNK_STRIDE = 20


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (embedding / RAG prep): split
    each document into CHUNK_TOKENS-token windows every CHUNK_STRIDE
    tokens, keeping provenance (doc_id, chunk_idx) and the chunk's own
    token count.

    Scale shape: tokenize once, explode a computed offset range, slice
    the token array per offset — all narrow codegen (no shuffle, no UDF);
    output rows ~ tokens/stride per doc. Zero-token docs yield no chunks
    (explicit filter, same as the oracle's WHERE)."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens("text").alias("words")).withColumn(
        "n", F.size("words")
    )
    ci = F.explode(
        F.sequence(F.lit(0), F.expr(f"(n - 1) div {CHUNK_STRIDE}"))
    ).alias("ci")
    chunk = F.slice(F.col("words"), F.col("ci") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
    return (
        base.filter(F.col("n") > 0)
        .select("doc_id", "words", ci)
        .select(
            "doc_id",
            F.col("ci").cast("bigint").alias("chunk_idx"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("bigint").alias("chunk_tokens"),
        )
    )


_CHUNK_DOCS_SQL = f"""
WITH w AS (
  SELECT doc_id, {SQL_WORDS} AS words, len({SQL_WORDS}) AS n FROM documents),
c AS (
  SELECT doc_id, words,
         unnest(generate_series(0, CAST((n - 1) // {CHUNK_STRIDE} AS BIGINT))) AS ci
  FROM w WHERE n > 0)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
  array_to_string(list_slice(words, ci * {CHUNK_STRIDE} + 1,
                             ci * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk_text,
  CAST(len(list_slice(words, ci * {CHUNK_STRIDE} + 1,
                      ci * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT) AS chunk_tokens
FROM c
"""


SEG_TOKENS = 16  # non-overlapping segment width for corpus-wide dedup


def segment_dedup_for(docs: DataFrame, seg_tokens: int = SEG_TOKENS) -> DataFrame:
    """Corpus-wide EXACT segment dedup (the CCNet/C4 duplicated-paragraph
    removal, at token-segment granularity since the corpus has no line
    structure): split each document into non-overlapping ``seg_tokens``
    windows, and keep only each segment's FIRST occurrence in the corpus
    — ordered by (doc_id, seg_idx), so repeats later in the SAME document
    are dropped too. Returns per-document totals: segments/tokens before
    and after, the numbers a pipeline uses to drop gutted documents.

    Scale shape: tokenize+segment is narrow codegen over one lazy
    stage_checkpoint (three consumers, one materialization;
    TOMIX_CHECKPOINT_DIR makes it durable on clusters). First
    occurrence is ``min(struct(doc_id, seg_idx))`` per segment hash — a
    map-side-partial hash aggregate, NOT a window over the hash: a
    boilerplate segment repeated in millions of documents costs its
    partials one row per map task, where a window would sort every
    occurrence in a single task. The join-back on the hash is a plain
    equi-join (one build row per hash, so a hot segment only inflates
    probe-side rows — AQE skew split territory, never a sort)."""
    base = docs.select("doc_id", tokens("text").alias("words")).withColumn(
        "n", F.size("words")
    )
    si = F.explode(
        F.sequence(F.lit(0), F.expr(f"(n - 1) div {seg_tokens}"))
    ).alias("si")
    seg = F.slice(F.col("words"), F.col("si") * seg_tokens + 1, seg_tokens)
    segs = (
        base.filter(F.col("n") > 0)
        .select("doc_id", "words", si)
        .select(
            "doc_id",
            F.col("si").cast("bigint").alias("seg_idx"),
            F.md5(F.array_join(seg, " ")).alias("h"),
            F.size(seg).cast("bigint").alias("seg_tokens"),
        )
    )
    segs = stage_checkpoint(segs, eager=False)
    first = segs.groupBy("h").agg(
        F.min(
            F.struct(F.col("doc_id").alias("d"), F.col("seg_idx").alias("s"))
        ).alias("f")
    )
    keep = (F.col("doc_id") == F.col("f.d")) & (F.col("seg_idx") == F.col("f.s"))
    # keep-flag the joined rows and fold everything in ONE per-doc
    # aggregate (conditional sums) — a separate kept-rows aggregate plus
    # a join-back would cost two more exchanges for the same numbers
    return (
        segs.join(first, "h")
        .select("doc_id", "seg_tokens", keep.alias("keep"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("kept_segs"),
            F.sum("seg_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("keep"), F.col("seg_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .select("doc_id", "n_segs", "kept_segs", "n_tokens", "kept_tokens")
    )


def segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry: segment dedup over the documents table."""
    return segment_dedup_for(
        ensure_parallel(table(spark, sf_dir, "documents"), "doc_id")
    )


_SEGMENT_DEDUP_SQL = f"""
WITH w AS (
  SELECT doc_id, {SQL_WORDS} AS words, len({SQL_WORDS}) AS n FROM documents),
s AS (
  SELECT doc_id, words,
         unnest(generate_series(0, CAST((n - 1) // {SEG_TOKENS} AS BIGINT))) AS si
  FROM w WHERE n > 0),
segs AS (
  SELECT doc_id, CAST(si AS BIGINT) AS seg_idx,
    md5(array_to_string(list_slice(words, si * {SEG_TOKENS} + 1,
                                   si * {SEG_TOKENS} + {SEG_TOKENS}), ' ')) AS h,
    CAST(len(list_slice(words, si * {SEG_TOKENS} + 1,
                        si * {SEG_TOKENS} + {SEG_TOKENS})) AS BIGINT) AS seg_tokens
  FROM s),
firsts AS (
  SELECT h, min(struct_pack(d := doc_id, s := seg_idx)) AS f FROM segs GROUP BY h),
flagged AS (
  SELECT segs.doc_id, segs.seg_tokens,
         (segs.doc_id = (f).d AND segs.seg_idx = (f).s) AS keep
  FROM segs JOIN firsts USING (h))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
       CAST(SUM(seg_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN keep THEN seg_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
FROM flagged GROUP BY doc_id
"""


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep probability
    proportional to a per-document weight (token count here, capped at
    90%) through the same portable md5 hash as ``stratified_sample`` —
    keep iff h < min(n_tokens * 100, 9000). The shape a curriculum /
    quality-mixing pipeline uses to up-weight good documents without RNG
    state: pure narrow projection+filter, zero shuffles, identical
    output on any cluster or partitioning, and any weight column slots
    in for the token proxy."""
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        _portable_hash_e4("doc_id").alias("h"),
    )
    p = F.least(F.col("n_tokens") * 100, F.lit(9000))
    return d.filter(F.col("h") < p).select("doc_id", "n_tokens")


_WEIGHTED_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id,
    CAST(len({SQL_WORDS}) AS BIGINT) AS n_tokens,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000 AS h
  FROM documents)
SELECT doc_id, n_tokens FROM d
WHERE h < least(n_tokens * 100, 9000)
"""


DSIR_BUCKETS = 1024  # hashed n-gram feature space (Xie et al. 2023 use 10k)
# bigram bucket = (h(prev) * P + h(cur)) mod B. Since B=1024 is a power
# of two, the mod sees only the low 10 bits of (h_prev*P + h_cur) — the
# bucket UNIFORMITY therefore comes from the md5 low bits of each word
# hash being uniform, not from P's primality (P mod 1024 = 579; any odd
# P gives the same distribution quality). P's actual jobs: keep
# (prev, cur) and (cur, prev) in different buckets and keep
# h(w)*P + h far under int64.
DSIR_HASH_PRIME = 1_000_003


def _dsir_word_hashes(words_col) -> "F.Column":
    """h(w) per word occurrence: first 8 md5 hex digits as a 32-bit int —
    the declared hash the DuckDB oracle computes per DISTINCT word
    (CAST('0x' || substr(md5(word), 1, 8) AS BIGINT)). Exposed as the
    single production definition so the spec test pins THIS code, not a
    copy of it."""
    return F.transform(
        words_col,
        lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long"),
    )


def _dsir_bucket_col(hs_col) -> "F.Column":
    """Adjacent-pair bucket composition over a word-hash array:
    (h_prev * P + h_cur) mod B, empty for docs shorter than 2 tokens.
    The single production definition shared by dsir_weights and its
    spec test."""
    p = F.lit(DSIR_HASH_PRIME).cast("long")
    b = F.lit(DSIR_BUCKETS).cast("long")
    n = F.size(hs_col)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(hs_col, F.lit(1), n - 1),
            F.slice(hs_col, F.lit(2), n - 1),
            lambda a, c: F.pmod(a * p + c, b),
        ),
    ).otherwise(F.array().cast("array<long>"))


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-bigram feature distribution
    is — the data-SELECTION verb that upweights in-domain text before
    pretraining. Target here: the corpus's English subset (lang = 'en');
    raw: the whole corpus.

    Engine-portable, integer-exact surrogate (the tfidf N/df precedent —
    libm logs diverge across engines by ULPs): per feature bucket,
    frequency ratio r_e6 = (f_target_e9 * 1e6) div f_raw_e9 with
    f_*_e9 = (bucket_count * 1e9) div total, and a document's weight is
    the SUM of its bigrams' ratios (DSIR proper sums LOG ratios — the
    sum-of-ratios surrogate keeps per-feature monotonicity and
    integer-exact cross-engine parity; exactness bound: per-bucket
    counts <= ~9e9 before the e9 scaling overflows int64, far past any
    single-corpus bucket at B=1024).

    Bucketing (round-12 verdict #4 — the old md5-PER-BIGRAM was this
    query's whole cost, 1.7-3x the oracle at the probe): each WORD
    occurrence is hashed — h(w) = first 8 md5 hex digits as a 32-bit
    int — and a bigram's bucket is (h_prev * P + h_cur) mod B with P
    prime. Halving the md5 input length (words, not 'w1 w2' concats)
    and dropping the concat allocation measured 0.97s vs 1.47s for the
    bucketing pass at the 50k-doc probe. The verdict's broadcast
    word->h MAP variant was built and measured SLOWER (1.48s + two
    extra jobs): Spark's MapType element_at is a LINEAR scan, so a
    vocab-sized map literal degrades with vocabulary growth, and the
    O(1)-lookup alternative (broadcast hash JOIN on word) needs a
    doc-level window to reassemble adjacency — the one exchange this
    plan promises not to pay. Same formula in the DuckDB oracle
    (which hashes each DISTINCT word once and joins — the natural
    columnar formulation there) -> bit-identical buckets.

    Scale shape: ONE narrow tokenize+hash+compose pass materialized as
    compact long arrays (lazy stage_checkpoint — the stats job
    materializes it, the scoring job re-reads it); the feature stats
    are ONE map-side-partial aggregate whose shuffle carries bucket
    ids, collected as a fixed-size <= B-row table (the bounded-collect
    class of the CMS sketch merges — NOT corpus-sized); ratios are
    computed exactly in arbitrary-precision Python ints (same integer
    formula as the oracle) and ride back as ONE broadcast B-long ARRAY
    so each scoring lookup is O(1) element_at by index — a map literal
    is a LINEAR scan per lookup in Spark (GetMapValue). Swapping the
    stats->totals->crossJoin map chain for the collected stats + array
    lookup took the full probe query 2.53 s -> 1.47 s. The scoring
    pass is a pure
    narrow fold over each document's own bigram buckets — nothing
    doc-level crosses the wire, no join on doc_id, no doc-level
    shuffle. Two jobs total.

    A fused-Arrow variant (tokenize_tf-style mapInPandas with
    batch-distinct-word hashing) and the verdict's broadcast word->h
    MAP were both built and measured: warm they tie the JVM pass
    (~1.0s vs ~0.9s at 50k docs) but pay Python-worker spawn cold and
    an extra vocab job respectively, so the pure-Catalyst form wins
    (ARCHITECTURE §R13)."""
    docs = ensure_parallel(table(spark, sf_dir, "documents"), "doc_id")
    hs_named = docs.select(
        "doc_id", "lang", _dsir_word_hashes(tokens("text")).alias("hs")
    )
    base = stage_checkpoint(
        hs_named.select(
            "doc_id", "lang", _dsir_bucket_col(F.col("hs")).alias("bks")
        )
    )
    # ONE corpus pass builds both feature tables (conditional sum for
    # the target side); the result is a fixed-size <= B-row table, so
    # the totals and the exact integer ratio arithmetic run on the
    # driver instead of as two more cluster jobs (the old
    # stats -> agg-totals -> crossJoin chain re-evaluated the stats
    # aggregate once per consumer)
    stats = (
        base.select("lang", F.explode("bks").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("qc"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("pc"),
        )
        .collect()
    )
    nq = sum(r["qc"] for r in stats)
    np_ = sum(r["pc"] for r in stats)
    r_arr = [0] * DSIR_BUCKETS
    # np_ == 0 (no target-language bigrams anywhere) leaves every ratio
    # 0 — the oracle's `pc * 1e9 // 0` is NULL in DuckDB and its score
    # coalesces to 0, and the old all-Spark plan's `div` returned the
    # same null-safe zeros (a bare // here raised ZeroDivisionError)
    if np_:
        for r in stats:
            denom = r["qc"] * 1_000_000_000 // nq
            if denom:
                r_arr[r["bucket"]] = (
                    (r["pc"] * 1_000_000_000 // np_) * 1_000_000 // denom
                )
    # one Arrow row (base.local_rows_df): a LocalTableScan build side
    rdf = F.broadcast(local_rows_df(spark, [(r_arr,)], "ra array<bigint>"))
    scored = base.crossJoin(rdf).select(
        "doc_id",
        F.size("bks").cast("bigint").alias("n_bigrams"),
        F.aggregate(
            F.col("bks"),
            F.lit(0).cast("bigint"),
            lambda acc, k: acc + F.element_at(F.col("ra"), (k + 1).cast("int")),
        ).alias("dsir_weight_e6"),
    )
    return scored


_DSIR_SQL = f"""
WITH w AS (
  SELECT doc_id, lang, {SQL_WORDS} AS words FROM documents),
wh AS MATERIALIZED (
  SELECT word, CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS h
  FROM (SELECT DISTINCT unnest(words) AS word FROM w)),
bk AS MATERIALIZED (
  SELECT w.doc_id, w.lang,
         (h1.h * {DSIR_HASH_PRIME} + h2.h) % {DSIR_BUCKETS} AS bucket
  FROM w, UNNEST(range(1, len(words))) AS t(j)
  JOIN wh h1 ON h1.word = w.words[j]
  JOIN wh h2 ON h2.word = w.words[j + 1]),
q AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS qc FROM bk GROUP BY 1),
p AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS pc FROM bk
      WHERE lang = 'en' GROUP BY 1),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bk),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bk WHERE lang = 'en'),
ratio AS (
  SELECT q.bucket,
         (COALESCE(p.pc, 0) * 1000000000 // np.n) * 1000000
           // NULLIF(q.qc * 1000000000 // nq.n, 0) AS r_e6
  FROM q LEFT JOIN p USING (bucket), np, nq),
score AS (
  SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(COALESCE(r.r_e6, 0)) AS BIGINT) AS w
  FROM bk JOIN ratio r USING (bucket) GROUP BY 1)
SELECT d.doc_id,
  CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST(COALESCE(s.w, 0) AS BIGINT) AS dsir_weight_e6
FROM documents d LEFT JOIN score s ON d.doc_id = s.doc_id
"""


def mixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reporting: per (language bucket, length tier) document
    and token totals — the numbers a training-data pipeline balances
    mixtures against. One hash aggregate over a handful of groups
    (map-side partials: shuffle carries |buckets| rows/partition)."""
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("bigint")
    d = docs.select(
        lang_guess("text").alias("bucket"),
        F.when(n_tok >= 60, F.lit("long")).otherwise(F.lit("short")).alias("tier"),
        n_tok.alias("n_tok"),
    )
    return d.groupBy("bucket", "tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


_MIXTURE_STATS_SQL = f"""
WITH d AS (
  SELECT
    CASE WHEN len(list_filter(({SQL_WORDS})[1:40],
                              t -> list_contains({_SQL_STOPSET}, lower(t)))) >= 2
         THEN 'en' ELSE 'unknown' END AS bucket,
    CASE WHEN len({SQL_WORDS}) >= 60 THEN 'long' ELSE 'short' END AS tier,
    CAST(len({SQL_WORDS}) AS BIGINT) AS n_tok
  FROM documents)
SELECT bucket, tier, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM d GROUP BY bucket, tier
"""


# Gopher-style quality gates (Rae et al. 2021 §A1.1 adapted to the
# single-line fixture corpus: line-level rules become word-level
# repetition rules, which is what discriminates here). Pinned so the
# oracle mirrors them verbatim.
GOPHER_MIN_WORDS = 20
GOPHER_MWL_LO, GOPHER_MWL_HI = 3.0, 10.0
GOPHER_MAX_DUP_WORD = 0.6
GOPHER_MAX_TOP_BIGRAM = 0.15


# -- SQL-string builders for the gopher folds ------------------------------
# These produce the SAME Catalyst expressions the Column-API builders did
# (parser output is identical function-for-function), but in ONE F.expr
# py4j call instead of hundreds: each Python-side Column op is a ~1 ms
# py4j round-trip, and the nested named_struct folds cost 0.3-0.8 s of
# pure plan-CONSTRUCTION time per query build (measured; the bench pays
# it three times per query). Guide §1.2 step 2: per-run fixed work.


def _sql_ngrams(n: int, words: str = "words") -> str:
    """Adjacent word n-grams ('w1 w2 ...'), multiplicity kept, empty
    below n words — SQL form of the transform/sequence builder."""
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at({words}, i + {j})" for j in range(n)
    ) + ")"
    return (
        f"CASE WHEN size({words}) >= {n} THEN "
        f"transform(sequence(1, size({words}) - {n - 1}), i -> {gram}) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def _sql_top_ngram(n: int, words: str = "words") -> str:
    """(c, g) struct of the top word n-gram: longest equal-run in the
    SORTED n-gram array; strict > keeps the FIRST max in sort order =
    the lexicographically smallest max-count gram (the declared tie
    rule)."""
    run2 = "CASE WHEN x = acc.prev THEN acc.run + 1L ELSE 1L END"
    return (
        f"aggregate(array_sort({_sql_ngrams(n, words)}), "
        "named_struct('prev', '', 'run', 0L, 'best', 0L, 'bestg', ''), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run2}, "
        f"'best', greatest(acc.best, {run2}), "
        f"'bestg', CASE WHEN {run2} > acc.best THEN x ELSE acc.bestg END), "
        "acc -> named_struct('c', acc.best, 'g', acc.bestg))"
    )


_SQL_TOT_CHARS = "aggregate(words, 0L, (a, w) -> a + CAST(length(w) AS BIGINT))"

# max bigram occurrence count (int-typed fold, NULL when no bigrams) —
# the gopher_quality top-bigram feature
_SQL_MAX_BIGRAM = (
    "nullif(aggregate(array_sort("
    "CASE WHEN size(words) >= 2 THEN "
    "zip_with(slice(words, 1, size(words) - 1), slice(words, 2, size(words) - 1), "
    "(a, b) -> concat_ws(' ', a, b)) "
    "ELSE CAST(array() AS array<string>) END), "
    "named_struct('prev', '', 'run', 0, 'best', 0), "
    "(acc, x) -> named_struct('prev', x, "
    "'run', CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END, "
    "'best', greatest(acc.best, CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END)), "
    "acc -> acc.best), 0)"
)


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality filter: cheap narrow features
    (word count, mean word length, duplicate-word fraction) plus the
    repetition feature that needs an aggregate — the fraction of tokens
    covered by the document's most-repeated bigram — combined into a
    keep/drop gate.

    Scale shape: EVERY feature — including the top-bigram repetition
    feature — is a pure narrow codegen projection, zero exchanges: the
    most-repeated-bigram count is the longest equal-run in the SORTED
    per-doc bigram array, a linear ``aggregate`` fold over ``array_sort``
    instead of explode -> two hash aggs -> join-back (which shuffled one
    row per distinct (doc, bigram) and re-joined on doc_id). Per-doc work
    is O(k log k) in the doc's own token count — embarrassingly parallel
    at any corpus size, with nothing crossing the wire but the feature
    row."""
    docs = ensure_parallel(table(spark, sf_dir, "documents"), "doc_id")
    # Materialize the token array ONCE; every feature reads the array
    # column instead of re-running the regex split.
    base = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        tokens("text").alias("words"),
    )
    n = F.size("words").cast("bigint")
    # longest equal-run in the sorted bigram array == max bigram count;
    # nullif(0) reproduces the no-bigram case (single-word/empty docs).
    # One F.expr parse instead of ~60 py4j Column calls (see the SQL
    # builders above) — the expression tree is unchanged.
    max_bg = F.expr(_SQL_MAX_BIGRAM)
    feat = base.select(
        "doc_id",
        n.alias("n_words"),
        ((F.col("n_chars") - n + 1).cast("double") / n.cast("double")).alias(
            "mean_word_len"
        ),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("words")).cast("double") / n.cast("double")
        ).alias("dup_word_frac"),
        F.coalesce(
            (max_bg * 2).cast("double") / n.cast("double"),
            F.lit(0.0),
        ).alias("top_bigram_frac"),
    )
    keep = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MWL_LO)
        & (F.col("mean_word_len") <= GOPHER_MWL_HI)
        & (F.col("dup_word_frac") <= GOPHER_MAX_DUP_WORD)
        & (F.col("top_bigram_frac") <= GOPHER_MAX_TOP_BIGRAM)
    )
    return feat.withColumn("keep", keep)


_GOPHER_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_WORDS} AS words,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents),
narrow AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    CAST(n_chars - len(words) + 1 AS DOUBLE) / CAST(len(words) AS DOUBLE) AS mean_word_len,
    1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE) AS dup_word_frac,
    list_transform(generate_series(1, len(words) - 1),
                   i -> words[i] || ' ' || words[i + 1]) AS bgs
  FROM t),
bg AS (SELECT doc_id, unnest(bgs) AS bigram FROM narrow),
top AS (
  SELECT doc_id, max(c) AS max_bg
  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2)
  GROUP BY 1)
SELECT n.doc_id, n.n_words, n.mean_word_len, n.dup_word_frac,
  COALESCE(CAST(2 * top.max_bg AS DOUBLE) / CAST(n.n_words AS DOUBLE), 0.0)
    AS top_bigram_frac,
  (n.n_words >= {GOPHER_MIN_WORDS}
   AND n.mean_word_len >= {GOPHER_MWL_LO} AND n.mean_word_len <= {GOPHER_MWL_HI}
   AND n.dup_word_frac <= {GOPHER_MAX_DUP_WORD}
   AND COALESCE(CAST(2 * top.max_bg AS DOUBLE) / CAST(n.n_words AS DOUBLE), 0.0)
       <= {GOPHER_MAX_TOP_BIGRAM}) AS keep
FROM narrow n LEFT JOIN top USING (doc_id)
"""


# Gopher repetition-filter thresholds (Rae et al. 2021, Table A1): drop
# a document when the single most frequent word n-gram covers more than
# this fraction of its characters (e6-scaled integers — the engine's
# libm-free exactness discipline).
GOPHER_TOP2_MAX_E6 = 200_000
GOPHER_TOP3_MAX_E6 = 180_000
GOPHER_TOP4_MAX_E6 = 160_000


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's repetition filters (Rae et al. 2021 Table A1): per
    document, the fraction of characters covered by the single most
    frequent word n-gram for n = 2, 3, 4, plus the keep/drop gate at
    the paper's thresholds (0.20 / 0.18 / 0.16). Complements
    ``gopher_quality`` (word-count/length/dup-word features) — together
    they are the full cheap-feature Gopher gate a pretraining pipeline
    runs before expensive scoring. (The paper's duplicate-LINE features
    are omitted: this corpus is single-line, so they are identically
    zero.)

    Declared spec, mirrored exactly by the oracle: characters of an
    n-gram occurrence = sum of its words' lengths (separators excluded;
    occurrences counted with multiplicity, overlapping included);
    denominator = total word characters in the document; ties on the
    max count resolve to the lexicographically smallest n-gram;
    fractions are e6-scaled integer division (exact cross-engine).

    Scale shape: like gopher_quality, EVERY feature is a pure narrow
    codegen projection — the top n-gram is the longest equal-run in the
    per-doc SORTED n-gram array (one O(k log k) fold per n), not an
    explode -> hash-agg -> window -> join-back (which would shuffle one
    row per distinct (doc, gram) three times). Zero exchanges; nothing
    crosses the wire but the 6-column feature row."""
    docs = ensure_parallel(table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select("doc_id", tokens("text").alias("words"))
    # every fold below is ONE F.expr parse (the _sql_* builders above)
    # instead of hundreds of py4j Column calls — the tree is identical,
    # the plan-construction time drops from ~0.9 s to ~0.1 s per build
    sel = base.select(
        "doc_id",
        F.size("words").cast("bigint").alias("n_words"),
        F.expr(_SQL_TOT_CHARS).alias("tot"),
        F.expr(_sql_top_ngram(2)).alias("t2"),
        F.expr(_sql_top_ngram(3)).alias("t3"),
        F.expr(_sql_top_ngram(4)).alias("t4"),
    )
    fr = lambda n: F.expr(  # noqa: E731
        f"coalesce((t{n}.c * (length(t{n}.g) - {n - 1}) * 1000000L)"
        f" div nullif(tot, 0L), 0L)"
    )
    out = sel.select(
        "doc_id",
        "n_words",
        fr(2).alias("top2_char_frac_e6"),
        fr(3).alias("top3_char_frac_e6"),
        fr(4).alias("top4_char_frac_e6"),
    )
    return out.withColumn(
        "keep",
        (F.col("top2_char_frac_e6") <= GOPHER_TOP2_MAX_E6)
        & (F.col("top3_char_frac_e6") <= GOPHER_TOP3_MAX_E6)
        & (F.col("top4_char_frac_e6") <= GOPHER_TOP4_MAX_E6),
    )


def _gopher_repetition_sql() -> str:
    grams = {
        2: "words[i] || ' ' || words[i + 1]",
        3: "words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]",
        4: "words[i] || ' ' || words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3]",
    }
    parts = [
        f"""WITH t AS (
  SELECT doc_id, {SQL_WORDS} AS words FROM documents),
base AS (
  SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n_words,
    CAST(COALESCE(list_aggregate(list_transform(words, w -> len(w)), 'sum'), 0)
         AS BIGINT) AS tot
  FROM t)"""
    ]
    for n, g in grams.items():
        parts.append(f""", g{n} AS (
  SELECT doc_id, {g} AS gram
  FROM base, UNNEST(range(1, len(words) - {n} + 2)) AS u(i)),
top{n} AS (
  SELECT doc_id, c, gram FROM (
    SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY COUNT(*) DESC, gram) AS rn
    FROM g{n} GROUP BY doc_id, gram)
  WHERE rn = 1)""")
    fr = lambda n: (  # noqa: E731
        f"COALESCE(top{n}.c * (length(top{n}.gram) - {n - 1}) * 1000000"
        f" // NULLIF(b.tot, 0), 0)"
    )
    parts.append(f"""
SELECT b.doc_id, b.n_words,
  CAST({fr(2)} AS BIGINT) AS top2_char_frac_e6,
  CAST({fr(3)} AS BIGINT) AS top3_char_frac_e6,
  CAST({fr(4)} AS BIGINT) AS top4_char_frac_e6,
  (CAST({fr(2)} AS BIGINT) <= {GOPHER_TOP2_MAX_E6}
   AND CAST({fr(3)} AS BIGINT) <= {GOPHER_TOP3_MAX_E6}
   AND CAST({fr(4)} AS BIGINT) <= {GOPHER_TOP4_MAX_E6}) AS keep
FROM base b
LEFT JOIN top2 ON top2.doc_id = b.doc_id
LEFT JOIN top3 ON top3.doc_id = b.doc_id
LEFT JOIN top4 ON top4.doc_id = b.doc_id""")
    return "\n".join(parts)


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over document text. The synthetic corpus
    carries no organic PII, so the query appends a deterministic contact
    trailer derived from doc_id (identical expression in the oracle) —
    the point is engine-parity of the detection regexes and of the fixed
    redaction pass order on text that DOES contain matches.

    Scale shape: pure narrow projection (regexp_count / regexp_replace are
    codegen'd JVM expressions) — zero shuffles, linear scan."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    trailer = F.concat(
        F.when(
            F.pmod(did, 3) == 0,
            F.concat(F.lit(" contact d"), did.cast("string"), F.lit("@mail.org")),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(did, 4) == 0,
            F.concat(
                F.lit(" from 192.168."),
                F.pmod(did, 256).cast("string"),
                F.lit("."),
                F.pmod(did, 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.pmod(did, 5) == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad(F.pmod(did, 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    full = F.concat(F.col("text"), trailer)
    counts = pii_counts(full)
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        pii_scrub(full).alias("redacted"),
    )


# DuckDB mirrors: RE2 needs the same pattern strings; the 'g' flag makes
# regexp_replace global like Spark's.
_PII_TRAILER_SQL = (
    "(CASE WHEN doc_id % 3 = 0 THEN ' contact d' || CAST(doc_id AS VARCHAR) || '@mail.org' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)"
)
_PII_SQL_REDACT = "full_text"
for _pat, _tok in PII_PASSES:
    _PII_SQL_REDACT = (
        f"regexp_replace({_PII_SQL_REDACT}, '{_pat}', '{_tok}', 'g')"
    )
_PII_REDACT_SQL = f"""
WITH t AS (SELECT doc_id, text || {_PII_TRAILER_SQL} AS full_text FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(full_text, '{PII_PASSES[0][0]}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(full_text, '{PII_PASSES[1][0]}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(full_text, '{PII_PASSES[2][0]}')) AS BIGINT) AS n_phones,
  {_PII_SQL_REDACT} AS redacted
FROM t
"""


CMS_DEPTH = 4
CMS_WIDTH = 256


def tokenize_tf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Fused Arrow tokenize-and-count: one ``mapInPandas`` stage emitting
    the sparse (doc_id, token, tf) table directly from each document.

    The tf table is the SHARED upstream artifact of the whole text
    family (tfidf / bm25 / simhash / cms each re-pay this pass): under
    ``TOMIX_CACHE_DERIVED`` it materializes once per (application,
    source plan) as a derived view — the bench reports that regime in
    its separate ``derived_cached`` tier, never the headline.

    Replaces the JVM explode + (doc, token) hash aggregate: the explode
    form materializes the FULL token stream (12M rows at sf0.1) into a
    corpus-wide shuffle before collapsing it, where this stage collapses
    each document to its distinct-token counts inside the Arrow batch —
    a narrow, shuffle-free pass whose output is the sparse tf artifact
    (~10x smaller than the token stream). Each input row is one whole
    document, so per-batch (doc, token) counts are EXACT per-doc tf — no
    partial-merge step needed. The batch body runs entirely in pyarrow
    C++ kernels (``_pa_tokenize_tf`` over ``functions.text.driver_tokens``,
    the driver implementation of the one tokenizer spec; pinned against
    ``tokens()`` and ``SQL_WORDS`` by
    tests/test_properties.py::TestTokenizeSpec)."""
    from tomixpanel_spark.session import python_stage

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            tbl = _pa_tokenize_tf(pdf[id_col], pdf[text_col])
            yield tbl.to_pandas()

    def build() -> DataFrame:
        return python_stage(
            docs.select(F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)),
            batches,
            "doc_id long, token string, tf long, dl long",
        )

    from tomixpanel_spark.operators.base import derived

    return derived(
        docs.sparkSession,
        ("tokenize_tf", docs.semanticHash(), id_col, text_col),
        build,
        kind="artifact",
    )


def _pa_tokenize_tf(ids, texts):
    """Arrow-native tokenize+count for one batch: the flat token stream
    from ``driver_tokens`` (the one driver tokenizer), then a native
    group_by count on (doc, token). ~6x the Python Counter loop's
    throughput on the benchmark corpus."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    flat, doc = driver_tokens(texts)
    pairs = pa.table({"i": doc, "token": flat})
    agg = pairs.group_by(["i", "token"]).aggregate([("token", "count")])
    doc_ids = pa.array(ids, type=pa.int64(), from_pandas=True).take(agg["i"])
    # per-doc total token count (dl) rides along for free: each input row
    # is a whole document, so the batch-local count IS the document
    # length — emitting it here saves BM25 a corpus-wide window exchange
    dl = pa.array(np.bincount(doc, minlength=len(ids))).take(agg["i"])
    return pa.table(
        {
            "doc_id": doc_ids,
            "token": agg["token"],
            "tf": pc.cast(agg["token_count"], pa.int64()),
            "dl": dl,
        }
    )


def driver_tf(pdf) -> "pd.DataFrame":
    """``tokenize_tf``'s rows for a driver (doc_id, text) frame: the same
    pyarrow batch body, run in-process — no Spark job. The driver folds
    collect the raw text instead of a tf table (one scheduler round
    less, and raw documents are SMALLER than their tf table at typical
    English token/byte ratios). Returns pandas (doc_id, token, tf, dl)."""
    return _pa_tokenize_tf(pdf["doc_id"], pdf["text"]).to_pandas()


# Vocabulary gate for the df broadcast (same pattern as decontam's
# held-out gate, round-7 advice): broadcast only while the distinct-token
# side fits executor memory; above the cap, fall back to a shuffle join.
TFIDF_BCAST_VOCAB = Gate("TOMIX_TFIDF_BCAST_VOCAB", 2_000_000)


# Size-adaptive execution gate (the identity.py CC pattern — driver
# union-find under an edge cap, distributed label propagation above —
# applied to corpus stats): corpora under this many documents are
# collected as raw (doc_id, text) rows and folded on the driver; larger
# corpora take the distributed plans. Every site decides AND collects
# through the gate's one door, ``Gate.collect_or_none`` (keyed
# ``(sf_dir, "docs")`` by ``fold_corpus`` for the documents table), and
# its fold takes the pandas frame. The cap bounds the folds' working
# set: the tf table is docs x distinct-tokens-per-doc rows (~25k docs
# with a typical ~250-token distinct profile is ~6M small rows, a few
# hundred MB of pandas — the same order as the CC edge cap).
TFIDF_DRIVER_FOLD_DOCS = Gate("TOMIX_TFIDF_DRIVER_FOLD_DOCS", 25_000)


def fold_corpus(spark: SparkSession, sf_dir: str, admit=None):
    """``(docs, pdf)``: the documents table, and its (doc_id, text) rows
    as a driver frame when ``TFIDF_DRIVER_FOLD_DOCS`` admits them (else
    None), from the gate's door under the key ``(sf_dir, "docs")``.
    Callers spread ``docs`` (``ensure_parallel``) on the distributed
    branch only."""
    docs = table(spark, sf_dir, "documents")
    pdf = TFIDF_DRIVER_FOLD_DOCS.collect_or_none(
        docs.select("doc_id", "text"), (sf_dir, "docs"), admit
    )
    return docs, pdf


def _tfidf_driver_fold(spark: SparkSession, pdf) -> DataFrame:
    """Small-corpus tf-idf over the driver (doc_id, text) frame: the
    fused tokenize+count in-process (``driver_tf``) + a vectorized
    fold — no shuffle, no broadcast-exchange job, no checkpoint. On the
    driver, df is one pandas value_counts over the unique-per-(doc,
    token) rows, scores are exact vectorized int64 arithmetic
    (tf * 1e6 * N // df — all positive, pandas ``//`` floors like
    DuckDB's), and top-3 is a (doc, -score, token) sort + groupby
    cumcount. Ties break (score DESC, token ASC), matching the oracle's
    row_number ORDER BY. Why this wins at benchmark scale: every Spark
    exchange/broadcast/checkpoint this query used to pay was per-stage
    overhead on ~100k tf rows; the fold leaves one bounded collect of the
    raw text, the same pipeline a single-node engine runs.
    N is ``len(pdf)`` — docs with zero tokens contribute no tf rows but
    still count toward N, exactly like the oracle's ``COUNT(*) FROM
    documents``."""
    n_docs = len(pdf)
    tf_pdf = driver_tf(pdf)
    if not len(tf_pdf):
        return local_rows_df(
            spark, [], "doc_id long, token string, score_e6 long, rk long"
        )
    dfreq = tf_pdf["token"].map(tf_pdf["token"].value_counts())
    tf_pdf["score_e6"] = (
        tf_pdf["tf"].astype("int64") * 1_000_000 * int(n_docs)
    ) // dfreq.astype("int64")
    ranked = tf_pdf.sort_values(
        ["doc_id", "score_e6", "token"], ascending=[True, False, True], kind="stable"
    )
    ranked["rk"] = ranked.groupby("doc_id").cumcount() + 1
    top = ranked[ranked["rk"] <= 3][["doc_id", "token", "score_e6", "rk"]]
    return local_rows_df(
        spark, top, schema="doc_id long, token string, score_e6 long, rk long"
    )


def _tf_view(docs: DataFrame) -> DataFrame:
    """The fused (doc_id, token, tf) table, materialized for multiple
    consumers within one query. ``tokenize_tf`` is already a keyed
    derived artifact under TOMIX_CACHE_DERIVED (tf is the canonical
    materialized intermediate of a lexical pipeline — tf-idf, BM25
    postings, and vocabulary stats all read it, the ``_minhash_sig_df``
    precedent), and layering a localCheckpoint over an active persisted
    view only re-copies it — so checkpoint ONLY when the artifact flag
    is off (the bench-headline default)."""
    tf = tokenize_tf(docs)
    # detect BY STORAGE LEVEL, not by env: with the unconditional
    # derived-cache read (round-11 verdict #8) an artifact built while
    # the flag was on keeps serving after it flips off — and layering a
    # localCheckpoint over an active persisted view only re-copies it
    if tf.storageLevel.useMemory or tf.storageLevel.useDisk:
        return tf  # persisted derived view: already materialized once
    return stage_checkpoint(tf, eager=False)


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf-idf.

    Scoring uses the RATIONAL idf surrogate N/df instead of ln(N/df), in
    pure integer arithmetic (score_e6 = tf * 1e6 * N div df): libm's ln
    differs across engines by ULPs, which can flip a rounding or a rank;
    integers are bit-exact everywhere, and N/df is a monotone transform
    of the usual idf so the per-term ordering story is unchanged (the
    tf multiplication weights rare terms more aggressively than ln —
    acceptable for keyword extraction, documented here).

    SIZE-ADAPTIVE execution (the identity.py CC principle):

    * corpus under ``TOMIX_TFIDF_DRIVER_FOLD_DOCS`` — the driver-fold
      plan (``_tfidf_driver_fold``): the door's one bounded collect of
      the raw documents, tokenized and folded to df/scores/top-3 on the
      driver, zero shuffles. At toy/benchmark scale Spark's per-stage
      floor dominates this query, and the fold removes every exchange,
      broadcast, and checkpoint from the plan.
    * above the gate — the distributed plan below: ONE tokenized
      lineage through the FUSED Arrow stage (``tokenize_tf``: per-doc
      Counter partials emit the sparse (doc, token, tf) table without
      materializing the token stream into a shuffle — the old JVM
      explode+agg form paid a corpus-wide exchange of every token
      occurrence, 9x the oracle at sf0.1). tf materializes in-query
      (``stage_checkpoint``: localCheckpoint locally, durable
      checkpoint() under TOMIX_CHECKPOINT_DIR on clusters) because two
      consumers read it. Document frequency is a map-side-partial
      ``groupBy(token).count()`` over the materialized tf,
      broadcast-joined back while the vocabulary is under the gate
      (``TOMIX_TFIDF_BCAST_VOCAB``, counted once and memoized —
      decontam's pattern) and a shuffle join above it. Why not the
      single-lineage ``COUNT(*) OVER (PARTITION BY token)`` form: that
      window funnels every tf row of a hot token ("the") into ONE
      task's sort — a skew scale-killer at corpus size. N is the gate's
      memoized corpus count (one job on a cold call above the cap).
      Top-k per doc is a hash aggregate (collect scored structs,
      array_sort, slice 3, posexplode) rather than a rank window: same
      exchange on doc_id, but only each doc's own list sorts and only 3
      rows per doc survive.

    Both paths produce identical rows (asserted by
    tests/test_plans.py::test_tfidf_paths_agree)."""
    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        return _tfidf_driver_fold(spark, pdf)
    n_docs = TFIDF_DRIVER_FOLD_DOCS.count((sf_dir,), docs)
    tf = _tf_view(ensure_parallel(docs, "doc_id"))
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # N rides as a LITERAL inside the df broadcast side: the memoized
    # corpus count is a driver constant, so deriving N again (docs.agg +
    # crossJoin — and before that, a separate broadcast(n) job measured
    # at ~15% of this query's wall time at sf0.1) is free to skip
    build = df_counts.select(
        "token", "df", F.lit(n_docs).cast("bigint").alias("n_docs")
    )
    # above the vocabulary cap: shuffle join, with runtime bloom-filter
    # injection pruning non-matching tf rows map-side
    build = TFIDF_BCAST_VOCAB.join_sides((sf_dir, "vocab"), df_counts, build)
    scored = tf.join(build, "token").select(
        "doc_id",
        "token",
        F.expr("tf * 1000000L * n_docs div df").alias("score_e6"),
    )
    top3 = (
        scored.groupBy("doc_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("score_e6")).alias("ns"), "token"))
                ),
                1,
                3,
            ).alias("top")
        )
        .select("doc_id", F.posexplode("top").alias("pos", "t"))
    )
    return top3.select(
        "doc_id",
        F.col("t.token").alias("token"),
        (-F.col("t.ns")).alias("score_e6"),
        (F.col("pos") + 1).cast("bigint").alias("rk"),
    )


_TFIDF_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({SQL_WORDS}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
idf AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.token,
         (tf.tf * 1000000 * (SELECT n_docs FROM n)) // idf.df AS score_e6
  FROM tf JOIN idf USING (token))
SELECT doc_id, token, CAST(score_e6 AS BIGINT) AS score_e6, rk
FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score_e6 DESC, token) AS BIGINT) AS rk
      FROM scored)
WHERE rk <= 3
"""


def _cms_bucket(row: int, token) -> F.Column:
    """Deterministic md5-derived bucket for sketch row ``row`` — identical
    arithmetic in DuckDB, so sketches (and their over-estimates) are
    engine-equal."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}:"), token)), 1, 8), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(CMS_WIDTH))


def _cms_bucket_arr(row: int, toks):
    """Vectorized Python mirror of ``_cms_bucket`` for an array of
    tokens (md5 first 8 hex digits -> int % WIDTH). The ONE copy of the
    bucket arithmetic shared by the driver fold below and the streaming
    partial-sketch fold (``streaming.sketches.StreamingCountMin``) — the
    cells are oracle-parity-critical, so the spec must not fork."""
    import hashlib

    import numpy as np

    pre = f"{row}:".encode("utf-8")
    return np.fromiter(
        (
            int(hashlib.md5(pre + t.encode("utf-8")).hexdigest()[:8], 16)
            % CMS_WIDTH
            for t in toks
        ),
        dtype=np.int64,
        count=len(toks),
    )


def cms_cells_from_counts(toks, cnt):
    """(token, count) arrays -> the DEPTH x WIDTH cell matrix. Cells are
    plain sums, so this is the mergeable partial-sketch builder: callers
    (driver fold, streaming micro-batch partials) add matrices cellwise
    to get exactly the sketch of the union."""
    import numpy as np

    cells = np.zeros((CMS_DEPTH, CMS_WIDTH), dtype=np.int64)
    for r in range(CMS_DEPTH):
        np.add.at(cells[r], _cms_bucket_arr(r, toks), cnt)
    return cells


def _cms_rb() -> F.Column:
    """token -> exploded DEPTH-element (row, bucket) struct column. One
    explode of a small struct array instead of a DEPTH-way union of full
    re-scans: the corpus is tokenized ONCE per consumer (the union form
    re-tokenized it DEPTH times per side — 8x total)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"), _cms_bucket(r, F.col("token")).alias("bucket")
                )
                for r in range(CMS_DEPTH)
            ]
        )
    ).alias("rb")


def cms_sketch(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents -> the fixed-size count-min sketch (row, bucket, c).

    One hash aggregate whose output is DEPTH x WIDTH cells no matter the
    vocabulary — at 100 TB the shuffle carries ~1k rows per partition
    where an exact top-k carries the vocab. Sketch cells are plain sums,
    so sketches MERGE by cell-wise addition: partials from partitions,
    batches, or streaming micro-batches combine in any order to exactly
    the sketch of the union (see ``streaming.sketches``)."""
    toks = docs.select(F.explode(tokens(text_col)).alias("token"))
    return (
        toks.select(_cms_rb())
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _cms_fold(pdf) -> "pd.DataFrame":
    """Driver-fold count-min heavy hitters over the driver (doc_id,
    text) frame: per-token totals from the in-process tokenize, md5
    buckets per sketch row (the same spec as ``_cms_bucket``/the
    oracle), vectorized scatter-add cells, min-over-rows estimate."""
    import numpy as np
    import pandas as pd

    tf = driver_tf(pdf)
    if not len(tf):
        return pd.DataFrame({"token": [], "est_n": []})
    counts = tf.groupby("token", sort=False)["tf"].sum()
    tokens = counts.index.to_numpy()
    cnt = counts.to_numpy(np.int64)
    est = np.full(len(tokens), np.iinfo(np.int64).max, dtype=np.int64)
    for r in range(CMS_DEPTH):
        buckets = _cms_bucket_arr(r, tokens)
        cells = np.zeros(CMS_WIDTH, dtype=np.int64)
        np.add.at(cells, buckets, cnt)
        est = np.minimum(est, cells[buckets])
    return pd.DataFrame({"token": tokens, "est_n": est})


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch term frequencies: the mergeable-sketch shape for
    heavy-hitter detection over a token stream.

    Build: sketch cells are plain sums, so they can be built from the
    AGGREGATED per-token counts instead of the raw occurrence stream —
    cell(r,b) = sum of counts of tokens hashing there, identical value,
    and the corpus then tokenizes exactly ONCE: a single map-side-partial
    ``groupBy(token).count()`` (vocab-sized output) feeds BOTH the sketch
    aggregate and the probe side. ``tok_counts`` materializes in-query
    via a lazy localCheckpoint (vocab-bounded, not corpus-bounded)
    because Spark has no cross-branch subexpression reuse — without it
    each branch re-tokenizes (the old double-lineage shape, 8x the
    oracle at sf0.1); localCheckpoint rather than persist() so the
    session CacheManager never substitutes it into other queries.
    ``cms_sketch`` keeps the stream-shaped construction for streaming
    partials.

    Estimate: min over depth rows of the token's cell — here evaluated
    for the full (small) vocab to make the query oracle-checkable;
    production queries the sketch for candidate terms only. Estimates can
    only over-count (collisions add), and both engines hash identically,
    so over-counts match exactly too."""
    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        # size-adaptive driver fold (the tfidf/bm25/simhash/substring
        # gate): tokenize driver-side, build the DEPTHxWIDTH cells with
        # one scatter-add per row, estimate = min over rows — identical
        # md5 bucket spec, so over-counts still match the oracle exactly
        return local_rows_df(spark, _cms_fold(pdf), schema="token string, est_n long")
    docs = ensure_parallel(docs, "doc_id")
    # per-token totals fold from the SPARSE tf table (fused Arrow
    # tokenize, round 8) — sum(tf) == count over the occurrence explode,
    # with ~10x fewer rows into the vocab aggregate
    tok_counts = stage_checkpoint(
        tokenize_tf(docs).groupBy("token").agg(F.sum("tf").alias("cnt")),
        eager=False,
    )
    sketch = (
        tok_counts.select("cnt", _cms_rb())
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("cnt").alias("c"))
    )
    est = (
        tok_counts.select("token", _cms_rb())
        .select("token", "rb.row", "rb.bucket")
        .join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("token")
        .agg(F.min("c").cast("bigint").alias("est_n"))
    )
    return est


_CMS_CELLS = " UNION ALL ".join(
    f"SELECT {r} AS row, CAST('0x' || substr(md5('{r}:' || token), 1, 8) AS BIGINT) % {CMS_WIDTH} AS bucket FROM occ"
    for r in range(CMS_DEPTH)
)
_CMS_PROBES = " UNION ALL ".join(
    f"SELECT token, {r} AS row, CAST('0x' || substr(md5('{r}:' || token), 1, 8) AS BIGINT) % {CMS_WIDTH} AS bucket FROM vocab"
    for r in range(CMS_DEPTH)
)
_CMS_SQL = f"""
WITH occ AS (SELECT unnest({SQL_WORDS}) AS token FROM documents),
cells AS ({_CMS_CELLS}),
sketch AS (SELECT row, bucket, COUNT(*) AS c FROM cells GROUP BY 1, 2),
vocab AS (SELECT DISTINCT token FROM occ),
probes AS ({_CMS_PROBES})
SELECT p.token, CAST(min(s.c) AS BIGINT) AS est_n
FROM probes p JOIN sketch s ON p.row = s.row AND p.bucket = s.bucket
GROUP BY p.token
"""


# -- BM25 lexical retrieval ---------------------------------------------
BM25_QUERIES = 5  # query docs: doc_id < 5 (their token sets are the queries)
BM25_TOPK = 10
# k1=1.2, b=0.75 as exact rationals (22/10, 3/10, 900/1000 below); idf is
# the RATIONAL surrogate (2(N-df)+1)/(2df+1) — same monotone-transform
# trade as tfidf_keywords' N/df: libm ln() differs across engines by
# ULPs, integers are bit-exact everywhere. avgdl enters as the BOUNDED
# integer avg_e2 = 100*A div N (not raw A), so every intermediate stays
# inside int64 at ANY corpus size except idf's intrinsic ~N growth
# (safe past 1e11 docs; beyond that rescale idf's 1e6 factor down).


def _bm25_driver_fold(spark: SparkSession, pdf) -> DataFrame:
    """Small-corpus BM25 over the driver (doc_id, text) frame (N is
    ``len(pdf)``): the in-process tokenize + a vectorized fold (the
    ``_tfidf_driver_fold`` principle — at benchmark scale the
    query's cost was Spark's per-stage floor, not the math). The key
    simplification: a term's contribution c = idf * tfpart depends only
    on CORPUS stats (tf, df, dl, avgdl), not on which query matched it,
    so c precomputes once per tf row and each query just sums its
    matched rows. All arithmetic is the same exact int64 as the
    distributed plan; ties break (score DESC, doc_id ASC) to match the
    oracle's row_number."""
    n_docs = len(pdf)
    tf_pdf = driver_tf(pdf)
    schema = "q_id long, doc_id long, rank long, score_e6 long"
    if not len(tf_pdf):
        return local_rows_df(spark, [], schema)
    a_total = int(tf_pdf["tf"].sum())
    avg_e2 = (a_total * 100) // int(n_docs)
    tfv = tf_pdf["tf"].astype("int64")
    dlv = tf_pdf.groupby("doc_id")["tf"].transform("sum").astype("int64")
    dfv = tf_pdf["token"].map(tf_pdf["token"].value_counts()).astype("int64")
    idf = ((2 * (int(n_docs) - dfv) + 1) * 1_000_000) // (2 * dfv + 1)
    tfpart = (22 * tfv * avg_e2 * 1_000_000) // (
        tfv * 10 * avg_e2 + 3 * avg_e2 + 900 * dlv
    )
    tf_pdf["c"] = (idf * tfpart) // 1_000_000
    q = tf_pdf.loc[tf_pdf["doc_id"] < BM25_QUERIES, ["doc_id", "token"]].rename(
        columns={"doc_id": "q_id"}
    )
    merged = q.merge(tf_pdf[["doc_id", "token", "c"]], on="token")
    merged = merged[merged["doc_id"] != merged["q_id"]]
    scores = (
        merged.groupby(["q_id", "doc_id"], as_index=False)["c"]
        .sum()
        .rename(columns={"c": "score_e6"})
    )
    ranked = scores.sort_values(
        ["q_id", "score_e6", "doc_id"], ascending=[True, False, True], kind="stable"
    )
    ranked["rank"] = ranked.groupby("q_id").cumcount() + 1
    top = ranked[ranked["rank"] <= BM25_TOPK][["q_id", "doc_id", "rank", "score_e6"]]
    return local_rows_df(spark, top, schema=schema)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: score every corpus document against each
    query document's token set, return the top-10 per query — the
    inverted-index serving shape (retrieval for RAG / dedup-by-retrieval
    pipelines), integer-exact end to end.

    SIZE-ADAPTIVE like ``tfidf_keywords``: under the same driver-fold
    gate the whole query is the door's one bounded collect + a
    vectorized driver fold (``_bm25_driver_fold``); both paths assert
    equal rows in tests/test_plans.py::test_bm25_paths_agree.

    Distributed scale shape: the fused Arrow tf table materializes once
    (``stage_checkpoint``) and feeds three consumers. Document length
    (dl) rides IN the fused tf rows — each Arrow batch row is a whole
    document, so the tokenize pass emits it for free, replacing the
    corpus-wide window-sum exchange this plan used to pay (round 11;
    the probe measured that window at ~0.2 s of the 50k-doc gap to the
    oracle). INPUT CONTRACT made explicit by that fusion: a document IS
    a physical row — if a corpus carries duplicate doc_id rows (e.g.
    re-ingested shards), each row scores as its own document with its
    own dl (the old window-sum silently pooled dl across duplicates
    while still scoring tf rows separately — neither semantics, worse);
    dedup_by_key is the upstream verb for collapsing duplicates first.
    Pinned by tests/test_scale_guards.py::test_tokenize_tf_duplicate_
    doc_id_rows_are_independent_documents. The BUILD side — query terms x
    their df x the two corpus totals — is |query vocab| rows, broadcast;
    the probe is one pass over the sparse tf table, so candidate scoring
    touches only postings of query terms (exactly what an inverted index
    does) and only (q, doc) partial scores reach the two final
    exchanges. Nothing corpus-sized crosses the wire unaggregated."""
    from pyspark.sql import Window

    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        return _bm25_driver_fold(spark, pdf)
    n_docs = TFIDF_DRIVER_FOLD_DOCS.count((sf_dir,), docs)
    tf = _tf_view(ensure_parallel(docs, "doc_id"))
    tfd = tf  # dl is fused into the tokenize pass (no window exchange)
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # n rides as a LITERAL from the memoized corpus count: no 1-row
    # aggregate job inside the broadcast build
    totals = tf.agg(F.sum("tf").alias("a")).select(
        "a", F.lit(n_docs).cast("bigint").alias("n")
    )
    qterms = tf.filter(F.col("doc_id") < BM25_QUERIES).select(
        F.col("doc_id").alias("q_id"), "token"
    )
    build = F.broadcast(
        qterms.join(df_counts, "token").crossJoin(totals).withColumn(
            "avg_e2", F.expr("(a * 100) div n")
        )
    )
    joined = tfd.join(build, "token").filter(F.col("doc_id") != F.col("q_id"))
    # ONE integer expression end to end: idf_e6 * tfpart_e6 exceeds 2^53
    # at real corpus sizes, where a double `/` would lose low bits and
    # break parity with the driver fold and the oracle's `//`
    contrib = joined.select(
        "q_id",
        "doc_id",
        F.expr(
            "(((2 * (n - df) + 1) * 1000000) div (2 * df + 1)"
            " * ((22 * tf * avg_e2 * 1000000)"
            "    div (tf * 10 * avg_e2 + 3 * avg_e2 + 900 * dl))"
            ") div 1000000"
        ).alias("c"),
    )
    scores = contrib.groupBy("q_id", "doc_id").agg(F.sum("c").alias("score_e6"))
    w = Window.partitionBy("q_id").orderBy(F.col("score_e6").desc(), F.col("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("q_id", "doc_id", "rank", F.col("score_e6").cast("long").alias("score_e6"))
    )


_BM25_SQL = f"""
WITH tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({SQL_WORDS}) AS token FROM documents)
  GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
tot AS (
  SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n,
         CAST((SELECT SUM(tf) FROM tf) AS BIGINT) AS a),
tot2 AS (SELECT n, a, (a * 100) // n AS avg_e2 FROM tot),
qt AS (SELECT doc_id AS q_id, token FROM tf WHERE doc_id < {BM25_QUERIES}),
contrib AS (
  SELECT qt.q_id, t.doc_id,
         (((2 * (tot2.n - dfc.df) + 1) * 1000000) // (2 * dfc.df + 1)
          * ((22 * t.tf * tot2.avg_e2 * 1000000)
             // (t.tf * 10 * tot2.avg_e2 + 3 * tot2.avg_e2 + 900 * dl.dl))
         ) // 1000000 AS c
  FROM qt
  JOIN tf t USING (token)
  JOIN dl ON t.doc_id = dl.doc_id
  JOIN dfc ON qt.token = dfc.token
  CROSS JOIN tot2
  WHERE t.doc_id <> qt.q_id),
score AS (
  SELECT q_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_e6
  FROM contrib GROUP BY 1, 2)
SELECT q_id, doc_id, rank, score_e6 FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY score_e6 DESC, doc_id) AS rank
  FROM score) WHERE rank <= {BM25_TOPK}
"""


# -- bigram LM scoring (CCNet-style perplexity filter, integer-exact) --------

# Broadcast the bigram model while its cardinality (distinct bigram types,
# NOT occurrences) stays under this cap; above it the scoring joins are
# shuffle hash joins on (prev, cur) and prev. Counted once per
# (application, sf_dir) through the gate's memo.
LM_BCAST_BIGRAMS = Gate("TOMIX_LM_BCAST_BIGRAMS", 2_000_000)


def _lm_driver_fold(spark: SparkSession, pdf) -> DataFrame:
    """Small-corpus bigram-LM scoring over the driver (doc_id, text)
    frame the door collected + an exact VECTORIZED fold — no shuffle,
    no checkpoint, no broadcast-exchange job, no gate-count job.
    Tokenization is ``driver_tokens``, the one driver tokenizer,
    ORDER-PRESERVING (no group_by): the flat token stream + doc indices
    give adjacency directly, tokens factorize via ``dictionary_encode``,
    and model/context/score are numpy int64 ops (``//`` floors like the engines'; bincount/add.at
    keep the sums integer-exact). A dict-Counter formulation measured
    SLOWER than the distributed plan at 5k docs — the per-token Python
    loop was the cost, not Spark. Bit-identical to the distributed plan
    and the oracle (tests/test_plans.py::test_bigram_lm_paths_agree)."""
    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc

    empty = pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype="int64"),
            "n_bigrams": pd.Series([], dtype="int64"),
            "lm_score_e6": pd.Series([], dtype="int64"),
        }
    )
    schema = "doc_id long, n_bigrams long, lm_score_e6 long"
    if not len(pdf):
        return local_rows_df(spark, empty, schema=schema)
    flat, parent = driver_tokens(pdf["text"])
    n_docs = len(pdf)
    nb = np.zeros(n_docs, dtype=np.int64)
    sc = np.zeros(n_docs, dtype=np.int64)
    if len(flat):
        enc = pc.dictionary_encode(flat)
        idx = enc.indices.to_numpy().astype(np.int64)
        v = len(enc.dictionary)
        same = parent[:-1] == parent[1:]
        prev = idx[:-1][same]
        cur = idx[1:][same]
        bdoc = parent[:-1][same]
        if len(prev):
            combo = prev * np.int64(v) + cur
            _, inv, cnt = np.unique(combo, return_inverse=True, return_counts=True)
            cc = np.bincount(prev, minlength=v)  # context counts, exact
            term = (1_000_000 * (cnt[inv] + 1)) // (cc[prev] + v)
            np.add.at(nb, bdoc, 1)
            np.add.at(sc, bdoc, term)
    out = pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(np.int64),
            "n_bigrams": nb,
            "lm_score_e6": sc,
        }
    )
    return local_rows_df(spark, out, schema=schema)


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LANGUAGE-MODEL likelihood scoring — the CCNet-style
    quality signal (score docs by how typical their token transitions are
    under a corpus-trained bigram model; perplexity filtering keeps the
    high-likelihood tail). Self-scoring formulation: the corpus IS the
    training set, as CCNet scores with an in-domain LM.

    INTEGER-EXACT scoring (the tfidf N/df precedent): each bigram position
    contributes ``term = (1e6 * (c(prev,cur) + 1)) div (c(prev) + |V|)`` —
    the Laplace-smoothed transition probability scaled to e6 and floored.
    True perplexity exponentiates a mean of libm logs, which differs by
    ULPs across engines and would flip hash comparisons; the scaled
    probability SUM is a monotone-per-position surrogate computed
    identically everywhere. ``c(prev)`` is the context count (bigram
    occurrences starting at prev, i.e. excluding final-token occurrences);
    ``|V|`` is corpus distinct-token cardinality. Docs with < 2 tokens
    score (0, 0) rather than dropping out — a filter verb must emit a
    verdict for every document.

    SIZE-ADAPTIVE (the tfidf fold precedent, same shared gate): corpora
    under ``TOMIX_TFIDF_DRIVER_FOLD_DOCS`` score via ``_lm_driver_fold``
    (the door's one bounded collect + an exact numpy fold — zero
    shuffles); above the gate, the distributed plan below (50k-doc
    scale probe exercises it naturally).

    Scale shape (distributed): occurrences NEVER shuffle raw. The model build is a
    map-side-partial ``groupBy(prev, cur).count()`` (shuffle carries one
    row per bigram TYPE per partition); context counts derive from the
    materialized model (bigram-type-sized input, token-type-sized output);
    |V| folds in as a broadcast 1-row aggregate, not a driver constant.
    Scoring re-reads the bigram stream through a BROADCAST join against
    the model while it is under ``TOMIX_LM_BCAST_BIGRAMS`` (so the big
    side never exchanges), then aggregates per doc — and bigrams of one
    doc are colocated in its input partition, so the per-doc aggregate's
    shuffle carries one partial row per document. Above the gate: shuffle
    hash joins on (prev, cur) and prev, model and ctx pinned as the build
    sides; hot contexts ("the ...") skew that exchange, and
    AQE skew-join splitting is the designed mitigation (documented, same
    posture as tfidf above its vocab gate)."""
    from tomixpanel_spark.functions.text import adjacent_pairs

    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        return _lm_driver_fold(spark, pdf)
    docs = ensure_parallel(docs, "doc_id")
    toks = docs.select("doc_id", tokens("text").alias("words"))
    pairs = adjacent_pairs(F.col("words"), "prev", "cur")
    big = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    # model consumed 3x (gate count, ctx aggregate, scoring join) —
    # materialize once, don't recompute the corpus tokenization per read.
    model = stage_checkpoint(
        big.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c"))
    )
    ctx = model.groupBy("prev").agg(F.sum("c").alias("cc"))
    vocab = docs.select(F.explode(tokens("text")).alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    model, ctx = LM_BCAST_BIGRAMS.join_sides(
        (sf_dir, "lm_bigram_types"), model, model, ctx
    )
    scored = (
        big.join(model, ["prev", "cur"])
        .join(ctx, ["prev"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", F.expr("(1000000 * (c + 1)) div (cc + v)").alias("term"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("term").alias("s")
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("s", F.lit(0)).cast("bigint").alias("lm_score_e6"),
        )
    )


_BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, {SQL_WORDS} AS words FROM documents),
big AS (
  SELECT doc_id, words[i] AS prev, words[i + 1] AS cur
  FROM toks, UNNEST(range(1, len(words))) AS t(i)),
model AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY 1, 2),
ctx AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cc FROM model GROUP BY 1),
vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
  FROM (SELECT unnest(words) AS token FROM toks)),
scored AS (
  SELECT b.doc_id, (1000000 * (m.c + 1)) // (x.cc + vocab.v) AS term
  FROM big b
  JOIN model m ON b.prev = m.prev AND b.cur = m.cur
  JOIN ctx x ON b.prev = x.prev
  CROSS JOIN vocab),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(term) AS BIGINT) AS s
  FROM scored GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.s, 0) AS BIGINT) AS lm_score_e6
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


# Helper modules whose changes should count as a change to this
# module's registered queries for the external-window rotation
# (rule: code changed since last external green outranks staleness).
ROTATION_DEPS = [
    "tomixpanel_spark.functions.text",
]

REGISTRY = {
    "bigram_lm_score": QuerySpec(
        bigram_lm_score, _BIGRAM_LM_SQL, "ext:text LM-likelihood quality filter"
    ),
    "bm25_topk": QuerySpec(bm25_topk, _BM25_SQL, "ext:text lexical retrieval (BM25)"),
    "explode_hits": QuerySpec(explode_hits, _EXPLODE_HITS_SQL, "M1"),
    "cms_heavy_hitters": QuerySpec(
        cms_heavy_hitters, _CMS_SQL, "custom operator: count-min sketch"
    ),
    "token_count": QuerySpec(token_count, _TOKEN_COUNT_SQL, "ext:text"),
    "word_freq": QuerySpec(word_freq, _WORD_FREQ_SQL, "ext:text"),
    "lang_id": QuerySpec(lang_id, _LANG_ID_SQL, "ext:text"),
    "quality_score": QuerySpec(quality_score, _QUALITY_SCORE_SQL, "ext:text"),
    "doc_fingerprint": QuerySpec(doc_fingerprint, _DOC_FINGERPRINT_SQL, "ext:text"),
    "stratified_sample": QuerySpec(stratified_sample, _STRATIFIED_SAMPLE_SQL, "ext:text sampling"),
    "mixture_stats": QuerySpec(mixture_stats, _MIXTURE_STATS_SQL, "ext:text mixture"),
    "mixture_rebalance": QuerySpec(
        mixture_rebalance, _MIXTURE_REBALANCE_SQL, "ext:text mixture rebalancing"
    ),
    "gopher_quality": QuerySpec(
        gopher_quality, _GOPHER_QUALITY_SQL, "ext:text quality filter"
    ),
    "gopher_repetition": QuerySpec(
        gopher_repetition,
        _gopher_repetition_sql(),
        "ext:text Gopher top n-gram repetition filters (n=2,3,4)",
    ),
    "pii_redact": QuerySpec(pii_redact, _PII_REDACT_SQL, "ext:text PII scrub"),
    "tfidf_keywords": QuerySpec(tfidf_keywords, _TFIDF_SQL, "ext:text tf-idf"),
    "weighted_sample": QuerySpec(
        weighted_sample, _WEIGHTED_SAMPLE_SQL, "ext:text weighted sampling"
    ),
    "chunk_documents": QuerySpec(
        chunk_documents, _CHUNK_DOCS_SQL, "ext:text chunking"
    ),
    "dsir_weights": QuerySpec(
        dsir_weights,
        _DSIR_SQL,
        "ext:text DSIR-style hashed-bigram importance weights",
    ),
    "segment_dedup": QuerySpec(
        segment_dedup, _SEGMENT_DEDUP_SQL, "ext:text segment-level dedup"
    ),
}
