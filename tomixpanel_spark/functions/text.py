"""Text-analysis column functions for the training-data-pipeline extensions,
and the ONE owner of the declared tokenizer spec for all three engines:
fold ``WHITESPACE_CHARS`` to ' ', split on the literal space, drop empty
tokens. Each engine has exactly one implementation, and every consumer
calls it:

* JVM — ``tokens()``, a Catalyst Column;
* DuckDB — ``SQL_NORM`` / ``SQL_WORDS``, interpolated by every oracle;
* driver — ``driver_tokens()``, vectorized pyarrow kernels shared by the
  driver folds and the ``tokenize_tf`` batch body.

The Column functions are pure Catalyst expressions (split / transform /
aggregate / higher-order functions) — no Python in the hot path, so these
run inside whole-stage codegen and scale linearly with executors.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic English stopword list for the language-ID heuristic and
# quality scoring. Kept deliberately small + pinned: the oracle SQL mirrors
# it verbatim.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


# ASCII whitespace the tokenizer folds to ' ' before splitting.
WHITESPACE_CHARS = "\t\n\r\x0b\x0c"

# The DuckDB spelling of the spec over the column `text`; oracles interpolate it.
SQL_NORM = (
    "translate(text, "
    + "||".join(f"chr({ord(c)})" for c in WHITESPACE_CHARS)
    + f", '{' ' * len(WHITESPACE_CHARS)}')"
)
SQL_WORDS = f"list_filter(string_split({SQL_NORM}, ' '), t -> t <> '')"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; drops empty tokens from repeated separators.

    The JVM implementation of the module's spec: fold ASCII whitespace
    (tab/LF/CR/VT/FF) to ' ' with ``translate`` — a branch-free char map,
    no regex engine in the hot path — then split on the literal single
    space and filter empties. ``SQL_WORDS`` is the identical
    ``translate`` + ``string_split`` pipeline, so multi-line corpora
    tokenize correctly in every engine rather than the engine being bent
    to a single-space oracle (round-7 advice).

    The by-name form memoizes: the returned Column is a constant
    unresolved tree over the column name (the ga.py lru_cache pattern),
    and rebuilding it is ~45 ms of py4j round-trips paid by every
    text-family plan build."""
    if isinstance(text, str):
        return _tokens_by_name(text)
    return _tokens_col(text)


@lru_cache(maxsize=8)
def _tokens_by_name(name: str) -> Column:
    return _tokens_col(F.col(name))


def _tokens_col(c: Column) -> Column:
    return F.filter(
        F.split(F.translate(c, WHITESPACE_CHARS, " " * len(WHITESPACE_CHARS)), " "),
        lambda t: t != "",
    )


def driver_tokens(texts):
    """The spec on the driver, entirely in pyarrow C++ kernels:
    ``texts`` (a pandas Series or any sequence pyarrow reads; nulls
    tokenize to nothing) -> (flat string array of every token in document
    order, int64 numpy array of each token's 0-based document index).
    Consumers map per-token values through the dictionary
    (``pc.dictionary_encode(flat)``, then ``values[enc.indices]``) and
    per-document values through ``bincount`` of the index — never per
    token in Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pc.fill_null(pa.array(texts, type=pa.string(), from_pandas=True), "")
    for ch in WHITESPACE_CHARS:
        arr = pc.replace_substring(arr, ch, " ")
    toks = pc.split_pattern(arr, " ")
    flat = pc.list_flatten(toks)
    mask = pc.not_equal(flat, "")
    doc = pc.filter(pc.list_parent_indices(toks), mask)
    return pc.filter(flat, mask), doc.to_numpy()


def adjacent_pairs(arr: Column, left: str = "l", right: str = "r") -> Column:
    """All adjacent (left, right) STRUCT pairs of a string-array column,
    with repeats; empty array for inputs shorter than 2. The shared
    adjacency expression behind bigram-LM scoring and BPE pair counting
    — the n>=2 guard, the empty-array cast, and the 1-based slice
    offsets live in exactly one place."""
    n = F.size(arr)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(arr, F.lit(1), n - 1),
            F.slice(arr, F.lit(2), n - 1),
            lambda a, b: F.struct(a.alias(left), b.alias(right)),
        ),
    ).otherwise(F.array().cast(f"array<struct<{left}:string,{right}:string>>"))


def bigrams(words: Column) -> Column:
    """All adjacent word bigrams ('w1 w2' strings) from a MATERIALIZED token
    array column, with repeats (repetition measurement needs multiplicity,
    unlike the dedup shingles' array_distinct). Takes the array, not raw text: a
    transform(idx, element_at(tokens(text), i)) formulation re-runs the
    regex split per element — quadratic per document. zip_with over two
    slices is linear. Empty array for docs shorter than 2 tokens."""
    n = F.size(words)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, F.lit(1), n - 1),
            F.slice(words, F.lit(2), n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def stopword_count(text: Column | str) -> Column:
    """Number of tokens that are pinned stopwords."""
    return F.size(F.filter(tokens(text), lambda t: F.lower(t).isin(*STOPWORDS)))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Quality-scoring features: lengths and ratios, all double-typed.

    Ratios are computed in double with explicit casts so the DuckDB oracle
    (same formula) is bit-comparable.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    n_stop = stopword_count(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return {
        "n_tokens": n_tok.cast("bigint"),
        "n_chars": n_chars.cast("bigint"),
        "avg_token_len": (
            (n_chars - n_tok + 1).cast("double") / n_tok.cast("double")
        ),
        "stopword_ratio": n_stop.cast("double") / n_tok.cast("double"),
        "punct_ratio": n_punct.cast("double") / n_chars.cast("double"),
    }


def lang_guess(text: Column | str) -> Column:
    """Heuristic language ID: stopword-hit ratio over the pinned list.

    >= 2 stopword hits in the first 40 tokens => 'en', else 'unknown'.
    (The fixture corpus is synthetic; the point is the operator shape —
    a deterministic n-gram/stopword heuristic that the oracle can mirror.)
    """
    c = F.col(text) if isinstance(text, str) else text
    head = F.slice(tokens(c), 1, 40)
    hits = F.size(F.filter(head, lambda t: F.lower(t).isin(*STOPWORDS)))
    return F.when(hits >= 2, F.lit("en")).otherwise(F.lit("unknown"))


# PII patterns pinned to the Java-regex / RE2 common subset (no lookaround,
# no backreferences) so Spark and the DuckDB oracle match identically.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\b555-\d{4}\b"
# Replacement order matters (email strips its host before the IP pass ever
# sees dotted digits); both engines apply the same fixed order.
PII_PASSES = (
    (PII_EMAIL, "<EMAIL>"),
    (PII_IPV4, "<IP>"),
    (PII_PHONE, "<PHONE>"),
)


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-category PII match counts (pre-redaction)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        "n_emails": F.regexp_count(c, F.lit(PII_EMAIL)).cast("bigint"),
        "n_ips": F.regexp_count(c, F.lit(PII_IPV4)).cast("bigint"),
        "n_phones": F.regexp_count(c, F.lit(PII_PHONE)).cast("bigint"),
    }


def pii_scrub(text: Column | str) -> Column:
    """Redact all PII categories in the pinned pass order."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, token in PII_PASSES:
        c = F.regexp_replace(c, pat, token)
    return c


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of case/whitespace-normalized text.

    Rolling-hash-equivalent canonical fingerprint used by exact dedup;
    whitespace runs collapse to single spaces, case-folded, trimmed.
    Memoized by column name (constant unresolved tree, see tokens)."""
    if isinstance(text, str):
        return _fingerprint_by_name(text)
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


@lru_cache(maxsize=8)
def _fingerprint_by_name(name: str) -> Column:
    return F.md5(F.trim(F.regexp_replace(F.lower(F.col(name)), r"\s+", " ")))
