"""Distributed BPE tokenizer training + application (Sennrich et al.
2016) — the training-data pipeline's "train a subword vocab on the
corpus, then tokenize with it" verbs.

``bpe_merges`` learns the first N byte-pair merges from the corpus's
word-frequency table: each step counts adjacent symbol pairs (weighted
by word frequency, overlaps counted — Sennrich ``get_stats``), picks the
most frequent pair (ties broken lexicographically so both engines agree),
and rewrites every word by merging that pair LEFT-TO-RIGHT
non-overlapping (Sennrich ``merge_vocab``'s replace semantics).
``bpe_token_count`` reports the per-document token budget under the
learned vocab; ``bpe_encode`` emits the actual piece sequences (the
tokenizer-apply verb that feeds chunking/sharding).

Scale shape — THREE adaptive tiers, gated by measured size:

1. corpus under ``TOMIX_TFIDF_DRIVER_FOLD_DOCS``: the gate's door
   collects the docs, the whole loop runs on the driver (``_fold_train``);
2. corpus above, but the DISTINCT-WORD table after the one distributed
   word-count aggregate under ``TOMIX_BPE_LOCAL_WORDS``: collect
   (word, freq) — vocab-sized, corpus-sublinear by Heaps' law — and run
   the exact Sennrich loop on the driver. The N-merge iteration then
   costs zero further cluster jobs; at 50k probe docs this removes
   ~6 x 0.6 s of pure per-step stage floors (see ARCHITECTURE §R12);
3. both above (web-scale vocabularies): the fully distributed
   iteration. Each merge step is

* ONE job: a map-side-partial pair-count aggregate (the shuffle carries
  pair TYPES, never corpus text) fused with a 1-row argmax
  (``min(struct(-count, l, r))`` — partial min rides the same stage
  boundaries, so no separate TakeOrdered pass) collected to the driver
  (a scalar aggregate — the iterative-algorithm coordination pattern,
  same class as the CC round counter). Collect-once kills the two extra
  evaluations the previous crossJoin(broadcast(best)) shape paid: the
  broadcast leg and the final output-row union each re-ran the whole
  pair aggregate per step (round-11 verdict #3, lever a);
* ONE job: a PURE-CATALYST left-to-right merge — ``F.aggregate`` folds
  each word's symbol array with (out, pending) state, the chosen pairs
  riding as a broadcast 1-row MAP literal DataFrame (stable codegen
  across steps — see ``_merge_step``) — checkpointed
  (``stage_checkpoint``) so step k+1 reads materialized symbols instead
  of re-deriving k layers of folds.

``merges_per_round`` (library mode, round-11 verdict #3 lever b) batches
the top-m SYMBOL-DISJOINT pairs from one count into one fold pass —
standard distributed-BPE batching that cuts rounds ~m×. Disjointness
makes the one-pass application order-independent, but the learned merge
SEQUENCE can differ from strict sequential training (counts are not
re-measured between batched merges), so the REGISTERED queries pin
m=1 — exactly Sennrich — and m>1 is property-tested separately.

The DuckDB oracle REALLY trains the same merges: per step, a pair-count
CTE, the sentinel argmax, and a per-word RECURSIVE cursor CTE that walks
positions left-to-right applying the merge — unrolled N times by
``_bpe_oracle_sql`` (programmatically generated SQL; hand-maintaining N
copies would drift). Symbols start as codepoints (``[\\s\\S]`` — '.'
misses U+2028/29 in Java but not RE2, so the explicit class keeps the
engines aligned).

Reference parity: none — tokenizer training is part of the
training-pipeline extension surface (SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tomixpanel_spark.functions.text import SQL_WORDS, driver_tokens
from tomixpanel_spark.operators.base import (
    Gate,
    QuerySpec,
    ensure_parallel,
    local_rows_df,
    stage_checkpoint,
)
from tomixpanel_spark.operators.textops import TFIDF_BCAST_VOCAB, fold_corpus

N_MERGES = 6

# Distinct-word cap under which the Sennrich iteration runs on the driver
# over the distributed word-count's (word, freq) rows. 200k words x ~8
# syms is a few MB and a sub-second loop; web-scale corpora with 10M+
# distinct words take the distributed iteration.
BPE_LOCAL_WORDS = Gate("TOMIX_BPE_LOCAL_WORDS", 200_000)

_OUT_SCHEMA = (
    "step long, left string, right string, merged string, pair_count long"
)


def _pair_counts(words: DataFrame) -> DataFrame:
    from tomixpanel_spark.functions.text import adjacent_pairs

    return (
        words.select("freq", F.explode(adjacent_pairs(F.col("syms"))).alias("p"))
        .groupBy(F.col("p.l").alias("__l"), F.col("p.r").alias("__r"))
        .agg(F.sum("freq").alias("__c"))
    )


def _collect_top_pairs(words: DataFrame, m: int) -> list[tuple[str, str, int]]:
    """Count adjacent pairs and return the top-m SYMBOL-DISJOINT pairs by
    (count DESC, l, r), collected to the driver.

    m=1 (the registered configuration) is a pure scalar aggregate: the
    argmax is fused into the count job as ``min(struct(-c, l, r))`` —
    lexicographic struct ordering makes min() pick the highest count,
    then the lexicographically smallest (l, r), with map-side partial
    min, so the whole step is one aggregate job and one collected row.
    m>1 collects a bounded top-(3m) candidate slate and greedily keeps
    pairs sharing no symbol with an earlier kept pair. The slate bound
    does NOT guarantee m disjoint pairs (one hot symbol can conflict out
    arbitrarily many candidates) — but the slate's first pair is always
    kept, so every round makes progress, and a short round just leaves
    the remaining merges to the next re-count."""
    pairs = _pair_counts(words)
    if m == 1:
        row = pairs.agg(
            F.min(
                F.struct(
                    (-F.col("__c")).alias("nc"),
                    F.col("__l").alias("l"),
                    F.col("__r").alias("r"),
                )
            ).alias("m")
        ).first()["m"]
        if row is None:  # no adjacent pair anywhere (all words single-sym)
            return []
        return [(row["l"], row["r"], int(-row["nc"]))]
    slate = (
        pairs.orderBy(F.col("__c").desc(), "__l", "__r").limit(3 * m).collect()
    )
    kept: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for r in slate:
        if len(kept) == m:
            break
        if r["__l"] in used or r["__r"] in used:
            continue
        kept.append((r["__l"], r["__r"], int(r["__c"])))
        used.update((r["__l"], r["__r"]))
    return kept


def _merge_step(words: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Left-to-right non-overlapping merge of the chosen pair(s) in every
    word, as a Catalyst fold: state (out, pend); a merge consumes pend+x
    and clears pend so the merged token cannot chain within this step —
    exactly Sennrich's non-overlapping replace.

    The chosen pairs ride as a broadcast 1-row MAP (l -> r) literal
    DataFrame, NOT as baked-in literal expressions: literals would
    generate a DIFFERENT codegen unit per merge step (new constants =
    new generated source = a fresh janino compilation every step,
    measured ~2 s/step cold at the 50k probe), while the map-lookup form
    compiles ONCE and every step reuses it with the pair as data —
    and unlike the previous derived-aggregate broadcast, a literal df
    re-evaluates for free. Disjoint batched pairs (m>1) use the same
    expression; ``element_at`` on a missing key is NULL, so the merge
    condition is simply false for non-chosen symbols."""
    if not pairs:
        return words
    spark = words.sparkSession
    pair_df = local_rows_df(
        spark, [(dict((l, r) for l, r in pairs),)], schema="__pairs map<string,string>"
    )
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                F.element_at(F.col("__pairs"), acc["pend"]) == x,
                F.struct(
                    F.concat(acc["out"], F.array(F.concat(acc["pend"], x))).alias(
                        "out"
                    ),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    folded = F.aggregate(
        F.col("syms"),
        init,
        step,
        lambda acc: F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )
    return words.crossJoin(F.broadcast(pair_df)).select(
        "word", "freq", folded.alias("syms")
    )


def _sennrich_loop(wc: dict, n_merges: int):
    """The classic Sennrich training loop over a word -> frequency dict —
    dict counters, exact ties. Returns the merge rows AND the final
    word -> symbol-list vocab. Shared by the corpus-fold path (wc built
    on the driver) and the word-fold path (wc built by the DISTRIBUTED
    word-count aggregate, then collected under TOMIX_BPE_LOCAL_WORDS)."""
    from collections import Counter

    vocab = {w: list(w) for w in wc}
    rows = []
    for i in range(n_merges):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            f = wc[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (left, right), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0])
        )
        for w, syms in vocab.items():
            out: list = []
            pend = None
            for x in syms:
                if pend is None:
                    pend = x
                elif pend == left and x == right:
                    out.append(left + right)
                    pend = None
                else:
                    out.append(pend)
                    pend = x
            if pend is not None:
                out.append(pend)
            vocab[w] = out
        rows.append((i + 1, left, right, left + right, int(cnt)))
    return rows, vocab


def _fold_train(flat, n_merges: int):
    """Corpus-fold path (corpus under TOMIX_TFIDF_DRIVER_FOLD_DOCS): the
    Sennrich loop over the word counts of the driver token stream
    (``driver_tokens``' flat tokens, dictionary-encoded once). Returns
    the merge rows, the final word -> symbol-list vocab, and every
    token's final piece count — mapped through the dictionary, never
    per token in Python."""
    import numpy as np
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(flat)
    idx = enc.indices.to_numpy()
    words = enc.dictionary.to_pylist()
    freq = np.bincount(idx, minlength=len(words)).tolist()
    rows, vocab = _sennrich_loop(dict(zip(words, freq)), n_merges)
    k = np.array([len(vocab[w]) for w in words], dtype=np.int64)
    return rows, vocab, k[idx]


def _train_distributed(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int,
    need_final: bool,
    merges_per_round: int = 1,
):
    """The distributed training chain: returns (merge rows as plain
    tuples — the per-step argmax is COLLECTED, one scalar row per round
    — and the final words table after ALL merges, or None). The final
    fold is skipped when nothing consumes it (bpe_merges only reads the
    merge rows). Under TOMIX_BPE_LOCAL_WORDS the iteration itself runs
    on the driver over the distributed word-count's output (word-fold
    tier); the distributed per-step loop below is the above-cap path."""
    from tomixpanel_spark.functions.text import tokens

    words = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.expr(r"regexp_extract_all(word, '[\\s\\S]', 0)").alias("syms"),
        )
    )
    cur = stage_checkpoint(words)
    # WORD-FOLD gate (the second adaptive tier): the corpus was too big
    # to collect, but the DISTINCT-WORD table after the one distributed
    # aggregate is corpus-sublinear (Heaps' law) and usually tiny. Under
    # TOMIX_BPE_LOCAL_WORDS, collect (word, freq) — vocab-sized, the
    # same bounded-collect class as the tfidf driver fold — and run the
    # exact Sennrich loop on the driver: the N-merge iteration costs
    # ZERO further jobs instead of 2 jobs x N stage-floors. Above the
    # cap (true web-scale vocabularies), the distributed iteration below
    # runs unchanged. m>1 batching stays distributed — it exists to
    # measure the batched fold, not to win the toy sizes.
    if merges_per_round == 1:
        # ONE bounded probe job decides the tier AND (under the cap) IS
        # the collect (Gate.collect_or_none). The word-fold path never
        # re-reads `cur` after this, so the old count job existed only
        # to size the gate there. The DISTRIBUTED path still pays the
        # full count below: it doubles as the EAGER materialization of
        # the lazy localCheckpoint, without which every merge step
        # re-derives the corpus lineage (measured 26 s vs 6 s at the
        # 50k probe).
        probe = BPE_LOCAL_WORDS.collect_or_none(cur.select("word", "freq"))
        if probe is not None:
            wc = dict(zip(probe["word"].tolist(), probe["freq"].tolist()))
            rows, vocab = _sennrich_loop(wc, n_merges)
            final = None
            if need_final:
                final = local_rows_df(
                    spark,
                    [(w, int(wc[w]), syms) for w, syms in vocab.items()],
                    schema="word string, freq long, syms array<string>",
                )
            return rows, final
    cur.count()  # materialize the checkpoint before the merge loop re-reads
    rows: list[tuple] = []
    while len(rows) < n_merges:
        m = min(merges_per_round, n_merges - len(rows))
        top = _collect_top_pairs(cur, m)
        if not top:
            break
        for left, right, cnt in top:
            rows.append((len(rows) + 1, left, right, left + right, int(cnt)))
        if len(rows) < n_merges or need_final:
            cur = stage_checkpoint(
                _merge_step(cur, [(l, r) for l, r, _ in top])
            )
    return rows, (cur if need_final else None)


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        rows, _vocab, _k = _fold_train(driver_tokens(pdf["text"])[0], N_MERGES)
        return local_rows_df(spark, rows, schema=_OUT_SCHEMA)
    docs = ensure_parallel(docs, "doc_id")
    rows, _final = _train_distributed(spark, docs, N_MERGES, need_final=False)
    return local_rows_df(spark, rows, schema=_OUT_SCHEMA)


def _distributed_vocab(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """Final word -> syms table after N_MERGES, broadcast when under the
    shared vocab gate (TOMIX_TFIDF_BCAST_VOCAB) and pinned as the
    shuffle-hash build side above it: unhinted, Catalyst sizes the
    checkpointed vocab like the exploded document words and broadcasts
    the words instead.

    The memo key is sf_dir — NOT id(docs): object ids never repeat
    across calls with caching off (an extra count job per call), and
    CPython address reuse could serve a stale count for a DIFFERENT
    sf_dir's docs in the same app (scale_probe runs several probe dirs
    per session), mis-gating the broadcast decision."""
    _rows, final = _train_distributed(spark, docs, N_MERGES, need_final=True)
    return TFIDF_BCAST_VOCAB.join_sides((sf_dir, "bpe_vocab"), final, final)


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The accounting side of BPE training: per-document subword token
    budget under the learned merges — (doc_id, n_words, n_bpe_tokens).
    The practical verb ("how many tokens is my corpus under this vocab")
    that every training-data pipeline runs after training.

    Distributed: the per-word final symbol count is a VOCAB-sized table
    (Heaps' law keeps it corpus-sublinear), broadcast to the exploded
    document words while under ``TOMIX_TFIDF_BCAST_VOCAB`` (the shared
    vocab-broadcast gate; shuffle join above), then one map-side-partial
    per-doc aggregate. Docs with no tokens emit (0, 0) — accounting must
    cover every document."""
    from tomixpanel_spark.functions.text import tokens

    docs, pdf = fold_corpus(spark, sf_dir)
    schema = "doc_id long, n_words long, n_bpe_tokens long"
    if pdf is not None:
        import numpy as np

        flat, doc = driver_tokens(pdf["text"])
        _rows, _vocab, k = _fold_train(flat, N_MERGES)
        n = len(pdf)
        out = pdf[["doc_id"]].assign(
            n_words=np.bincount(doc, minlength=n),
            n_bpe_tokens=np.bincount(doc, weights=k, minlength=n).astype(np.int64),
        )
        return local_rows_df(spark, out, schema=schema)
    docs = ensure_parallel(docs, "doc_id")
    wl = _distributed_vocab(spark, sf_dir, docs).select(
        "word", F.size("syms").cast("bigint").alias("k")
    )
    doc_words = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    per_doc = (
        doc_words.join(wl, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("k").alias("n_bpe"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_bpe", F.lit(0)).cast("bigint").alias("n_bpe_tokens"),
        )
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-APPLY verb (round-11 verdict #4): per document, the
    actual BPE piece sequence under the learned merges, one row per
    piece — (doc_id, piece_idx BIGINT, piece STRING), piece_idx the
    0-based position in the document's full piece stream (document word
    order, each word's symbols left-to-right). This is what feeds
    chunk_documents / balanced_shards when sharding by real subword
    budgets instead of whitespace token counts. Scalar columns only:
    the driver's pandas canonicalization cannot hash array cells
    (round-12 verdict #1), and the exploded shape is the natural
    tokenizer-dump layout anyway. Docs with no tokens emit zero rows.

    Emission is ALWAYS distributed (both vocab tiers): tokenize-with-
    position (posexplode), equi-join the vocab's final word -> syms
    table (driver-trained + broadcast under the fold cap; distributed
    train above it, broadcast under the shared vocab gate), then a
    running-offset window (sum of piece counts over preceding words,
    same doc_id exchange the old per-doc aggregate paid) and a second
    posexplode of each word's syms — piece_idx = word offset +
    within-word position. No per-document array is ever materialized
    (a book-length document costs O(1) state, not one collect_list
    buffer holding its whole piece stream), and no corpus-sized row
    list ever crosses the driver boundary (a driver-built piece list
    measured 3+ s of createDataFrame serialization at sf0.1)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import posexplode

    from tomixpanel_spark.functions.text import tokens

    docs, pdf = fold_corpus(spark, sf_dir)
    docs = ensure_parallel(docs, "doc_id")
    if pdf is not None:
        # fold tier trains on the driver but EMITS distributed: the
        # output is corpus-sized (one row per piece — ~1M rows at
        # sf0.1), and createDataFrame over a driver-built piece list
        # measured 3+ s of row serialization alone. Only the VOCAB
        # (Heaps-sublinear) crosses the driver boundary.
        _rows, vocab, _k = _fold_train(driver_tokens(pdf["text"])[0], N_MERGES)
        wl = F.broadcast(
            local_rows_df(
                spark,
                [(w, syms) for w, syms in vocab.items()],
                schema="word string, syms array<string>",
            )
        )
    else:
        wl = _distributed_vocab(spark, sf_dir, docs)
    doc_words = docs.select(
        "doc_id", posexplode(tokens("text")).alias("pos", "word")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    offs = (
        doc_words.join(wl, "word")
        .select("doc_id", "pos", "syms", F.size("syms").alias("k"))
        .withColumn("off", F.sum("k").over(w) - F.col("k"))
    )
    return offs.select(
        "doc_id", "off", posexplode("syms").alias("i", "piece")
    ).select(
        "doc_id",
        (F.col("off") + F.col("i")).cast("bigint").alias("piece_idx"),
        "piece",
    )


CHUNK_BPE_BUDGET = 60  # max BPE pieces per chunk (greedy word packing)


def _pack_words(ws, budget: int):
    """Greedy word-boundary packing by BPE budget (driver mirror of the
    Catalyst fold): ws = [(word, k)] in document order -> list of
    (chunk_text, chunk_words, chunk_bpe). A word never splits; a chunk
    closes when adding the next word would exceed the budget (a single
    over-budget word still gets its own chunk)."""
    chunks = []
    cur: list = []
    run = 0
    for w, k in ws:
        if run + k > budget and run > 0:
            chunks.append((" ".join(x for x, _ in cur), len(cur),
                           sum(x for _, x in cur)))
            cur, run = [], 0
        cur.append((w, k))
        run += k
    if cur:
        chunks.append((" ".join(x for x, _ in cur), len(cur),
                       sum(x for _, x in cur)))
    return chunks


def chunk_by_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking by REAL subword budget (round-11 verdict #4's wiring):
    split each document into chunks of at most CHUNK_BPE_BUDGET BPE
    pieces under the learned merges, greedily at word boundaries — the
    packing a training pipeline runs so sequences fit a context window
    measured in ACTUAL tokenizer tokens, not whitespace words (which
    ``chunk_documents`` counts). Output: (doc_id, chunk_idx, chunk_text,
    chunk_words, chunk_bpe).

    Scale shape (distributed): per-word piece counts come from the
    vocab-sized final-merge table (broadcast under the shared gate);
    the greedy pack runs as ONE Catalyst fold per document over word
    indices, carrying only the chunk-START list + running budget
    (chunks-sized state), and assembly slices each chunk out of the
    pos-ordered (word, k) array — O(words) total per document, no
    second shuffle: the only exchange is the per-doc collect_list."""
    from pyspark.sql.functions import posexplode

    from tomixpanel_spark.functions.text import tokens

    out_schema = (
        "doc_id long, chunk_idx long, chunk_text string, "
        "chunk_words long, chunk_bpe long"
    )
    docs, pdf = fold_corpus(spark, sf_dir)
    if pdf is not None:
        import numpy as np

        flat, doc = driver_tokens(pdf["text"])
        _rows, _vocab, k = _fold_train(flat, N_MERGES)
        words, ks = flat.to_pylist(), k.tolist()
        ends = np.cumsum(np.bincount(doc, minlength=len(pdf))).tolist()
        out = []
        start = 0
        for doc_id, end in zip(pdf["doc_id"].tolist(), ends):
            ws = zip(words[start:end], ks[start:end])
            for ci, (text, nw, nb) in enumerate(_pack_words(ws, CHUNK_BPE_BUDGET)):
                out.append((doc_id, ci, text, nw, nb))
            start = end
        return local_rows_df(spark, out, schema=out_schema)
    docs = ensure_parallel(docs, "doc_id")
    wl = _distributed_vocab(spark, sf_dir, docs).select(
        "word", F.size("syms").cast("bigint").alias("k")
    )
    dw = docs.select(
        "doc_id", posexplode(tokens("text")).alias("pos", "word")
    ).join(wl, "word")
    arr = dw.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "word", "k"))).alias("ws")
    )
    # Greedy pack + assembly, LINEAR in the word count (round-12 verdict
    # #5): the fold walks word indices carrying only (chunk-start list,
    # running budget) — state is CHUNKS-sized, so the array-append copy
    # cost is O(chunks^2) tiny, never O(words^2) (the old fold appended
    # a per-WORD struct each step, copying the whole accumulator — ~30GB
    # of memcpy for one 50k-word document). Assembly then cuts each
    # chunk straight out of the sorted word array with F.slice; slice
    # lengths sum to the word count (the old form re-filtered the full
    # array once per chunk id — O(words x chunks)).
    budget = F.lit(CHUNK_BPE_BUDGET).cast("bigint")
    init = F.struct(
        F.array(F.lit(1)).alias("starts"),
        F.lit(0).cast("bigint").alias("run"),
    )

    def step(acc, i):
        k_i = F.element_at(F.col("ws"), i)["k"]
        new_chunk = (acc["run"] + k_i > budget) & (acc["run"] > 0)
        return F.struct(
            F.when(
                new_chunk, F.concat(acc["starts"], F.array(i))
            ).otherwise(acc["starts"]).alias("starts"),
            F.when(new_chunk, k_i).otherwise(acc["run"] + k_i).alias("run"),
        )

    starts_col = F.aggregate(
        F.sequence(F.lit(1), F.size(F.col("ws"))),
        init,
        step,
        lambda a: a["starts"],
    )
    bounded = arr.select(
        "doc_id", "ws", F.size("ws").alias("nw"), starts_col.alias("starts")
    )
    ns = F.size(F.col("starts"))

    def chunk_at(s, j):
        end = F.when(
            j < ns - 1, F.element_at(F.col("starts"), j + 2)
        ).otherwise(F.col("nw") + 1)
        members = F.slice(F.col("ws"), s, end - s)
        return F.struct(
            F.array_join(
                F.transform(members, lambda x: x["word"]), " "
            ).alias("chunk_text"),
            F.size(members).cast("bigint").alias("chunk_words"),
            F.aggregate(
                members, F.lit(0).cast("bigint"), lambda a, x: a + x["k"]
            ).alias("chunk_bpe"),
        )

    chunks = F.transform(F.col("starts"), chunk_at)
    return bounded.select("doc_id", F.posexplode(chunks)).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("chunk_idx"),
        F.col("col.chunk_text").alias("chunk_text"),
        F.col("col.chunk_words").alias("chunk_words"),
        F.col("col.chunk_bpe").alias("chunk_bpe"),
    )


def _bpe_oracle_sql(n_merges: int = N_MERGES, emit: str = "merges") -> str:
    """Programmatically unrolled DuckDB mirror: per step a pair-count
    CTE, the sentinel argmax, and a per-word recursive position-cursor
    CTE applying the left-to-right merge. ``emit='merges'`` yields the
    training table; ``emit='doc_counts'`` applies the final vocab to
    every document (bpe_token_count's oracle); ``emit='pieces'`` emits
    the per-document piece sequences (bpe_encode's oracle);
    ``emit='chunks'`` greedily packs words into CHUNK_BPE_BUDGET-piece
    chunks via a per-document recursive position cursor (chunk_by_bpe's
    oracle)."""
    parts = [
        "WITH RECURSIVE words0 AS MATERIALIZED (",
        "  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,",
        "         regexp_extract_all(word, '[\\s\\S]') AS syms",
        f"  FROM (SELECT unnest({SQL_WORDS}) AS word FROM documents)",
        "  GROUP BY word)",
    ]
    for i in range(1, n_merges + 1):
        p = f""", pairs{i} AS MATERIALIZED (
  SELECT syms[j] AS l, syms[j + 1] AS r, CAST(SUM(freq) AS BIGINT) AS c
  FROM words{i - 1}, UNNEST(range(1, len(syms))) AS t(j)
  GROUP BY 1, 2),
best{i} AS MATERIALIZED (
  SELECT l, r, c FROM (
    SELECT l, r, c FROM pairs{i}
    UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
  ORDER BY c DESC, l, r LIMIT 1),
walk{i}(word, freq, pos, out) AS (
  SELECT word, freq, 1, CAST([] AS VARCHAR[]) FROM words{i - 1}
  UNION ALL
  SELECT k.word, k.freq,
    CASE WHEN k.pos < len(w.syms) AND w.syms[k.pos] = b.l
              AND w.syms[k.pos + 1] = b.r
         THEN k.pos + 2 ELSE k.pos + 1 END,
    CASE WHEN k.pos < len(w.syms) AND w.syms[k.pos] = b.l
              AND w.syms[k.pos + 1] = b.r
         THEN list_append(k.out, b.l || b.r)
         ELSE list_append(k.out, w.syms[k.pos]) END
  FROM walk{i} k
  JOIN words{i - 1} w ON k.word = w.word
  CROSS JOIN best{i} b
  WHERE k.pos <= len(w.syms)),
words{i} AS MATERIALIZED (
  SELECT k.word, k.freq, k.out AS syms
  FROM walk{i} k JOIN words{i - 1} w ON k.word = w.word
  WHERE k.pos > len(w.syms))"""
        parts.append(p)
    if emit in ("doc_counts", "pieces", "chunks"):
        parts.append(f""", docw AS MATERIALIZED (
  SELECT doc_id, j AS pos, words[j] AS word
  FROM (SELECT doc_id, {SQL_WORDS} AS words FROM documents),
       UNNEST(range(1, len(words) + 1)) AS t(j))""")
    if emit == "doc_counts":
        parts.append(f""", perdoc AS MATERIALIZED (
  SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(f.syms)) AS BIGINT) AS n_bpe
  FROM docw dw JOIN words{n_merges} f ON dw.word = f.word
  GROUP BY 1)
SELECT d.doc_id,
  CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
  CAST(COALESCE(p.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""")
        return "\n".join(parts)
    if emit == "chunks":
        parts.append(f""", wk AS MATERIALIZED (
  SELECT dw.doc_id, dw.pos, dw.word, CAST(len(f.syms) AS BIGINT) AS k
  FROM docw dw JOIN words{n_merges} f ON dw.word = f.word),
pack(doc_id, pos, cid, run) AS (
  SELECT doc_id, pos, CAST(0 AS BIGINT), k FROM wk WHERE pos = 1
  UNION ALL
  SELECT w.doc_id, w.pos,
    CASE WHEN p.run + w.k > {CHUNK_BPE_BUDGET} THEN p.cid + 1 ELSE p.cid END,
    CASE WHEN p.run + w.k > {CHUNK_BPE_BUDGET} THEN w.k ELSE p.run + w.k END
  FROM pack p JOIN wk w ON w.doc_id = p.doc_id AND w.pos = p.pos + 1),
packm AS MATERIALIZED (SELECT * FROM pack)
SELECT p.doc_id, CAST(p.cid AS BIGINT) AS chunk_idx,
  string_agg(w.word, ' ' ORDER BY p.pos) AS chunk_text,
  CAST(COUNT(*) AS BIGINT) AS chunk_words,
  CAST(SUM(w.k) AS BIGINT) AS chunk_bpe
FROM packm p JOIN wk w ON w.doc_id = p.doc_id AND w.pos = p.pos
GROUP BY 1, 2""")
        return "\n".join(parts)
    if emit == "pieces":
        parts.append(f""", perdoc AS MATERIALIZED (
  SELECT dw.doc_id, flatten(list(f.syms ORDER BY dw.pos)) AS pieces
  FROM docw dw JOIN words{n_merges} f ON dw.word = f.word
  GROUP BY 1)
SELECT p.doc_id, CAST(j - 1 AS BIGINT) AS piece_idx, p.pieces[j] AS piece
FROM perdoc p, UNNEST(range(1, len(p.pieces) + 1)) AS t(j)""")
        return "\n".join(parts)
    selects = [
        f"SELECT CAST({i} AS BIGINT) AS step, l AS left, r AS right,"
        f" l || r AS merged, c AS pair_count FROM best{i}"
        for i in range(1, n_merges + 1)
    ]
    parts.append(
        "SELECT * FROM (" + " UNION ALL ".join(selects) + ") WHERE pair_count > 0"
    )
    return "\n".join(parts)


# Helper modules whose changes should count as a change to this
# module's registered queries for the external-window rotation
# (rule: code changed since last external green outranks staleness).
ROTATION_DEPS = [
    "tomixpanel_spark.functions.text",
    "tomixpanel_spark.operators.textops",
]

REGISTRY = {
    "bpe_merges": QuerySpec(
        bpe_merges,
        _bpe_oracle_sql(),
        "ext:text distributed BPE tokenizer-merge training",
    ),
    "bpe_token_count": QuerySpec(
        bpe_token_count,
        _bpe_oracle_sql(emit="doc_counts"),
        "ext:text BPE-vocab token budget per document",
    ),
    "bpe_encode": QuerySpec(
        bpe_encode,
        _bpe_oracle_sql(emit="pieces"),
        "ext:text BPE tokenizer apply — per-document piece sequences",
    ),
    "chunk_by_bpe": QuerySpec(
        chunk_by_bpe,
        _bpe_oracle_sql(emit="chunks"),
        "ext:text greedy word packing into BPE-budget chunks",
    ),
}
