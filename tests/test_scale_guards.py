"""Scale-guard regressions: the dedup candidate generators must stay
BOUNDED on a degenerate boilerplate corpus (thousands of near-identical
docs) — the shape that turns uncapped pair generation quadratic. 20k docs
with a 5k-doc boilerplate cluster: uncapped, that cluster alone is
~12.5M candidate pairs; the caps must keep both paths small and fast.
The caps' own boundary (at and one below the largest postings list) is
checked on the SF_SMALL fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

N_BOILER = 5_000
N_DISTINCT = 15_000


def _corpus(spark):
    boiler = spark.range(N_BOILER).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "subscribe to our newsletter for updates terms of service apply "
            "all rights reserved contact support for help"
        ).alias("text"),
    )
    distinct = spark.range(N_BOILER, N_BOILER + N_DISTINCT).select(
        F.col("id").alias("doc_id"),
        F.format_string(
            "document %d unique alpha%d beta%d gamma%d delta%d epsilon%d body",
            "id", "id", F.pmod("id", F.lit(97)), F.pmod("id", F.lit(89)),
            F.pmod("id", F.lit(83)), F.pmod("id", F.lit(79)),
        ).alias("text"),
    )
    return boiler.unionByName(distinct)


class TestDegenerateCorpusBounds:
    def test_df_cap_bounds_hot_shingle_blowup(self, spark):
        from tomixpanel_spark.operators.dedup import near_dup_pairs

        pairs = near_dup_pairs(_corpus(spark), df_cap=100)
        n = pairs.count()
        # every boilerplate shingle is in 5k docs > cap: its postings are
        # dropped, so the quadratic cluster contributes nothing; distinct
        # docs share only sub-threshold overlap
        assert n < 1_000, f"df_cap failed to bound candidate pairs: {n}"

    def test_band_cap_bounds_hot_band_blowup(self, spark):
        from tomixpanel_spark.operators.dedup import (
            lsh_pairs_from_signatures,
            minhash_columns,
            shingle_arrays_for,
        )

        sig = shingle_arrays_for(_corpus(spark)).select("doc_id", *minhash_columns())
        pairs = lsh_pairs_from_signatures(sig, band_cap=100)
        n = pairs.count()
        # identical signatures put all 5k boilerplate docs in the same
        # band -> group size 5000 > cap -> dropped wholesale
        assert n < 1_000, f"band_cap failed to bound candidate pairs: {n}"

    def test_capped_pipeline_still_finds_real_neardups(self, spark):
        """The caps must not blind the pipeline to ORDINARY near-dups:
        plant 50 mutated copies of distinct docs and require the capped
        LSH pipeline to drop them while keeping everything else."""
        from tomixpanel_spark.operators.dedup import dedup_pipeline

        base = _corpus(spark)
        mutated = (
            base.filter((F.col("doc_id") >= N_BOILER) & (F.col("doc_id") < N_BOILER + 50))
            .select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat("text", F.lit(" tail")).alias("text"),
            )
        )
        out = dedup_pipeline(
            base.unionByName(mutated),
            candidate_source="lsh",
            band_cap=100,
            threshold=0.5,
        )
        try:
            keep = out["keep_list"]
            n_total = N_BOILER + N_DISTINCT + 50
            kept = keep.count()
            dropped_mutants = (
                out["pairs"].filter(F.col("doc_b") >= 1_000_000).select("doc_b").distinct().count()
            )
            # most mutated copies detected (banding is probabilistic but
            # these pairs share nearly all shingles) and nothing else lost
            assert dropped_mutants >= 40, f"only {dropped_mutants} mutants caught"
            assert kept == n_total - dropped_mutants
        finally:
            out["pairs"].unpersist()


CAP_CALLERS = ("near_dup_pairs", "containment_pairs", "lsh_pairs_from_signatures")


def _capped_pairs(spark, caller, cap):
    """{pair: score} of one cap caller at SF_SMALL (LSH pairs carry no
    score): the Jaccard and containment verbs cap shingle postings
    (``df_cap``), LSH caps band postings and SimHash distinct-signature
    band buckets (``band_cap``)."""
    from tests.conftest import SF_SMALL
    from tomixpanel_spark.operators import dedup as dd
    from tomixpanel_spark.operators.base import table

    if caller == "near_dup_pairs":
        rows = dd.near_dup_pairs(table(spark, SF_SMALL, "documents"), df_cap=cap)
    elif caller == "containment_pairs":
        rows = dd.containment_pairs(spark, SF_SMALL, df_cap=cap)
    elif caller == "simhash_pairs":
        rows = dd.simhash_pairs(spark, SF_SMALL, band_cap=cap)
    else:
        sig = dd.minhash_signature(spark, SF_SMALL)
        rows = dd.lsh_pairs_from_signatures(sig, band_cap=cap)
    return {(r[0], r[1]): (r[2] if len(r) > 2 else None) for r in rows.collect()}


def _largest_postings_list(spark, caller):
    """Members of the largest postings list the caller's cap acts on,
    counted independently of the kernel: docs per shingle, or docs per
    band (a band is one run of consecutive minhashes)."""
    from tests.conftest import SF_SMALL
    from tomixpanel_spark.operators import dedup as dd
    from tomixpanel_spark.operators.base import table

    if caller == "lsh_pairs_from_signatures":
        sig = dd.minhash_signature(spark, SF_SMALL)
        per = dd.N_MINHASH // dd.N_BANDS
        groups = [
            sig.groupBy(*[f"mh{b * per + k}" for k in range(per)])
            for b in range(dd.N_BANDS)
        ]
    else:
        sa = dd.shingle_arrays_for(table(spark, SF_SMALL, "documents"))
        groups = [sa.select(F.explode("sh_arr").alias("sh")).groupBy("sh")]
    return max(g.count().agg(F.max("count")).first()[0] for g in groups)


class TestCapBoundaries:
    """Each cap drops postings lists LONGER than the cap from candidate
    generation only. A cap equal to the largest list drops nothing; one
    below drops that list, so the Jaccard and LSH rows are a subset of
    the uncapped rows, and containment, which scores over the capped
    lists without re-verifying, keeps a subset of the pairs with scores
    that can only fall."""

    @pytest.mark.parametrize("caller", CAP_CALLERS)
    def test_cap_at_and_below_the_largest_list(self, spark, caller):
        largest = _largest_postings_list(spark, caller)
        assert largest > 2, "fixture has no postings list a cap can drop"
        uncapped = _capped_pairs(spark, caller, None)
        assert uncapped
        assert _capped_pairs(spark, caller, largest) == uncapped
        for cap in (largest - 1, 2):
            below = _capped_pairs(spark, caller, cap)
            if caller == "containment_pairs":
                assert below.keys() <= uncapped.keys()
                assert all(below[k] <= uncapped[k] for k in below)
            else:
                assert below.items() <= uncapped.items()

    @pytest.mark.parametrize("caller", (*CAP_CALLERS, "simhash_pairs"))
    def test_non_numeric_cap_raises_before_sql(self, spark, caller, monkeypatch):
        """The cap is formatted into SQL text through ``int()``: a cap
        that is not a number raises before the kernel builds any text
        (for SimHash, before its eager cluster checkpoint job)."""
        from tomixpanel_spark.operators import dedup as dd

        def built(*args, **kwargs):
            raise AssertionError("SQL text built for a non-numeric cap")

        monkeypatch.setattr(dd, "_pairs_expr", built)
        with pytest.raises(ValueError, match="invalid literal for int"):
            _capped_pairs(spark, caller, "1; DROP TABLE documents")


class TestCapBoundariesDistributed(TestCapBoundaries):
    """The same cap checks on the Spark SQL chain: the Jaccard and
    containment verbs fold on the driver under
    ``TOMIX_TFIDF_DRIVER_FOLD_DOCS``, so the inherited cases cover the
    fold and these, with the gate at 0, the distributed tier."""

    @pytest.fixture(autouse=True)
    def _distributed(self, monkeypatch):
        monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")


class TestBenchHeadline:
    """The harness recording BENCH_r{N}.json keeps only a 2000-char stdout
    tail and parses its LAST line; bench.py's compact headline must always
    fit (r4-r7 recorded parsed:null after the verbose line outgrew it)."""

    def test_compact_headline_fits_current_registry(self):
        import json

        from bench import compact_headline
        from tomixpanel_spark.operators import registry

        timings = {name: 9.8765 for name in registry()}  # worst-case widths
        line = compact_headline(timings, 0.1, 32, "best_of_3_both_engines")
        assert len(line) <= 1900
        parsed = json.loads(line)
        assert parsed["metric"] == "total_query_seconds"
        assert parsed["unit"] == "sec"
        assert parsed["n_queries"] == len(timings)
        covered = len(parsed["queries"]) + parsed.get("fast_n", 0)
        assert covered == len(timings)
        total = sum(parsed["queries"].values()) + parsed.get("fast_sum", 0.0)
        assert abs(total - parsed["value"]) < 0.01 * len(timings)

    def test_compact_headline_folds_when_huge(self):
        import json

        from bench import compact_headline

        timings = {f"query_with_a_rather_long_name_{i:03d}": 0.123 for i in range(400)}
        line = compact_headline(timings, 0.1, 32, "best_of_3_both_engines")
        assert len(line) <= 1900
        parsed = json.loads(line)
        assert parsed["fast_n"] > 0
        assert parsed["n_queries"] == 400


class TestEmptyInputs:
    def test_previously_crashing_queries_handle_zero_rows(self, spark, tmp_path):
        """Zero-row tables must produce empty results (or a documented
        ValueError for training ops), never analysis/axis crashes:
        the streaming slice bound is typed (min(ts) NULL + INTERVAL) and
        the embedding ops early-out on an empty query set (round 10)."""
        import duckdb

        from tomixpanel_spark.operators import registry

        con = duckdb.connect()
        d = str(tmp_path)
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(
                f"COPY (SELECT * FROM read_parquet("
                f"'/root/testdata/sf0.001/{t}.parquet') LIMIT 0) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        reg = registry()
        for name in (
            "cosine_topk", "cosine_topk_partitioned", "embedding_decontam",
            "ann_lsh", "cagg_store_read", "streaming_cagg_parity",
            # driver-fold tier (default gates) on an empty corpus
            "substring_dup_stats", "substring_dup_spans",
            "substring_dedup_clean", "bpe_merges", "bpe_token_count",
            "chunk_by_bpe", "bigram_lm_score",
        ):
            out = reg[name].fn(spark, d).toPandas()
            assert len(out) == 0, (name, out)

    def test_all_null_text_and_embeddings_handled(self, spark, tmp_path):
        """All-NULL text/embedding columns must behave like the oracle
        (NULL rows contribute nothing): empty results or the documented
        training ValueError — never numpy Axis/Index crashes."""
        import duckdb
        import pytest

        from tomixpanel_spark.operators import registry

        con = duckdb.connect()
        d = str(tmp_path)
        for t in ("region nation customer supplier part orders "
                  "lineitem events").split():
            con.execute(
                f"COPY (SELECT * FROM read_parquet("
                f"'/root/testdata/sf0.001/{t}.parquet')) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        con.execute(
            f"COPY (SELECT doc_id, CAST(NULL AS VARCHAR) AS text, lang, "
            f"source, n_chars FROM read_parquet("
            f"'/root/testdata/sf0.001/documents.parquet')) "
            f"TO '{d}/documents.parquet' (FORMAT PARQUET)"
        )
        con.execute(
            f"COPY (SELECT * REPLACE (CAST(NULL AS DOUBLE[]) AS embedding) "
            f"FROM read_parquet('/root/testdata/sf0.001/embeddings.parquet')) "
            f"TO '{d}/embeddings.parquet' (FORMAT PARQUET)"
        )
        reg = registry()
        for name in ("cosine_topk", "embedding_neardup", "embedding_decontam",
                     "ann_lsh", "substring_dup_spans", "bpe_merges",
                     "chunk_by_bpe"):
            assert len(reg[name].fn(spark, d).toPandas()) == 0, name
        # per-doc text ops keep one row per doc (null counts), like the oracle
        for name in ("token_count", "substring_dup_stats",
                     "substring_dedup_clean", "bpe_token_count",
                     "bigram_lm_score"):
            out = reg[name].fn(spark, d).toPandas()
            assert len(out) == 500, name
        for name in ("ann_ivf_q", "ann_pq_q"):
            with pytest.raises(ValueError, match="empty training sample"):
                reg[name].fn(spark, d).toPandas()

    def test_nan_poisoned_embeddings_excluded_by_policy(self, spark, tmp_path):
        """Non-finite vectors are EXCLUDED like nulls (engine policy): a
        NaN component otherwise casts to INT_MIN sim_e6 garbage rows, and
        engines do not agree on NaN ordering. Parity is checked against
        the policy-mirrored oracle (same finite filter in SQL)."""
        import duckdb

        from tomixpanel_spark.operators import registry

        con = duckdb.connect()
        d = str(tmp_path)
        for t in ("region nation customer supplier part orders "
                  "lineitem events documents").split():
            con.execute(
                f"COPY (SELECT * FROM read_parquet("
                f"'/root/testdata/sf0.001/{t}.parquet')) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        con.execute(
            f"""COPY (SELECT vec_id, label,
                 CASE WHEN vec_id IN (3, 17)
                      THEN list_transform(embedding,
                           x -> CASE WHEN x = embedding[1]
                                THEN 'NaN'::DOUBLE ELSE x END)
                      ELSE embedding END AS embedding
               FROM read_parquet(
                 '/root/testdata/sf0.001/embeddings.parquet'))
               TO '{d}/embeddings.parquet' (FORMAT PARQUET)"""
        )
        for t in ("region nation customer supplier part orders "
                  "lineitem events documents").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet' "
            "WHERE NOT list_has_any(list_transform(embedding, "
            "x -> isnan(x) OR NOT isfinite(x)), [true])"
        )

        def canon(cols, rows):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(cols), sorted(
                tuple(str(v) for v in (r[i] for i in order)) for r in rows
            )

        reg = registry()
        for name in ("cosine_topk", "cosine_topk_partitioned",
                     "embedding_neardup", "ann_lsh"):
            sdf = reg[name].fn(spark, d)
            a = canon(sdf.columns, [tuple(r) for r in sdf.collect()])
            res = con.execute(reg[name].oracle)
            b = canon([c[0] for c in res.description], res.fetchall())
            assert a == b, name

    def test_unicode_whitespace_corpus_matches_oracle(self, spark, tmp_path):
        """NBSP/NEL/thin-space/CJK/emoji text through the text family —
        the round-10 fold-tokenizer fix end-to-end: the gate selects the
        DRIVER FOLD at this corpus size, so this pins the fixed fold
        (literal-space split) against DuckDB on exactly the input class
        where argless str.split() silently diverged."""
        import duckdb

        from tomixpanel_spark.operators import registry

        con = duckdb.connect()
        d = str(tmp_path)
        for t in ("region nation customer supplier part orders "
                  "lineitem events embeddings").split():
            con.execute(
                f"COPY (SELECT * FROM read_parquet("
                f"'/root/testdata/sf0.001/{t}.parquet')) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        con.execute(
            f"""COPY (SELECT doc_id,
                 CASE doc_id % 5
                   WHEN 0 THEN 'alpha' || chr(160) || 'beta gamma ' || text
                   WHEN 1 THEN '宇宙 飛行士 ' || text
                   WHEN 2 THEN 'emoji \U0001f680 mixed ' || text
                   WHEN 3 THEN 'nel' || chr(133) || 'joined thin' ||
                               chr(8201) || 'space ' || text
                   ELSE text END AS text,
                 lang, source, n_chars
               FROM read_parquet(
                 '/root/testdata/sf0.001/documents.parquet'))
               TO '{d}/documents.parquet' (FORMAT PARQUET)"""
        )
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")

        def canon(cols, rows):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(cols), sorted(
                tuple(str(v) for v in (r[i] for i in order)) for r in rows
            )

        reg = registry()
        for name in ("token_count", "word_freq", "substring_dup_stats",
                     "substring_dedup_clean", "dedup_exact", "cms_heavy_hitters"):
            sdf = reg[name].fn(spark, d)
            a = canon(sdf.columns, [tuple(r) for r in sdf.collect()])
            res = con.execute(reg[name].oracle)
            b = canon([c[0] for c in res.description], res.fetchall())
            assert a == b, name

    def test_embedding_keep_list_degenerate_inputs(self, spark, tmp_path):
        """The semantic keep-list on degenerate corpora: zero rows ->
        zero keepers; ALL-NULL vectors are not near-dup candidates
        (_finite_vecs policy) so every row keeps itself — matching the
        oracle's NULL-sim semantics, never a numpy crash."""
        import duckdb

        from tomixpanel_spark.operators import registry

        reg = registry()
        con = duckdb.connect()
        d0 = str(tmp_path / "zero")
        dn = str(tmp_path / "nulls")
        for d in (d0, dn):
            import os

            os.makedirs(d)
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(
                f"COPY (SELECT * FROM read_parquet("
                f"'/root/testdata/sf0.001/{t}.parquet') LIMIT 0) "
                f"TO '{d0}/{t}.parquet' (FORMAT PARQUET)"
            )
            if t != "embeddings":
                con.execute(
                    f"COPY (SELECT * FROM read_parquet("
                    f"'/root/testdata/sf0.001/{t}.parquet')) "
                    f"TO '{dn}/{t}.parquet' (FORMAT PARQUET)"
                )
        con.execute(
            "COPY (SELECT vec_id, CAST(NULL AS FLOAT[]) AS embedding, label "
            "FROM read_parquet('/root/testdata/sf0.001/embeddings.parquet')) "
            f"TO '{dn}/embeddings.parquet' (FORMAT PARQUET)"
        )
        assert len(reg["embedding_keep_list"].fn(spark, d0).toPandas()) == 0
        out = reg["embedding_keep_list"].fn(spark, dn).toPandas()
        [n] = con.execute(
            f"SELECT count(*) FROM read_parquet('{dn}/embeddings.parquet')"
        ).fetchone()
        assert len(out) == n


def test_tokenize_tf_duplicate_doc_id_rows_are_independent_documents(spark):
    """The fused-dl input contract (textops.tokenize_tf): a document IS
    a physical row. Duplicate doc_id rows each carry their OWN dl and
    their own tf rows — nothing pools across the duplicates (the
    pre-fusion window-sum pooled dl but not tf: neither semantics)."""
    from tomixpanel_spark.operators.textops import tokenize_tf

    docs = spark.createDataFrame(
        [(1, "a a b"), (1, "a"), (2, "c c c c")],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.token, r.tf, r.dl)
        for r in tokenize_tf(docs).collect()
    }
    assert rows == {
        (1, "a", 2, 3),
        (1, "b", 1, 3),
        (1, "a", 1, 1),
        (2, "c", 4, 4),
    }
