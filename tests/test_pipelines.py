"""Pipeline-verb tests: the composed-gate pin for corpus_clean (its
inline gate copies must track the primary textops/dedup definitions),
plan locks for the fused single-scan / per-cluster-pairing shapes, and
behavioral properties the DuckDB parity test can't express."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tomixpanel_spark.operators import registry
from tomixpanel_spark.plans.audit import (
    formatted_plan,
    join_strategies,
    read_schemas,
)

REG = registry()


def test_corpus_clean_matches_composed_gates(spark):
    """corpus_clean re-expresses the lang / gopher_quality /
    gopher_repetition / exact-dup gates inline for the fused single-scan
    plan — this pin proves its gate bits equal the PRIMARY standalone
    queries' outputs row for row, so the copies cannot drift silently."""
    lang = {
        r["doc_id"]: r["lang_guess"] == "en"
        for r in REG["lang_id"].fn(spark, SF_ORACLE).collect()
    }
    gq = {
        r["doc_id"]: bool(r["keep"])
        for r in REG["gopher_quality"].fn(spark, SF_ORACLE).collect()
    }
    gr = {
        r["doc_id"]: bool(r["keep"])
        for r in REG["gopher_repetition"].fn(spark, SF_ORACLE).collect()
    }
    keep_first = {
        r["fp"]: r["keep_doc_id"]
        for r in REG["dedup_exact"].fn(spark, SF_ORACLE).collect()
    }
    from tomixpanel_spark.functions.text import fingerprint
    from tomixpanel_spark.operators.base import table

    fps = {
        r["doc_id"]: r["fp"]
        for r in table(spark, SF_ORACLE, "documents")
        .select("doc_id", fingerprint("text").alias("fp"))
        .collect()
    }

    out = {
        r["doc_id"]: (bool(r["keep"]), r["first_failed_gate"])
        for r in REG["corpus_clean"].fn(spark, SF_ORACLE).collect()
    }
    assert set(out) == set(lang)
    for doc_id, (keep, gate) in out.items():
        dup_ok = keep_first[fps[doc_id]] == doc_id
        expect_keep = lang[doc_id] and gq[doc_id] and gr[doc_id] and dup_ok
        if not lang[doc_id]:
            expect_gate = "lang"
        elif not gq[doc_id]:
            expect_gate = "gopher_quality"
        elif not gr[doc_id]:
            expect_gate = "gopher_repetition"
        elif not dup_ok:
            expect_gate = "exact_dup"
        else:
            expect_gate = "none"
        assert (keep, gate) == (expect_keep, expect_gate), (
            f"doc {doc_id}: corpus_clean says {(keep, gate)}, composed "
            f"primaries say {(expect_keep, expect_gate)}"
        )


def test_corpus_clean_gate_order_on_crafted_docs(spark, tmp_path):
    """Edge semantics pinned on crafted rows: an exact duplicate that
    ALSO fails an earlier gate reports the earlier gate; a clean dup
    pair keeps the lower doc_id and blames exact_dup on the higher."""
    # 62 words (two stopwords early for the lang gate, the rest unique
    # 8-char words): mean word length ~7.9, dup fraction ~0.016, all
    # n-grams distinct so the top-n-gram char fractions are tiny ->
    # passes lang + both gopher gates (short docs can't: with every
    # 4-gram unique the smallest one alone covers > 16% of a ~25-word
    # doc's characters)
    good = " ".join(
        ["the"]
        + [f"wordy{i:03d}" for i in range(30)]
        + ["the"]
        + [f"zonal{i:03d}" for i in range(30)]
    )
    rows = [
        (1, good, "en"),
        (2, good, "en"),  # exact dup of 1 -> exact_dup
        (3, "", "en"),  # empty -> fails gopher_quality (lang fails first)
        (4, "zzz " * 30, "en"),  # no stopwords -> lang; also dup-word heavy
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: (bool(r["keep"]), r["first_failed_gate"])
        for r in REG["corpus_clean"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1] == (True, "none")
    assert out[2] == (False, "exact_dup")
    assert out[3] == (False, "lang")
    assert out[4] == (False, "lang")


def test_corpus_clean_plan_single_scan_no_text_exchange(spark):
    """The fused plan's 100 TB contract: documents is scanned ONCE, no
    join of any kind, and the only non-defensive exchange is the
    fingerprint window's — whose rows must NOT carry the text column
    (formatted-plan Exchange sections list their Input attributes)."""
    df = REG["corpus_clean"].fn(spark, SF_ORACLE)
    plan = formatted_plan(df)
    # formatted explain mentions each node twice (tree + details): count
    # the detail headers, one per physical scan node
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert join_strategies(df) == []
    # every defensive repartition is the ensure_parallel REPARTITION_BY_NUM
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"hashpartitioning\(doc_id[^\n]*", exec_plan):
        assert "REPARTITION_BY_NUM" in m.group(0), m.group(0)
    # the window exchange partitions on fp and its input is id-width
    # (formatted detail sections: "(6) Exchange\nInput [..]\nArguments:
    # hashpartitioning(fp#..)")
    sections = re.split(r"\n\(\d+\) ", plan)
    fp_exchanges = [
        s
        for s in sections
        if s.startswith("Exchange") and "hashpartitioning(fp" in s
    ]
    assert fp_exchanges, plan
    for s in fp_exchanges:
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", s)
        assert inp and "text#" not in inp.group(1), s


def test_dsir_select_is_threshold_applied_weights(spark):
    """dsir_select == dsir_weights filtered by the integer threshold,
    joined to (doc_id, lang) with the documents side pruned to those two
    columns at the scan; exactly one join."""
    from tomixpanel_spark.operators.pipelines import DSIR_SELECT_MIN_AVG_E6

    w = {
        r["doc_id"]: (r["n_bigrams"], r["dsir_weight_e6"])
        for r in REG["dsir_weights"].fn(spark, SF_ORACLE).collect()
    }
    sel = REG["dsir_select"].fn(spark, SF_ORACLE)
    got = {r["doc_id"]: r for r in sel.collect()}
    expect = {
        d
        for d, (nb, wt) in w.items()
        if nb > 0 and wt >= DSIR_SELECT_MIN_AVG_E6 * nb
    }
    assert set(got) == expect
    for d, r in got.items():
        assert (r["n_bigrams"], r["dsir_weight_e6"]) == w[d]
    # exactly ONE equi-join added by the selection (the doc_id keep-list
    # join); the only other join machinery allowed is the weights plan's
    # own 1-row broadcast ratio-array crossJoin (BroadcastNestedLoopJoin)
    # count join NODES in the (final) plan tree — node lines end with
    # "(<id>)"; the detail section and AQE's initial-plan echo would
    # double-count
    tree = formatted_plan(sel).split("== Initial Plan ==")[0]
    equi = re.findall(
        r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)[^\n]*\(\d+\)",
        tree,
    )
    assert len(equi) == 1, tree
    assert any(
        set(p.split(":")[0] for p in s.split(",")) <= {"doc_id", "lang"}
        for s in read_schemas(sel)
    ), read_schemas(sel)


def test_semdedup_pairs_only_within_cluster(spark):
    """The SemDeDup contract: pairing exchanges on the cluster id (one
    hashpartitioning(cell) shuffle), never a cartesian/broadcast-nested
    product; and the keep-list drops exactly the non-winners of each
    within-cluster near-dup component (winner = min (cdot, vec_id))."""
    from tomixpanel_spark.operators.pipelines import semdedup_clusters

    _assigned, pairs = semdedup_clusters(spark, SF_ORACLE)
    pair_plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(cell" in pair_plan, pair_plan
    assert "CartesianProduct" not in pair_plan
    assert "BroadcastNestedLoopJoin" not in pair_plan

    df = REG["semdedup_prune"].fn(spark, SF_ORACLE)
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in exec_plan
    kept = {r["vec_id"] for r in df.collect()}
    from tomixpanel_spark.operators.base import table

    n = table(spark, SF_ORACLE, "embeddings").count()
    assert 0 < len(kept) <= n


def test_media_dedup_keep_list_one_per_pair(spark):
    """No directly-paired near-dup images can BOTH survive (they share a
    component, which keeps exactly one member), and every non-paired
    image survives."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in REG["media_neardup"].fn(spark, SF_ORACLE).collect()
    ]
    kept = {r["doc_id"] for r in REG["media_dedup_keep_list"].fn(spark, SF_ORACLE).collect()}
    paired = {d for p in pairs for d in p}
    from tomixpanel_spark.operators.base import table

    all_docs = {
        r["doc_id"] for r in table(spark, SF_ORACLE, "documents").select("doc_id").collect()
    }
    assert all_docs - paired <= kept  # singletons always survive
    for a, b in pairs:
        assert not (a in kept and b in kept), (a, b)


def test_semdedup_oracle_parity_with_nonfinite_vectors(spark, tmp_path):
    """The oracle must apply the _finite_vecs policy everywhere the
    Spark side does: with a NULL and a NaN vector present, the Spark
    sample-step count uses the FINITE count while a naive COUNT(*)
    oracle would diverge (and floor(NaN) would error) — review r14.
    Both engines must agree on the keep-list, with the non-finite
    vectors keeping themselves. The quantized ANN verbs train on the
    same finite sample, so their oracles must agree on this corpus too,
    with the non-finite vectors in no result row."""
    import math

    import duckdb

    # enough vectors that step = max(2, n//1024) stays 2 but the corpus
    # exercises clustering; vec 900/901 are the non-finite rows
    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0
        base[4 + i % 4] = 0.25 + 0.01 * (i % 3)
        rows.append((i, [float(x) for x in base], i % 4))
    rows.append((900, None, 0))
    rows.append((901, [float("nan")] + [0.0] * 7, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    got = sorted(
        r["vec_id"] for r in REG["semdedup_prune"].fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    want = sorted(r[0] for r in con.execute(REG["semdedup_prune"].oracle).fetchall())
    assert got == want
    assert 900 in got and 901 in got  # non-candidates keep themselves
    assert len(got) < 42  # and real pruning happened
    assert not any(isinstance(v, float) and math.isnan(v) for v in got)

    for name in ("ann_ivf_q", "ann_pq_q"):
        got = sorted(map(tuple, REG[name].fn(spark, str(tmp_path)).collect()))
        want = sorted(con.execute(REG[name].oracle).fetchall())
        assert got == want, name
        assert got and not {900, 901} & {v for r in got for v in r[:2]}, name


def test_dedup_cascade_stage_attribution(spark):
    """Stage semantics pinned to the primaries: the exact stage must
    drop exactly the non-keepers of dedup_exact; the near-dup stage runs
    only over exact survivors, never drops two directly-paired survivors
    both ways, and keeps the most-token member (ties lowest id) of each
    pair. At the default gate the survivor pairs come from the driver
    shingle fold."""
    _check_dedup_cascade_stages(spark)


def test_dedup_cascade_stage_attribution_distributed(spark, monkeypatch):
    """The same stage semantics with the survivor pairs from the Spark
    SQL chain (the fold gate at 0)."""
    monkeypatch.setenv("TOMIX_TFIDF_DRIVER_FOLD_DOCS", "0")
    _check_dedup_cascade_stages(spark)


def _check_dedup_cascade_stages(spark):
    from tomixpanel_spark.functions.text import fingerprint, tokens
    from tomixpanel_spark.operators.base import table
    from tomixpanel_spark.operators.dedup import near_dup_pairs

    out = {
        r["doc_id"]: (bool(r["keep"]), r["dropped_by"])
        for r in REG["dedup_cascade"].fn(spark, SF_ORACLE).collect()
    }
    keep_first = {
        r["fp"]: r["keep_doc_id"]
        for r in REG["dedup_exact"].fn(spark, SF_ORACLE).collect()
    }
    docs = table(spark, SF_ORACLE, "documents")
    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", fingerprint("text").alias("fp")).collect()
    }
    exact_expect = {d for d, fp in fps.items() if keep_first[fp] != d}
    assert {d for d, (_, g) in out.items() if g == "exact"} == exact_expect

    # keep <-> dropped_by coherence, and stages are disjoint by shape
    for d, (keep, g) in out.items():
        assert keep == (g == "none")

    # near-dup properties over the survivor pair graph
    surv_ids = set(out) - exact_expect
    surv = docs.filter(F.col("doc_id").isin([int(x) for x in surv_ids]))
    n_tok = {
        r["doc_id"]: r["n"]
        for r in surv.select(
            "doc_id", F.size(tokens("text")).cast("bigint").alias("n")
        ).collect()
    }
    kept = {d for d, (k, _) in out.items() if k}
    for r in near_dup_pairs(surv).collect():
        a, b = r["doc_a"], r["doc_b"]
        assert not (a in kept and b in kept), (a, b)
        winner = max((a, b), key=lambda d: (n_tok[d], -d))
        loser = a if winner == b else b
        # the pairwise loser can only survive if some other component
        # member beat the winner — but never when both ids are its own
        # component's extremes; minimal sound check: the loser is not
        # kept while the winner is dropped by 'exact' (stage order)
        assert out[loser][1] in ("near_dup", "none")
        assert out[a][1] != "exact" and out[b][1] != "exact"


def test_pipeline_outputs_are_driver_hashable(spark):
    """All four pipeline verbs emit scalar-only schemas (the external
    driver pandas-factorizes every column)."""
    from tomixpanel_spark.operators.base import driver_hashable_violations
    from tomixpanel_spark.operators import pipelines

    for name in pipelines.REGISTRY:
        sdf = REG[name].fn(spark, SF_ORACLE)
        assert driver_hashable_violations(sdf.schema) == [], name


def _canon(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return sorted(
        tuple(str(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def test_cc_policy_tiers_agree(spark, monkeypatch):
    """The six CC-consuming policy queries have a driver tier (CC's
    collect gate holds the labels, the winner/drop fold runs in exact
    integer Python) and a distributed DataFrame tier. Both must produce
    identical rows — the same paths-agree discipline as every other
    size-adaptive gate (also hash-checked per bench run in the
    distributed tier)."""
    names = (
        "neardup_components",
        "neardup_keep_best",
        "dedup_cascade",
        "media_dedup_keep_list",
        "semdedup_prune",
        "embedding_keep_list",
    )
    local = {n: _canon(REG[n].fn(spark, SF_ORACLE)) for n in names}
    monkeypatch.setenv("TOMIX_CC_LOCAL_MAX", "0")
    for n in names:
        assert _canon(REG[n].fn(spark, SF_ORACLE)) == local[n], n


def test_media_px_sum_py_matches_spark(spark):
    """The driver-tier px_sum (hashlib md5) must equal the Catalyst
    _thumb_pixel fold for arbitrary doc ids — including ids around the
    MEDIA_GROUP and noise-position boundaries."""
    import hashlib

    from tomixpanel_spark.operators.multimodal import (
        DHASH_COLS,
        DHASH_ROWS,
        MEDIA_GROUP,
        _thumb_pixel,
    )

    n_px = DHASH_ROWS * DHASH_COLS

    def px_sum_py(doc_id: int) -> int:
        g = doc_id // MEDIA_GROUP
        noise = doc_id % n_px
        return sum(
            int(
                hashlib.md5(
                    (f"d:{doc_id}:{i}" if i == noise else f"g:{g}:{i}").encode()
                ).hexdigest()[:2],
                16,
            )
            for i in range(n_px)
        )

    ids = [0, 1, 19, 20, 63, 64, 65, 1279, 1280, 99999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    px_sum = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_px - 1)),
            lambda i: _thumb_pixel(i, F.col("doc_id")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x.cast("long"),
    )
    got = {r["doc_id"]: r["s"] for r in df.select("doc_id", px_sum.alias("s")).collect()}
    assert got == {i: px_sum_py(i) for i in ids}


def test_thumb_pixel_keys_on_its_argument(spark):
    """_thumb_pixel's group key derives from the id column it is GIVEN,
    not from a column that happens to be named doc_id: on a frame whose
    doc_id disagrees with node, pixels over node must equal the pixels
    over a doc_id holding the same ids (and a frame with no doc_id at
    all must still resolve)."""
    from tomixpanel_spark.operators.multimodal import (
        DHASH_COLS,
        DHASH_ROWS,
        _thumb_pixel,
    )

    ids = [0, 19, 20, 25, 64, 1279, 1280]
    px = F.transform(
        F.sequence(F.lit(0), F.lit(DHASH_ROWS * DHASH_COLS - 1)),
        lambda i: _thumb_pixel(i, F.col("node")),
    )
    conflicting = spark.createDataFrame(
        [(i, 3) for i in ids], "node bigint, doc_id bigint"
    )
    only_node = spark.createDataFrame([(i,) for i in ids], "node bigint")
    truth = spark.createDataFrame([(i,) for i in ids], "doc_id bigint").select(
        F.col("doc_id").alias("node"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DHASH_ROWS * DHASH_COLS - 1)),
            lambda i: _thumb_pixel(i, F.col("doc_id")),
        ).alias("px"),
    )
    want = {r["node"]: r["px"] for r in truth.collect()}
    for df in (conflicting, only_node):
        got = df.select("node", px.alias("px")).collect()
        assert {r["node"]: r["px"] for r in got} == want
