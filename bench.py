"""Benchmark harness: run the registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric", "value" (total sec), "unit", "queries": {name: sec},
"sf"}.

Each query is forced with a full collect (the driver's comparison does the
same), so timings include result materialization, not just planning.

Output contract: the LAST stdout line is a compact headline JSON sized to
fit inside a 2000-char output tail (the harness that records BENCH_r{N}
keeps only the tail and parses its final line — BENCH_r04..r07 recorded
``parsed: null`` once the verbose line outgrew it). The verbose record
(cold/prepared/derived tiers, full precision) is printed on the line
before it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tomixpanel_spark.operators import registry  # noqa: E402
from tomixpanel_spark.operators.base import TABLES, table  # noqa: E402
from tomixpanel_spark.session import ensure_semantics, session_builder  # noqa: E402

# Queries whose plan is size-adaptive (driver fold / local union-find
# under a gate, distributed above it). At sf0.1 every corpus sits UNDER
# its gate, so the headline times the fold paths; the distributed tier
# re-times these with the gates forced off.
DISTRIBUTED_TIER = (
    "tfidf_keywords",
    "bm25_topk",
    "cms_heavy_hitters",
    "simhash",
    "simhash_pairs",
    "substring_dup_stats",
    "substring_dup_spans",
    "substring_dedup_clean",
    "dedup_index_probe",
    "media_neardup",
    "identity_components",
    "embedding_keep_list",
    "neardup_components",
    "neardup_keep_best",
    "dedup_keep_list",
    "lsh_keep_list",
    "bigram_lm_score",
    "bpe_merges",
    "bpe_token_count",
    "bpe_encode",
    "chunk_by_bpe",
    "seeded_shuffle",
    # round 14 pipeline verbs whose CC stage is size-adaptive
    "semdedup_prune",
    "media_dedup_keep_list",
    "dedup_cascade",
)


def main() -> None:
    # engine buffer pool: cache base tables across the query suite (the
    # oracle engine's OS page cache + buffer pool get the same benefit).
    # TOMIX_CACHE_DERIVED stays OFF for the timed passes: caching a
    # query's own work product (shingles, MinHash signatures) across timed
    # queries would flatter the numbers — derived-cached timings are
    # reported separately below.
    os.environ.setdefault("TOMIX_CACHE_TABLES", "1")
    os.environ.pop("TOMIX_CACHE_DERIVED", None)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = (
        session_builder("tomixpanel_bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
        # keep stdout clean for the output contract below: progress bars
        # and late executor traces must not trail the headline line
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_semantics(spark)

    reg = registry()
    # Warm the JVM before timing: the first queries in a fresh JVM pay JIT
    # + codegen + Arrow init (measured ~2x on early queries). Exercise each
    # engine family once at the smallest scale factor.
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_sf = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_sf):
        warm_sf = sf_dir
    for t in TABLES:
        table(spark, sf_dir, t).count()  # materialize the table cache
    # warm EVERY query shape once at the smallest sf: codegen compiles per
    # plan shape, and an sf0.001 run costs ms while moving JIT compilation
    # out of the sf0.1 cold numbers (long-running clusters are never
    # JIT-cold; the cold column should reflect plan build + execution)
    for warm_q in sorted(reg):
        try:
            reg[warm_q].fn(spark, warm_sf).toPandas()
        except Exception:
            pass

    def execute(df) -> float:
        t0 = time.perf_counter()
        try:
            # Arrow-batched materialization (columnar driver transfer);
            # results with Arrow-unsupported types fall back to collect().
            rows = df.toPandas()
        except Exception:
            rows = df.collect()
        del rows
        return time.perf_counter() - t0

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        df = reg[name].fn(spark, sf_dir)
        return execute(df) + (time.perf_counter() - t0)

    # Three tiers, reported separately and honestly:
    #   * HEADLINE (`queries`/`value`): best of three FULL build+execute
    #     runs — each run constructs the DataFrame fresh, so Python
    #     expression building, Catalyst analysis, AQE planning, and every
    #     shuffle all re-run. Directly comparable across rounds and to the
    #     oracle's per-query runs.
    #   * COLD (`cold_queries`/`cold_total`): the first of those runs.
    #   * PREPARED (`prepared_queries`/`prepared_total`): re-executing the
    #     last run's DataFrame handle — the prepared-statement serving
    #     regime. CAVEAT, and why this is NOT the headline: Spark
    #     registers a live DataFrame's shuffle map outputs, so
    #     re-execution skips completed map stages — it measures
    #     plan-cache + shuffle-reuse serving throughput, not a
    #     from-scratch run.
    #
    # The three runs of a query are CONSECUTIVE, not suite-wise passes.
    # Suite-wise passes put 115 foreign query shapes between each repeat
    # of a query, which evicts its JIT-hot generated-class paths and
    # turned sub-second rows into 2-7 s tiered-compilation churn in
    # recorded artifacts (simhash_pairs 0.45-7.7 s interleaved vs
    # 0.45-0.92 s back-to-back; amp_transform 1.10 s recorded vs 0.35 s
    # controlled — ARCHITECTURE §R13.13, §R14). Back-to-back repeats keep
    # the measurement regime the min-of-3 policy assumes while each run
    # still builds a fresh plan instance (fresh shuffle IDs — no
    # cross-run shuffle reuse; that regime is the PREPARED tier).
    second_pass_budget = float(os.environ.get("TOMIX_BENCH_BUDGET_S", "300"))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    prepared: dict[str, float] = {}
    budget_truncated = False
    t_start = time.perf_counter()
    for name in sorted(reg):
        t0 = time.perf_counter()
        df = reg[name].fn(spark, sf_dir)
        built = time.perf_counter() - t0
        exec_s = execute(df)
        cold[name] = round(built + exec_s, 4)
        timings[name] = built + exec_s
        # runs 2..3: per-query best-of absorbs host-noise spikes (measured
        # run-to-run swings of 30-40% on individual queries under
        # invisible host contention; min-of-3 keeps the headline
        # comparable across rounds). The budget still bounds total bench
        # wall time — late queries lose their repeats first, exactly as
        # the old suite-wise passes truncated from a point onward.
        handle = None
        for _run in (2, 3):
            if time.perf_counter() - t_start > second_pass_budget:
                budget_truncated = True
                break
            t0 = time.perf_counter()
            df = reg[name].fn(spark, sf_dir)
            built = time.perf_counter() - t0
            exec_s = execute(df)
            timings[name] = min(timings[name], built + exec_s)
            handle = df
        if handle is not None and (
            time.perf_counter() - t_start <= second_pass_budget
        ):
            prepared[name] = round(execute(handle), 4)
    timings = {k: round(v, 4) for k, v in timings.items()}

    # Secondary numbers: the signature-sharing family re-timed with the
    # derived-view cache ON (a pipeline that materializes signatures once
    # sees these). Reported separately — NOT in the headline total.
    derived_cached: dict[str, float] = {}
    os.environ["TOMIX_CACHE_DERIVED"] = "1"
    for name in (
        "minhash_signature",
        "minhash_lsh_pairs",
        "lsh_keep_list",
        # the tokenize_tf family: each re-pays the shared Arrow tf pass
        # in the headline; this tier shows the one-materialization regime
        "tfidf_keywords",
        "bm25_topk",
        "simhash",
        "simhash_pairs",
        "cms_heavy_hitters",
    ):
        if name in reg:
            run_once(name)  # populate the derived cache
            derived_cached[name] = round(run_once(name), 4)
    os.environ.pop("TOMIX_CACHE_DERIVED", None)
    # the derived-cache READ is now unconditional (an existing artifact
    # serves even with the flag off — verdict #8), so evict the
    # artifacts this leg materialized before the distributed tier times
    # its own plans
    from tomixpanel_spark.operators.base import clear_derived_cache

    clear_derived_cache()

    # DISTRIBUTED tier: the size-adaptive families re-timed with every
    # driver-fold/local-path gate forced OFF, so the ABOVE-GATE plans (the
    # ones a 100 TB corpus would actually run: distributed window-hash,
    # label-propagation CC, window-strategy as-of, distributed probe) get
    # recorded wall-clock signal at sf0.1 — not just paths-agree tests.
    # Each row also hash-compares its result against the gated headline
    # pass: `distributed_match` false anywhere is a paths-agree violation.
    distributed: dict[str, float] = {}
    distributed_match: dict[str, bool] = {}

    def result_fingerprint(df) -> str:
        import hashlib

        try:
            pdf = df.toPandas()
        except Exception:
            rows = df.collect()
            import pandas as pd

            pdf = pd.DataFrame([r.asDict() for r in rows], columns=df.columns)
        cols = sorted(pdf.columns)
        pdf = pdf[cols]
        body = sorted(
            tuple(repr(round(v, 9)) if isinstance(v, float) else str(v) for v in row)
            for row in pdf.itertuples(index=False, name=None)
        )
        return hashlib.md5(repr((cols, body)).encode()).hexdigest()

    gate_env = {
        "TOMIX_TFIDF_DRIVER_FOLD_DOCS": "0",  # text/substring/simhash folds
        "TOMIX_CC_LOCAL_MAX": "0",  # driver union-find -> label propagation
        "TOMIX_LM_BCAST_BIGRAMS": "0",  # bigram-LM model broadcast -> shuffle join
        "TOMIX_BPE_LOCAL_WORDS": "0",  # BPE word-fold tier -> distributed iteration
    }
    baseline_fp = {
        name: result_fingerprint(reg[name].fn(spark, sf_dir))
        for name in DISTRIBUTED_TIER
        if name in reg
    }
    saved_env = {k: os.environ.get(k) for k in gate_env}
    os.environ.update(gate_env)
    try:
        for name in sorted(baseline_fp):
            try:
                reg[name].fn(spark, warm_sf).toPandas()  # codegen warm, new shape
            except Exception:
                pass
            best = min(run_once(name), run_once(name))
            distributed[name] = round(best, 4)
            distributed_match[name] = (
                result_fingerprint(reg[name].fn(spark, sf_dir)) == baseline_fp[name]
            )
    finally:
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v

    # Optional oracle leg (TOMIX_BENCH_ORACLE=1): time DuckDB running each
    # query's oracle SQL in the SAME measurement window under the SAME
    # best-of-N policy as the Spark headline — min-of-N on one side only
    # would bias the ratio toward whichever engine got the min treatment.
    oracle: dict[str, float] = {}
    if os.environ.get("TOMIX_BENCH_ORACLE"):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {cpus}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in sorted(reg):
            sql = reg[name].oracle
            if sql is None:
                continue
            con.execute(sql).fetchall()  # warm (page cache, plan)
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                best = min(best, time.perf_counter() - t0)
            oracle[name] = round(best, 4)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "total_query_seconds",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "cold_total": round(sum(cold.values()), 4),
        "cold_queries": cold,
        "prepared_total": round(sum(prepared.values()), 4),
        "prepared_queries": prepared,
        "derived_cached": derived_cached,
        "distributed_queries": distributed,
        "distributed_total": round(sum(distributed.values()), 4),
        "distributed_match": distributed_match,
        "distributed_all_match": all(distributed_match.values()),
        "sf": sf_val,
        "n_queries": len(timings),
        "cpus": cpus,
        # both headline numbers are best-of-3 full runs in one window —
        # UNLESS the wall-time budget truncated Spark's later passes, in
        # which case the policy string says so (the oracle leg always
        # completes its 3, so a truncated Spark side is NOT symmetric)
        "timing_policy": (
            "budget_truncated_spark_partial_vs_oracle_best_of_3"
            if budget_truncated
            else "best_of_3_both_engines"
        ),
    }
    # Rows whose Spark side does STRUCTURALLY different work than the
    # oracle by construction: real Structured-Streaming jobs (engine
    # startup + N triggers + state/sink commits) or durable-store builds,
    # hash-checked against a batch-SQL recompute. Their value is the
    # external correctness proof; their ratio is not a throughput
    # comparison. Labeled so readers can compute the ratio both ways.
    out["structural_rows"] = sorted(
        k
        for k in timings
        if k.startswith("streaming_") or k in ("incremental_dedup",)
    )
    if oracle:
        common = [k for k in oracle if k in timings]
        out["oracle_queries"] = oracle
        out["oracle_total"] = round(sum(oracle.values()), 4)
        out["spark_total_common"] = round(sum(timings[k] for k in common), 4)
        out["ratio_vs_oracle"] = round(
            out["spark_total_common"] / max(out["oracle_total"], 1e-9), 3
        )
        ns = [k for k in common if k not in out["structural_rows"]]
        out["ratio_vs_oracle_nonstructural"] = round(
            sum(timings[k] for k in ns)
            / max(sum(oracle[k] for k in ns), 1e-9),
            3,
        )
    # Streaming-family regression guard (round-11 verdict #6): the r11
    # rewrites brought the 6 streaming parity rows under the 10 s target
    # (9.3-9.9 s idle); lock that win. The guard is LABEL-GATED because
    # the family's wall-clock swings 15-30% with host load: the JSON
    # always carries the family total and a pass/exceeded verdict;
    # TOMIX_BENCH_STRICT_STREAMING=1 (set it only on an idle host)
    # escalates an exceeded budget to a nonzero exit AFTER the JSON
    # lines print, so the driver's recorder still gets its artifact.
    guard = streaming_family_guard(timings)
    out.update(guard)
    # stop BEFORE printing: nothing may write to stdout after the compact
    # headline (the recorder parses the last line of a bounded tail)
    spark.stop()
    print(json.dumps(out))
    extra = {
        "distributed_total": out["distributed_total"],
        "distributed_n": len(distributed),
        "distributed_all_match": out["distributed_all_match"],
    }
    print(compact_headline(timings, sf_val, cpus, out["timing_policy"], extra=extra))
    if guard["streaming_guard"] == "exceeded" and os.environ.get(
        "TOMIX_BENCH_STRICT_STREAMING"
    ) == "1":
        raise SystemExit(1)


# idle-host budget for the 6 streaming parity rows. Floor decomposition
# at the round-13 shape: ~0.5 s/trigger x 3 triggers (2 data
# micro-batches + availableNow's no-data finalization) x 6 queries
# ≈ 8-9 s measured best-of-3 (ARCHITECTURE §R13; r11-r12 ran 3+1
# triggers and sat at 10.75-13.4 s against this same budget) — a
# regression to the old shapes trips it, host noise does not
STREAMING_FAMILY_BUDGET_S = 12.0
STREAMING_FAMILY = (
    "streaming_stateful_parity",
    "streaming_sketch_parity",
    "streaming_windowed_parity",
    "streaming_dedup_parity",
    "streaming_incremental_parity",
    "streaming_cagg_parity",
)


def streaming_family_guard(timings: dict[str, float]) -> dict:
    """Pure guard verdict (unit-tested): family total vs the idle-host
    budget. 'pass' / 'exceeded' / 'incomplete' (family rows missing —
    a narrowed run must not fake a pass)."""
    missing = [k for k in STREAMING_FAMILY if k not in timings]
    total = round(sum(timings.get(k, 0.0) for k in STREAMING_FAMILY), 4)
    verdict = (
        "incomplete"
        if missing
        else ("pass" if total <= STREAMING_FAMILY_BUDGET_S else "exceeded")
    )
    return {
        "streaming_family_s": total,
        "streaming_budget_s": STREAMING_FAMILY_BUDGET_S,
        "streaming_guard": verdict,
    }


def compact_headline(
    timings: dict[str, float],
    sf_val,
    cpus: int,
    policy: str,
    budget: int = 1900,
    extra: dict | None = None,
) -> str:
    """One headline JSON line guaranteed <= ``budget`` chars so it survives
    a bounded stdout tail: full per-query map at 3 then 2 decimals; if
    still over, fold the fastest queries into ``fast_sum``/``fast_n``
    (their individual timings are noise-floor anyway and remain on the
    verbose line above)."""
    total = round(sum(timings.values()), 3)

    def render(items: list[tuple[str, float]], nd: int, folded: dict[str, float]) -> str:
        out = {
            "metric": "total_query_seconds",
            "value": total,
            "unit": "sec",
            # tier label matters for cross-round reads: the r4-r7 tail
            # fragments happened to surface PREPARED-tier per-query
            # numbers (shuffle-reuse serving, ~10x faster on tiny
            # queries); these are full build+execute headline times
            "tier": "headline",
            "queries": {k: round(v, nd) for k, v in items},
            "sf": sf_val,
            "n_queries": len(items) + len(folded),
            "cpus": cpus,
            "timing_policy": policy,
        }
        if extra:
            out.update(extra)
        if folded:
            out["fast_sum"] = round(sum(folded.values()), 3)
            out["fast_n"] = len(folded)
        return json.dumps(out, separators=(",", ":"))

    items = sorted(timings.items())
    for nd in (3, 2):
        s = render(items, nd, {})
        if len(s) <= budget:
            return s
    by_speed = sorted(timings.items(), key=lambda kv: (kv[1], kv[0]))
    folded: dict[str, float] = {}
    while by_speed:
        k, v = by_speed.pop(0)
        folded[k] = v
        s = render(sorted(by_speed), 2, folded)
        if len(s) <= budget:
            return s
    return s


if __name__ == "__main__":
    main()
