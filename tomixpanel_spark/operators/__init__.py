"""Operator/query registry: one entry per implemented operator from
SURVEY.md §2 plus the scale extensions (dedup / similarity / text /
multimodal / streaming)."""

from tomixpanel_spark.operators import (
    analytics,
    asof,
    bpe,
    identity,
    dedup,
    events,
    multimodal,
    relational,
    similarity,
    streaming_parity,
    textops,
    transform_parity,
    ranges,
    packing,
    pipelines,
)
from tomixpanel_spark.operators.base import QuerySpec, collect_registry
from tomixpanel_spark.sources import csv as csv_source

# Registry ordering policy (machine-readable rotation log)
# --------------------------------------------------------
# The external correctness gate samples the FIRST 50 registry entries,
# so ordering decides which queries get a hard external signal each
# round. The policy, now DERIVED from the log below instead of a
# hand-maintained list (round-7 advice: keep the last-external-check
# round machine-readable and rotate on a fixed cadence):
#
#   1. queries NEVER externally verified (round 0) come first — new
#      queries enter here by construction; ordering a new query out of
#      the checked window is gate evasion, not stability;
#   2. the two e2e canaries (amp_transform / ga_transform) are pinned
#      inside the window permanently: they exercise most of the §2
#      transform surface at once, so a regression anywhere in that
#      stack shows up externally even mid-rotation;
#   3. everything else orders by STALENESS (ascending last-green round,
#      then name) — every query re-enters the 50-row window within
#      ceil(registry/50 rotation) rounds.
#
# _LAST_EXTERNAL is the log: query -> last round whose external
# CORRECTNESS_r{NN}.json recorded rows+hash green (0 = never checked).
# Update it at the START of each round from the previous round's file;
# the ordering then rotates automatically. Every tail row additionally
# has local DuckDB parity in tests/test_oracle_parity.py every round.
_CANARIES = ("amp_transform", "ga_transform")
_LAST_EXTERNAL = {
    # -- last green r11 ---------------------------------------------
    "event_sequences": 11,
    "funnel": 11,
    "hist_quantiles": 11,
    "hypertable_rollup": 11,
    "kmv_distinct": 11,
    "range_join_active_windows": 11,
    "retention": 11,
    "rolling_active_users": 11,
    "sessionize": 11,
    "set_ops": 11,
    # -- last green r12 ---------------------------------------------
    "coalesce_id": 12,
    "count_agg": 12,
    "csv_scan": 12,
    "dedup_by_key": 12,
    "filter_nonempty": 12,
    "insert_id_md5": 12,
    "map_merge": 12,
    "merge_pairs": 12,
    "part_revenue": 12,
    "pivot_status": 12,
    "topk_per_group": 12,
    "tpch_q1": 12,
    "tpch_q3": 12,
    # -- last green r13 ---------------------------------------------
    "cagg_store_read": 13,
    "dedup_index_probe": 13,
    "project_drop": 13,
    "project_rename": 13,
    "pushdown_filter": 13,
    "rollup_orders": 13,
    "salted_join_stats": 13,
    "schema_gate": 13,
    "semi_join": 13,
    "session_bounds": 13,
    "streaming_cagg_parity": 13,
    "supplier_balance": 13,
    "time_normalize": 13,
    "tpch_q5": 13,
    "value_quantiles": 13,
    # -- last green r14 ---------------------------------------------
    "asof_latest_order": 14,
    "asof_next_order": 14,
    "attribution_last_touch": 14,
    "identity_components": 14,
    "incremental_dedup": 14,
    "label_centroids": 14,
    "lang_id": 14,
    "media_audio_features": 14,
    "media_dedup_keep_list": 14,
    "media_image_resize": 14,
    "media_meta": 14,
    "media_neardup": 14,
    "media_video_frames": 14,
    "mixture_stats": 14,
    "segment_dedup": 14,
    "semdedup_prune": 14,
    "simhash": 14,
    "simhash_pairs": 14,
    "streaming_dedup_parity": 14,
    "streaming_incremental_parity": 14,
    "streaming_sketch_parity": 14,
    "streaming_stateful_parity": 14,
    "streaming_windowed_parity": 14,
    "substring_dedup_clean": 14,
    "substring_dup_spans": 14,
    "tfidf_keywords": 14,
    "time_shift": 14,
    "token_count": 14,
    "tpch_q6": 14,
    "union_all": 14,
    "when_chain": 14,
    "window_running": 14,
    "word_freq": 14,
    # -- last green r15 ---------------------------------------------
    "amp_profiles": 15,
    "amp_transform": 15,
    "ann_ivf_q": 15,
    "ann_lsh": 15,
    "ann_pq_q": 15,
    "balanced_shards": 15,
    "bigram_lm_score": 15,
    "bm25_topk": 15,
    "bpe_encode": 15,
    "bpe_merges": 15,
    "bpe_token_count": 15,
    "chunk_by_bpe": 15,
    "chunk_documents": 15,
    "cms_heavy_hitters": 15,
    "containment_pairs": 15,
    "corpus_clean": 15,
    "cosine_topk": 15,
    "cosine_topk_partitioned": 15,
    "custom_dims": 15,
    "decontam_overlap": 15,
    "dedup_cascade": 15,
    "dedup_exact": 15,
    "dedup_keep_list": 15,
    "doc_fingerprint": 15,
    "dsir_select": 15,
    "dsir_weights": 15,
    "embedding_decontam": 15,
    "embedding_keep_list": 15,
    "embedding_neardup": 15,
    "engage_reshape": 15,
    "explode_hits": 15,
    "ga_profiles": 15,
    "ga_transform": 15,
    "gopher_quality": 15,
    "gopher_repetition": 15,
    "lsh_keep_list": 15,
    "minhash_lsh_pairs": 15,
    "minhash_signature": 15,
    "mixture_rebalance": 15,
    "multimodal_meta": 15,
    "neardup_components": 15,
    "neardup_keep_best": 15,
    "ngram_jaccard_pairs": 15,
    "pii_redact": 15,
    "quality_score": 15,
    "reverse_events": 15,
    "seeded_shuffle": 15,
    "stratified_sample": 15,
    "substring_dup_stats": 15,
    "weighted_sample": 15,
}

WINDOW_SIZE = 50  # the driver samples this many leading registry entries

# Changed-code-outranks-staleness (round-11 verdict #7): _CHECKED_SRC
# records, per query, the hash of its implementing module (plus that
# module's declared ROTATION_DEPS helper files) AS OF the round marker
# commit of the query's last external green. A query whose current code
# hash differs was rewritten after its last hard driver check, so it
# jumps the staleness queue — e.g. the r11 streaming rewrites whose last
# green was r9. Regenerate both maps at the start of each round with
# tools/update_rotation.py. Hash values are REPLACED below by the
# generator; the mechanism (not the values) is what tests lock.
_CHECKED_SRC: dict[str, str] = {
    "amp_profiles": "eefe3988cf1e",
    "amp_transform": "eefe3988cf1e",
    "ann_ivf_q": "3820fe718ad7",
    "ann_lsh": "3820fe718ad7",
    "ann_pq_q": "3820fe718ad7",
    "asof_latest_order": "3fb2d2184a4f",
    "asof_next_order": "3fb2d2184a4f",
    "attribution_last_touch": "3fb2d2184a4f",
    "balanced_shards": "1dfcf5fd1480",
    "bigram_lm_score": "37676b49f905",
    "bm25_topk": "37676b49f905",
    "bpe_encode": "6c628a99747d",
    "bpe_merges": "6c628a99747d",
    "bpe_token_count": "6c628a99747d",
    "cagg_store_read": "9ebda52b47bb",
    "chunk_by_bpe": "6c628a99747d",
    "chunk_documents": "37676b49f905",
    "cms_heavy_hitters": "37676b49f905",
    "coalesce_id": "0a0b7ccf4b82",
    "containment_pairs": "18f57f48c8f0",
    "corpus_clean": "3d9de7ca031e",
    "cosine_topk": "3820fe718ad7",
    "cosine_topk_partitioned": "3820fe718ad7",
    "count_agg": "0a0b7ccf4b82",
    "csv_scan": "5454fed85e95",
    "custom_dims": "eefe3988cf1e",
    "decontam_overlap": "18f57f48c8f0",
    "dedup_by_key": "0a0b7ccf4b82",
    "dedup_cascade": "3d9de7ca031e",
    "dedup_exact": "18f57f48c8f0",
    "dedup_index_probe": "9ebda52b47bb",
    "dedup_keep_list": "18f57f48c8f0",
    "doc_fingerprint": "37676b49f905",
    "dsir_select": "3d9de7ca031e",
    "dsir_weights": "37676b49f905",
    "embedding_decontam": "3820fe718ad7",
    "embedding_keep_list": "3820fe718ad7",
    "embedding_neardup": "3820fe718ad7",
    "engage_reshape": "eefe3988cf1e",
    "event_sequences": "696164988a02",
    "explode_hits": "37676b49f905",
    "filter_nonempty": "0a0b7ccf4b82",
    "funnel": "696164988a02",
    "ga_profiles": "eefe3988cf1e",
    "ga_transform": "eefe3988cf1e",
    "gopher_quality": "37676b49f905",
    "gopher_repetition": "37676b49f905",
    "hist_quantiles": "696164988a02",
    "hypertable_rollup": "696164988a02",
    "identity_components": "c45687149fce",
    "incremental_dedup": "3c15ce770114",
    "insert_id_md5": "0a0b7ccf4b82",
    "kmv_distinct": "696164988a02",
    "label_centroids": "6507792931fc",
    "lang_id": "bd1562f6514d",
    "lsh_keep_list": "18f57f48c8f0",
    "map_merge": "0a0b7ccf4b82",
    "media_audio_features": "47e026a445e1",
    "media_dedup_keep_list": "85f8c76dd63b",
    "media_image_resize": "47e026a445e1",
    "media_meta": "47e026a445e1",
    "media_neardup": "47e026a445e1",
    "media_video_frames": "47e026a445e1",
    "merge_pairs": "0a0b7ccf4b82",
    "minhash_lsh_pairs": "18f57f48c8f0",
    "minhash_signature": "18f57f48c8f0",
    "mixture_rebalance": "37676b49f905",
    "mixture_stats": "bd1562f6514d",
    "multimodal_meta": "510e81aabb76",
    "neardup_components": "18f57f48c8f0",
    "neardup_keep_best": "18f57f48c8f0",
    "ngram_jaccard_pairs": "18f57f48c8f0",
    "part_revenue": "957c7dea2a55",
    "pii_redact": "37676b49f905",
    "pivot_status": "957c7dea2a55",
    "project_drop": "957c7dea2a55",
    "project_rename": "957c7dea2a55",
    "pushdown_filter": "957c7dea2a55",
    "quality_score": "37676b49f905",
    "range_join_active_windows": "dc8cbe128428",
    "retention": "696164988a02",
    "reverse_events": "eefe3988cf1e",
    "rolling_active_users": "696164988a02",
    "rollup_orders": "957c7dea2a55",
    "salted_join_stats": "957c7dea2a55",
    "schema_gate": "0a0b7ccf4b82",
    "seeded_shuffle": "1dfcf5fd1480",
    "segment_dedup": "bd1562f6514d",
    "semdedup_prune": "85f8c76dd63b",
    "semi_join": "957c7dea2a55",
    "session_bounds": "0a0b7ccf4b82",
    "sessionize": "696164988a02",
    "set_ops": "696164988a02",
    "simhash": "3c15ce770114",
    "simhash_pairs": "3c15ce770114",
    "stratified_sample": "37676b49f905",
    "streaming_cagg_parity": "9ebda52b47bb",
    "streaming_dedup_parity": "9ebda52b47bb",
    "streaming_incremental_parity": "9ebda52b47bb",
    "streaming_sketch_parity": "9ebda52b47bb",
    "streaming_stateful_parity": "9ebda52b47bb",
    "streaming_windowed_parity": "9ebda52b47bb",
    "substring_dedup_clean": "3c15ce770114",
    "substring_dup_spans": "3c15ce770114",
    "substring_dup_stats": "18f57f48c8f0",
    "supplier_balance": "957c7dea2a55",
    "tfidf_keywords": "bd1562f6514d",
    "time_normalize": "0a0b7ccf4b82",
    "time_shift": "0a0b7ccf4b82",
    "token_count": "bd1562f6514d",
    "topk_per_group": "957c7dea2a55",
    "tpch_q1": "957c7dea2a55",
    "tpch_q3": "957c7dea2a55",
    "tpch_q5": "957c7dea2a55",
    "tpch_q6": "957c7dea2a55",
    "union_all": "957c7dea2a55",
    "value_quantiles": "696164988a02",
    "weighted_sample": "37676b49f905",
    "when_chain": "0a0b7ccf4b82",
    "window_running": "957c7dea2a55",
    "word_freq": "bd1562f6514d",
}


def _collect() -> dict[str, QuerySpec]:
    return collect_registry(
        relational,
        events,
        bpe,
        textops,
        dedup,
        similarity,
        multimodal,
        csv_source,
        analytics,
        transform_parity,
        identity,
        asof,
        ranges,
        packing,
        streaming_parity,
        pipelines,
    )


_HASH_CACHE: dict[str, str] = {}


def normalized_source(src: bytes) -> bytes:
    """Source bytes -> the AST dump, so the rotation hash tracks CODE
    changes, not comment edits. The byte-level hash treated a `#` comment
    fix as a rewrite and bumped every query of the module ahead of
    genuinely stale rows, evicting them from the 50-row external window
    (observed in round 14: one advice-mandated comment correction flagged
    14 freshly-greened queries as 'changed since green'). ast.dump drops
    comments and formatting but keeps every literal — docstrings, oracle
    SQL strings, thresholds — so any behavioral edit still flips the
    hash. Unparseable sources (non-Python deps, syntax errors mid-edit)
    fall back to raw bytes. Hashes are interpreter-version-dependent
    (ast.dump format); they are regenerated per round on one machine and
    never compared across interpreters."""
    import ast

    try:
        return ast.dump(ast.parse(src.decode("utf-8"))).encode()
    except (SyntaxError, UnicodeDecodeError):
        return src


def code_hash(modname: str) -> str:
    """Current working-tree hash (comment-insensitive — see
    normalized_source) of a module file + its ROTATION_DEPS."""
    h = _HASH_CACHE.get(modname)
    if h is None:
        import hashlib

        md5 = hashlib.md5()
        for rel in module_relpaths(modname):
            repo = _repo_root()
            try:
                with open(f"{repo}/{rel}", "rb") as f:
                    md5.update(normalized_source(f.read()))
            except OSError:
                pass
        h = _HASH_CACHE[modname] = md5.hexdigest()[:12]
    return h


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def module_relpaths(modname: str) -> list[str]:
    """Repo-relative source files the rotation hash covers for a module:
    the module itself plus its declared ROTATION_DEPS (one level)."""
    import importlib
    import os

    repo = _repo_root()
    mod = importlib.import_module(modname)
    paths = {os.path.relpath(mod.__file__, repo)}
    for dep in getattr(mod, "ROTATION_DEPS", ()):
        d = importlib.import_module(dep)
        paths.add(os.path.relpath(d.__file__, repo))
    return sorted(paths)


def changed_since_green(reg: dict[str, QuerySpec] | None = None) -> set[str]:
    """Queries whose implementing code changed after their last external
    green (recorded hash != current hash). Never-checked rows excluded —
    they already lead the window."""
    if reg is None:
        reg = _collect()
    out = set()
    for q, recorded in _CHECKED_SRC.items():
        if _LAST_EXTERNAL.get(q, 0) > 0 and q in reg:
            if recorded != code_hash(reg[q].fn.__module__):
                out.add(q)
    return out


def _derive_order(
    last_external: dict[str, int],
    canaries: tuple[str, ...],
    changed: set[str],
) -> list[str]:
    """Pure ordering rule (unit-testable): never-checked first, canaries
    pinned, then changed-since-green rows by (staleness, name) — code
    changed after its last hard check outranks plain staleness — then
    the unchanged rest by (staleness, name)."""
    never = sorted(q for q, r in last_external.items() if r == 0)
    pool = [
        q for q, r in last_external.items() if r > 0 and q not in canaries
    ]
    bumped = sorted(
        (q for q in pool if q in changed),
        key=lambda q: (last_external[q], q),
    )
    rest = sorted(
        (q for q in pool if q not in changed),
        key=lambda q: (last_external[q], q),
    )
    return never + list(canaries) + bumped + rest


def ordered_names(reg: dict[str, QuerySpec] | None = None) -> list[str]:
    """Registry order derived from the rotation log + code-change log."""
    if reg is None:
        reg = _collect()
    return _derive_order(_LAST_EXTERNAL, _CANARIES, changed_since_green(reg))


def registry() -> dict[str, QuerySpec]:
    reg = _collect()
    order = ordered_names(reg)
    missing = [n for n in order if n not in reg]
    extra = [n for n in reg if n not in order]
    if missing or extra:
        raise ValueError(
            f"registry/_LAST_EXTERNAL drift: missing={missing} unlisted={extra} — "
            "every registered query needs a rotation-log row (0 = never "
            "externally checked)"
        )
    return {n: reg[n] for n in order}


__all__ = [
    "registry",
    "QuerySpec",
    "ordered_names",
    "WINDOW_SIZE",
    "changed_since_green",
    "code_hash",
    "module_relpaths",
]
