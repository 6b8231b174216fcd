"""Query registry: every implemented operator as a (builder, oracle) pair.

This is the engine's testable surface and the driver contract's backbone
(``__spark_entry__.queries()`` / ``oracle_sql()``): each named query has a
PySpark builder ``(spark, sf_dir) -> DataFrame`` and, where the semantics
are SQL-expressible, an equivalent ANSI-SQL oracle string that DuckDB runs
on identical Parquet — the same differential-oracle role DuckDB plays inside
the reference architecture (it *is* the reference's executor,
``/root/reference/api-service/src/query_engine.py:137``).
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import re
import textwrap
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    #: ANSI SQL DuckDB can run on the same parquet views; None => the
    #: operator is not SQL-expressible and gets a rows-only check.
    oracle: str | None
    description: str = ""
    #: SURVEY.md §2 operator ids this query covers (e.g. "B5", "A2").
    covers: tuple[str, ...] = field(default=())


#: name -> spec; populated by operator modules at import time.
REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    covers: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: add a query builder to the registry."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, description, covers)
        return fn

    return deco


#: Queries with a green CORRECTNESS row in a prior round (hash-pass or
#: rows-only for oracle-less ops). The driver verifies only the FIRST ~50
#: registry entries per round, so ``all_queries`` orders these LAST: the
#: verification window is spent on queries that still need a row. Regenerated
#: each round by ``scripts/update_verified.py --write`` from
#: CORRECTNESS_r*.json — the block between the BEGIN/END markers below,
#: including the per-round curation note, is GENERATED (VERDICT r12 #2:
#: the pending count is recomputed and asserted by the script, never
#: hand-written). A query whose builder source changed since its green
#: row is rotated back automatically via ``VERIFIED_SOURCE_HASHES``
#: (see ``all_queries``).
# --- BEGIN GENERATED VERIFIED ROTATION (scripts/update_verified.py) ---
# Round-15 curation: regenerated from
# CORRECTNESS_r01.json..CORRECTNESS_r14.json (271 kept). Recomputed
# pending set (registered - verified): 11 <= window 50. Held out (deep
# rewrites the wrapper hash cannot see): bpe_merge_step,
# incremental_dedup, ivf_probe_cost_profile, ivf_recall_trained_vs_seed,
# kmeans_lloyd_step, kmeans_train_readout, simhash_pairs,
# streaming_incremental_dedup.
VERIFIED_PRIOR_ROUNDS: frozenset[str] = frozenset({
    "ann_blocked_neardup",
    "ann_cosine_topk",
    "ann_index_layout",
    "ann_probe_depth_sweep",
    "ann_quantized_rescore",
    "ann_recall_eval",
    "ann_recall_vs_k",
    "approx_sketches",
    "approx_sketches_twin",
    "basket_lift",
    "benchmark_leakage_by_split",
    "benford_leading_digit",
    "bigram_rare_ratio",
    "bloom_fpr_eval",
    "bm25_search",
    "bm25_search_indexed",
    "boilerplate_score",
    "brand_size_skyline",
    "burst_detection",
    "centroid_similarity_matrix",
    "changepoint_cusum",
    "charclass_profile",
    "churned_buyers",
    "cluster_balanced_sample",
    "code_switch_share",
    "cohort_retention",
    "contamination_by_source",
    "contamination_span_profile",
    "context_fit_histogram",
    "context_truncation_loss",
    "conversion_funnel",
    "corpus_curation",
    "corpus_rollup",
    "corr_matrix",
    "count_min_tokens",
    "count_star",
    "cross_split_neardup_leakage",
    "cumulative_distinct_users",
    "curriculum_stage_histogram",
    "customer_order_distribution",
    "customer_order_gaps",
    "customer_spend_quartiles",
    "dataset_split",
    "decayed_activity_topk",
    "decontamination",
    "decontamination_bloom",
    "dedup_canonical",
    "dedup_cluster_sizes",
    "dedup_clusters",
    "dedup_exact",
    "dedup_fingerprint",
    "dedup_quality_shift",
    "dedup_rate_by_source",
    "dedup_threshold_sweep",
    "dim_variance_screen",
    "disjunctive_revenue",
    "doc_chunks",
    "doc_embedding_alignment",
    "doc_prefix_cluster_profile",
    "doc_rarity_topk",
    "doc_repetition",
    "domain_dedup_profile",
    "dominant_lang_share",
    "dup_source_matrix",
    "embedding_centroids",
    "embedding_drift",
    "embedding_health_audit",
    "embedding_neardup",
    "embedding_pca_step",
    "embedding_project",
    "embedding_quantize",
    "epoch_plan",
    "event_funnel",
    "event_heatmap",
    "event_path_topk",
    "event_transition_matrix",
    "event_transitions",
    "event_value_pivot",
    "excess_order_counts",
    "fingerprint",
    "frame_sample",
    "fulfillment_latency",
    "gap_filled_hourly",
    "group_by",
    "group_ksample",
    "hard_negative_mining",
    "heavy_hitters",
    "idle_customers",
    "important_stock",
    "incremental_scan",
    "intra_doc_repetition",
    "inventory_turnover_topk",
    "ivf_ann_topk",
    "ivf_ann_topk_trained",
    "ivf_assign",
    "ivf_list_balance_trained",
    "join_broadcast_dims",
    "join_fact_dim",
    "json_props_stats",
    "key_skew_histogram",
    "kmv_distinct",
    "kmv_distinct_by_source",
    "kmv_overlap",
    "kmv_union_distinct",
    "knn_classify",
    "knn_graph_degree_audit",
    "label_centroid_confusion",
    "label_cohesion",
    "lang_id",
    "lang_source_chi2",
    "langid_confusion",
    "large_orders",
    "latest_event_per_user",
    "leakage_safe_split",
    "length_drift",
    "lexical_diversity",
    "local_supplier_volume",
    "lorenz_deciles",
    "lsh_ann_multiprobe",
    "lsh_ann_topk",
    "lsh_candidate_budget",
    "mad_length_outliers",
    "matched_order_counts",
    "max_watermark",
    "measures_unpivot",
    "media_aspect_buckets",
    "media_chunk_plan",
    "media_decode_budget",
    "media_frame_features",
    "media_phash_neardup",
    "media_type_profile",
    "min_cost_supplier",
    "minhash_error_eval",
    "minhash_lsh_pairs",
    "minhash_pr_eval",
    "mixture_rebalance",
    "mixture_temperature_profile",
    "mmr_rerank_topk",
    "moving_spend_90d",
    "multimodal_features",
    "name_edit_neardup",
    "nation_market_share",
    "nation_revenue_share",
    "nation_trade_volume",
    "ngram_containment",
    "ngram_jaccard_guarded",
    "ngram_jaccard_pairs",
    "open_orders_timeline",
    "order_by",
    "order_gap_stats",
    "order_priority_check",
    "order_reconciliation",
    "order_seasonality",
    "orphan_events_audit",
    "pack_efficiency",
    "pack_sequences",
    "pattern_match_topk",
    "pii_by_split",
    "pii_cooccurrence_matrix",
    "pii_redact",
    "pii_redaction_impact",
    "pii_scan",
    "pii_scrub",
    "postings_layout",
    "price_percentiles",
    "pricing_summary",
    "priority_shipping",
    "product_type_profit",
    "promo_revenue",
    "prototypicality_profile",
    "purchase_attribution",
    "quality_by_lang",
    "quality_canonical_dedup",
    "quality_filter_funnel",
    "quality_quantile_normalize",
    "quality_score",
    "quality_vs_dup_correlation",
    "quantization_error_profile",
    "range_partition_boundaries",
    "rate_limit_audit",
    "referential_integrity",
    "repeat_buyers",
    "retention_cohorts",
    "revenue_abc_classes",
    "revenue_forecast",
    "revenue_mom_growth",
    "revenue_trend_ols",
    "rfm_segments",
    "rolling_active_users",
    "rrf_fusion",
    "sales_cube",
    "sales_grouping_sets",
    "sales_rollup",
    "salted_segment_sales",
    "scd2_state_history",
    "segment_dedup_profile",
    "select_all",
    "select_columns",
    "semdedup_canonical",
    "series_anomalies",
    "series_autocorr",
    "series_similarity_topk",
    "session_concurrency",
    "session_dwell_stats",
    "sessionize_events",
    "shard_manifest",
    "shingle_df_histogram",
    "shingle_size_sensitivity",
    "shipping_priority",
    "small_order_revenue",
    "snapshot_diff_audit",
    "sole_returning_supplier",
    "source_cap",
    "source_length_quartiles",
    "source_mixture",
    "source_overlap_matrix",
    "source_signature_terms",
    "span_removal",
    "spend_gini",
    "split_lang_balance_audit",
    "split_mixture_audit",
    "stats_moments",
    "stickiness_ratio",
    "stocked_parts_promotion",
    "stratified_sample",
    "streaming_burst_flags",
    "streaming_enriched_counts",
    "streaming_exact_dedup",
    "streaming_media_chunks",
    "streaming_pii_gate",
    "streaming_quality_gate",
    "streaming_sessions",
    "streaming_sessions_timeout",
    "streaming_sliding_counts",
    "streaming_tumbling_counts",
    "streaming_view_clicks",
    "substring_dedup",
    "summary_view",
    "supplier_concentration_hhi",
    "supplier_hhi_histogram",
    "supplier_variety",
    "table_profile",
    "text_stats",
    "time_bucket_rollup",
    "time_weighted_value",
    "token_budget_selection",
    "token_cooccurrence",
    "token_fertility_by_lang",
    "token_frequencies",
    "tokenizer_compression",
    "top_k",
    "top_returned_customers",
    "top_supplier_revenue",
    "top_terms",
    "training_order",
    "uniform_ksample",
    "user_diversity_histogram",
    "value_band_join",
    "value_histogram",
    "value_outliers_mad",
    "vector_quality_audit",
    "view_click_interval",
    "vocab_coverage_curve",
    "vocab_gini",
    "vocab_growth",
    "weighted_sample",
    "where_filter",
    "window_running_total",
    "window_topn_per_group",
    "windowed_agg",
    "winsorized_stats",
})
# --- END GENERATED VERIFIED ROTATION ---


def _is_stable_const(value: object) -> bool:
    """True only for deeply-immutable values whose repr is a pure
    function of the SOURCE. Mutable module globals (lazy caches such as
    ``similarity._PLANE_CACHE``) and identity objects (``object()``
    sentinels — repr carries a memory address) are runtime state, not
    code: folding them would rotate consumers on every process or
    every cache fill. Answer-affecting mutable constants, if one ever
    exists, must be declared in ``_answer_helper_sources``."""
    if value is None or isinstance(value, (str, int, float, bool, bytes)):
        return True
    if isinstance(value, (tuple, frozenset)):
        return all(_is_stable_const(v) for v in value)
    return False


def _stable_repr(value: object) -> str:
    """Deterministic repr for helper constants: set/frozenset iteration
    order depends on PYTHONHASHSEED, so render them sorted — an unstable
    repr would hash differently per process and spuriously rotate every
    consumer."""
    if isinstance(value, (set, frozenset)):
        return "{" + ", ".join(sorted(_stable_repr(v) for v in value)) + "}"
    if isinstance(value, (list, tuple)):
        inner = ", ".join(_stable_repr(v) for v in value)
        return ("[%s]" if isinstance(value, list) else "(%s)") % inner
    if isinstance(value, dict):
        return (
            "{"
            + ", ".join(
                f"{_stable_repr(k)}: {_stable_repr(v)}"
                for k, v in value.items()
            )
            + "}"
        )
    return repr(value)


@functools.lru_cache(maxsize=1)
def _answer_helper_sources() -> tuple[tuple[str, str], ...]:
    """Declared ANSWER-AFFECTING shared helpers: (trigger name, source).

    VERDICT r13 #1: ``spec_source_hash`` hashing only the builder's own
    source left a blind spot — an edit to a shared helper (split
    hashing, quality scoring, fingerprinting, the decimal-sum bridge,
    the XXH64 oracle stack) changed the SEMANTICS of dozens of pinned
    queries without rotating any of them back into the driver's
    verification window. This table declares those helpers; any builder
    whose source references a trigger name folds that helper's source
    into its pin (transitively — a helper referencing another declared
    helper folds it too, so ``split_bucket``'s consumers rotate when
    the ``_FOLD``/``_KNUTH`` constants it reads change).

    Deliberately NOT declared:
    - plan-only helpers (``functions/broadcast.py``): broadcast hints
      are answer-neutral by construction (r13's ceiling change re-greened
      untouched under spillover), and declaring them would rotate the
      whole join family on every tuning pass;
    - universal infrastructure (``sources/parquet.load_table``,
      ``session.py``): every query uses them, so a change can never fit
      the ~50-row driver window — the local all-query differential gate
      (``tests/test_oracle_parity.py``) is the guard there, not rotation.
    """
    from ser_etl_spark import artifacts, oracle_hash
    from ser_etl_spark.functions import numeric
    from ser_etl_spark.operators import (
        curation,
        dedup,
        multimodal,
        sampling,
        similarity,
        text,
    )

    helpers: dict[str, str] = {}

    def fn(*fns: Callable) -> None:
        for f in fns:
            helpers[f.__name__] = textwrap.dedent(inspect.getsource(f))

    def const(mod: object, *names: str) -> None:
        for n in names:
            helpers[n] = _stable_repr(getattr(mod, n))

    def module(mod: object) -> None:
        """Whole-module helper: any name DEFINED at the module's top
        level triggers a fold of the full module source."""
        src = inspect.getsource(mod)
        for n, v in vars(mod).items():
            if n.startswith("__") or n == "annotations" or inspect.ismodule(v):
                continue
            owner = getattr(v, "__module__", None)
            if owner is not None and owner != mod.__name__:
                continue  # imported function/class, not defined here
            helpers[n] = src

    # cross-engine numeric bridge + Spark-compatible XXH64 oracle stack +
    # artifact staleness/resolution plumbing: whole-module triggers
    module(numeric)
    module(oracle_hash)
    module(artifacts)

    # split / sampling hash family
    fn(
        sampling.split_bucket,
        sampling.sql_split_bucket,
        sampling.hash_u32,
        sampling.sql_hash_u32,
        sampling.assign_split,
    )
    const(sampling, "DEFAULT_SPLITS", "_KNUTH", "_MOD", "_FOLD")

    # text quality / fingerprint / tokenization family
    fn(
        text.quality_score,
        text.quality_cols,
        text.fingerprint,
        text.funnel_stage_flags,
        text.bm25_search,
        text._bm25_oracle,
    )
    const(
        text,
        "QUALITY_ORACLE_SQL",
        "TOKEN_REGEX",
        "PII_PATTERNS",
        "_STOPWORDS",
        "FUNNEL_MIN_TOKENS",
        "FUNNEL_WLEN_LO",
        "FUNNEL_WLEN_HI",
        "FUNNEL_DISTINCT_X10",
    )

    # dedup shingle/band/cluster family
    fn(
        dedup.shingle_rows,
        dedup.duplicate_clusters,
        dedup.delta_dedup_pairs,
        dedup.ensure_minhash_bands,
        curation.shingle_rows_counted,
    )
    const(dedup, "_DELTA_MOD", "_DELTA_REM")

    # embedding / ANN family (shared cosine + trained-quantizer helpers)
    fn(
        similarity.cosine_topk,
        similarity.ivf_assign,
        similarity._trained_cents,
        similarity._ivf_assign_oracle,
        similarity._dim,
        similarity._dot_cols_sql,
        similarity._dot_lit_sql,
        similarity._duck_cos4,
        similarity._duck_dot,
        similarity._duck_f,
        similarity._duck_norm,
    )
    const(similarity, "EMB_DIM", "IVF_CENTROIDS")

    # multimodal chunk-plan helpers shared with the streaming twin
    fn(
        multimodal.media_chunk_rollup,
        multimodal.with_fake_payload,
    )

    return tuple(sorted(helpers.items()))


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def spec_source_hash(
    spec: QuerySpec,
    helper_sources: dict[str, str] | None = None,
) -> str | None:
    """Cached front door for :func:`_spec_source_hash_uncached` (the
    closure walk costs ~10 ms per spec and ``all_queries`` hashes every
    registered spec on each call — uncached, that is seconds per call
    across the test suite). Source text is stable within a process, so
    the cache is sound; the ``helper_sources`` test seam bypasses it.
    """
    if helper_sources is not None:
        return _spec_source_hash_uncached(spec, helper_sources)
    return _spec_source_hash_cached(spec)


@functools.lru_cache(maxsize=4096)
def _spec_source_hash_cached(spec: QuerySpec) -> str | None:
    return _spec_source_hash_uncached(spec, None)


def _spec_source_hash_uncached(
    spec: QuerySpec,
    helper_sources: dict[str, str] | None = None,
) -> str | None:
    """sha256[:12] over the builder's (dedented) source, the oracle SQL,
    and the source of everything the builder transitively references:
    declared answer-affecting helpers (see ``_answer_helper_sources``)
    plus every function/class/constant defined in the builder's own
    module that its closure reaches — so editing a module-level
    implementation function (the thin-wrapper pattern) or a constant it
    reads rotates the query even though the wrapper text is untouched.

    Used to detect "implementation changed since its green CORRECTNESS
    row": ``scripts/update_verified.py`` records the hash at regeneration
    time and ``all_queries`` rotates any mismatching query back into the
    driver's verification window. Hashing the oracle text too catches
    SQL-side fixes whose builder is untouched. Helper matching is by
    identifier token, so an aliased import (``import x as y``) inside a
    builder escapes it — the repo convention is to import helpers under
    their real names; manual curation of ``VERIFIED_PRIOR_ROUNDS``
    (``update_verified.py --exclude``) still applies for rewrites the
    token scan cannot see.

    ``helper_sources`` overrides the declared helper table — test
    seam for proving that mutating a helper rotates its consumers.
    """
    import sys

    try:
        src = textwrap.dedent(inspect.getsource(spec.builder))
    except (OSError, TypeError):
        return None
    helpers = (
        dict(_answer_helper_sources())
        if helper_sources is None
        else helper_sources
    )
    # The builder's own defining module: most registered builders are
    # thin wrappers over a module-level implementation function
    # (``leakage_safe_split_query`` -> ``leakage_safe_split``), so the
    # closure must reach same-module functions/classes/constants too —
    # otherwise an impl-function edit never rotates its query.
    mod_name = getattr(spec.builder, "__module__", None)
    mod = sys.modules.get(mod_name) if mod_name else None
    local = vars(mod) if mod is not None else {}

    # Fixpoint: scan the builder source (and each folded FUNCTION
    # source) for identifier tokens; fold every transitively reached
    # declared helper and same-module definition. Constant reprs are
    # folded but not re-scanned (values cannot reference code; their
    # string contents would only produce spurious tokens).
    matched: dict[str, str] = {}
    seen_tokens: set[str] = set()
    frontier = [src]
    while frontier:
        tokens: set[str] = set()
        for t in frontier:
            tokens.update(_IDENT.findall(t))
        tokens -= seen_tokens
        seen_tokens |= tokens
        frontier = []
        for name in tokens:
            if name in matched or name.startswith("__"):
                continue
            if name in helpers:
                matched[name] = helpers[name]
                frontier.append(helpers[name])
                continue
            if name == "annotations" or name not in local:
                continue
            v = local[name]
            if inspect.ismodule(v):
                continue
            if inspect.isfunction(v) or inspect.isclass(v):
                if getattr(v, "__module__", None) != mod_name:
                    continue  # imported from elsewhere (universal infra
                    # like load_table stays out by design — see
                    # _answer_helper_sources)
                try:
                    hsrc = textwrap.dedent(inspect.getsource(v))
                except (OSError, TypeError):
                    continue
                matched[name] = hsrc
                frontier.append(hsrc)
            elif not callable(v) and _is_stable_const(v):
                matched[name] = _stable_repr(v)
    blob = src + "\x00" + (spec.oracle or "")
    for name in sorted(matched):
        blob += f"\x00helper:{name}\x00{matched[name]}"
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def all_queries() -> dict[str, QuerySpec]:
    """Import every operator module and return the full registry.

    Order matters: unverified-first (see ``VERIFIED_PRIOR_ROUNDS``), then
    the already-verified tail in registration order.
    """
    # Imports are deferred so `import ser_etl_spark` stays cheap.
    from ser_etl_spark.operators import (  # noqa: F401
        analytics,
        curation,
        dedup,
        join_shapes,
        multimodal,
        packing,
        partsupp,
        pipeline,
        profiling,
        ranges,
        relational,
        retrieval,
        sampling,
        semistructured,
        setops,
        similarity,
        sketches,
        skew,
        statistics,
        streaming_bridge,
        temporal,
        text,
        timeseries,
    )

    try:
        from ser_etl_spark._verified_hashes import VERIFIED_SOURCE_HASHES
    except ImportError:  # generated file absent: fall back to the name set
        VERIFIED_SOURCE_HASHES = {}

    def _is_verified(spec: QuerySpec) -> bool:
        if spec.name not in VERIFIED_PRIOR_ROUNDS:
            return False
        recorded = VERIFIED_SOURCE_HASHES.get(spec.name)
        if recorded is None:
            return True
        current = spec_source_hash(spec)
        # Unhashable (no source) => can't prove a change; keep verified.
        return current is None or current == recorded

    pending = {n: s for n, s in REGISTRY.items() if not _is_verified(s)}
    verified = {n: s for n, s in REGISTRY.items() if _is_verified(s)}
    # Oracle-backed pending entries first: they get the strong
    # (rows+schema+value-hash) check, so they must not be crowded out of
    # the window by rows-only entries whose driver check is weaker than
    # the pytest invariants that already cover them.
    pending_oracle = {n: s for n, s in pending.items() if s.oracle is not None}
    pending_rows_only = {n: s for n, s in pending.items() if s.oracle is None}
    return {**pending_oracle, **pending_rows_only, **verified}
