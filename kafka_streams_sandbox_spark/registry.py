"""Query registry: the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as
``(name, spark_fn, oracle_sql)``. ``__spark_entry__.queries()`` /
``oracle_sql()`` read straight from this module; tests iterate it too.

``oracle_sql=None`` marks a genuinely non-SQL-expressible operator
(LSH/MinHash banding, streaming jobs) — the driver then records a
weaker rows-only check, which is the honest label for those.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Import order IS driver execution order (decorators register on
# import, and the driver walks queries() in registration order under a
# global time budget — rounds 1 and 2 were each cut off near the 50th
# query, leaving the tail unverified). Module order is a coarse
# ordering; REVERIFY_FIRST below is the fine one.
_OPERATOR_MODULES = (
    "kafka_streams_sandbox_spark.operators.multimodal",
    "kafka_streams_sandbox_spark.streaming.ktable",
    "kafka_streams_sandbox_spark.streaming.windows",
    "kafka_streams_sandbox_spark.streaming.app",
    "kafka_streams_sandbox_spark.streaming.ddl",
    # pipeline next: b64-b71 are round-2 additions with no driver
    # verdict yet, so they must register ahead of the families the
    # round-1 run already hash-verified.
    "kafka_streams_sandbox_spark.operators.pipeline",
    "kafka_streams_sandbox_spark.operators.curation",
    "kafka_streams_sandbox_spark.operators.packing",
    "kafka_streams_sandbox_spark.operators.privacy",
    "kafka_streams_sandbox_spark.operators.skew",
    "kafka_streams_sandbox_spark.operators.relational",
    "kafka_streams_sandbox_spark.operators.semantic",
    "kafka_streams_sandbox_spark.operators.text",
    "kafka_streams_sandbox_spark.operators.similarity",
    "kafka_streams_sandbox_spark.operators.extended",
    "kafka_streams_sandbox_spark.operators.dedup",
    "kafka_streams_sandbox_spark.operators.selection",
    "kafka_streams_sandbox_spark.operators.attributes",
)

# Queries that MUST land inside the driver's ~50-query verification
# window this round, ahead of every already-green family: anything NEW
# or CHANGED since its last green CORRECTNESS row. Round 2's trap was
# front-loading only *new* queries — the six queries *rewritten* that
# round fell past the cutoff and kept stale rows (VERDICT r2 #1).
# Maintain this list every round: add each query you touch; prune once
# its fresh driver row lands.
REVERIFY_FIRST: tuple[str, ...] = (
    # --- shared sink runner (run_batches + committed_state reads) ---
    "a28_stream_incremental_neardup",
    "a29_stream_selfseed_neardup",
    "a30_stream_repetition_gate",
    "a31_stream_pq_encode",
    "a32_stream_curation_funnel",
    "a33_stream_lm_gate",
    "a34_stream_full_funnel",
    "a35_stream_paragraph_dedup",
    "a36_span_compaction",
    "a37_stream_graded_funnel",
    "a38_stream_dsir_gate",
    "a39_stream_bpe_segment",
    "a40_stream_decontaminate",
    "a41_stream_quality_classifier",
    "a42_stream_unigram_segment",
    "a43_stream_attribute_append",
    # --- changed store layout (delta log + size-triggered compaction) ---
    "a08_stream_tombstone_store",
    "a09_app_interactive_query",
    # --- round-13 ordering (VERDICT r12 #3): new + changed queries
    # first (the r2 stale-row rule: every touched query re-rows),
    # then the r9-aged rows — after this round the latest-row
    # histogram's max age is r10.
    # --- NEW in round 13 (no driver row exists yet) ---
    "b126_attribute_curation_funnel",  # b100 with gates reading the
                                       # b124 attributes (VERDICT
                                       # r12 #1)
    "b127_attribute_graded_funnel",    # b113's quality frame from
                                       # attributes
    # --- changed in round 13 ---
    "b124_quality_attributes",         # +source/fingerprint columns
                                       # (oracle extended to match)
    "b125_attribute_gated_funnel",     # cascade factored into
                                       # gate_cascade (shared w/ a43)
    "a03_stream_peek",                 # bounded driver tap (VERDICT
                                       # r12 wrong-item #1)
    # --- changed in the r13 OPTIMIZATION round (stepwise cosine
    # kernel + guarded_norm_rows barrier; b33/b34/b39_embedding/b94
    # are already re-rowed below in the r9-aged block) ---
    "b81_lang_centroid_outliers",      # norm barrier on centroid input
    "b35_ann_random_projection",       # _vectors barrier
    "b91_ann_ivf_scaled_cells",        # _vectors barrier
    "b92_ann_ivf_kmeans",              # guarded_unit_vectors barrier
    "b93_semantic_dedup",              # _vectors barrier
    "b96_lsh_embedding_neardup_scaled",  # _vectors barrier
    # --- the r9-aged rows (VERDICT r12 #3; a33 moved to the top) ---
    "b103_temperature_mixture",
    "b105_winnowing_fingerprints",
    "b106_ivfpq_ann",
    "b109_winnowing_coverage",
    "b111_lm_bucket_mixture",
    "b115_winnowing_coverage_capped",
    "b15_scalar_functions",
    "b17_latest_per_user",
    "b18_table_filter_key_eq_value",
    "b19_tumbling_window_agg",
    "b20_sessionization",
    "b21_exact_dedup",
    "b23_text_stats",
    "b26_ngram_jaccard_pairs",
    "b27_minhash_lsh_dedup",
    "b28_simhash_dedup",
    "b29_language_id",
    "b30_quality_score",
    "b31_token_count",
    "b32_fingerprint",
    "b33_cosine_topk",
    "b34_ann_ivf_label",
    "b39_embedding_neardup",
    "b39_lsh_embedding_neardup",
    "b44_cosine_topk_arrow",
    "b48_hybrid_search",
    "b50_salted_agg",
    "b51_sliding_window_agg",
    "b53_rolling_hash",
    "b58_tfidf_top_terms",
    "b64_stratified_sample",
    "b67_mixture_sample",
    "b71_corpus_curation",
    "b79_stopword_prune",
    "b94_semantic_dedup_exact",
    "b98_incremental_neardup",
)


def _reorder(mapping: dict) -> dict:
    """Priority queries first (in REVERIFY_FIRST order), then the rest
    in registration order. Applied identically to queries and oracles
    so the driver sees one consistent order."""
    head = {k: mapping[k] for k in REVERIFY_FIRST if k in mapping}
    tail = {k: v for k, v in mapping.items() if k not in head}
    return {**head, **tail}


_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query function and its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load() -> None:
    """Import all operator modules so their @query decorators run."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        import_module(mod)
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    load()
    return _reorder(QUERIES)


def all_oracles() -> dict[str, str]:
    load()
    return _reorder(ORACLES)
