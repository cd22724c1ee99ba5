"""Query registry: the single source of truth binding every implemented
operator to (a) a ``(spark, sf_dir) -> DataFrame`` callable and (b) its
DuckDB oracle SQL (None for non-SQL-expressible ops -> the driver records a
weaker rows-only check).

``__spark_entry__.py`` re-exports this; tests iterate it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import normalize_runtime_conf
from .sources.io import load_table


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


REGISTRY: dict[str, Query] = {}


def materialize_ctes(sql: str | None) -> str | None:
    """Add DuckDB's ``AS MATERIALIZED`` hint to every CTE of an oracle
    query (r13, guide §1 measure-first applied to the VERIFY side):
    DuckDB inlines CTEs by default, so the deeply composed funnel
    oracles re-evaluated shared relations per reference -- measured at
    sf0.001: curation_run_ledger 297 s -> 2.4 s, mmr_rerank_ann
    66 -> 0.8 s, shard_epoch_ledger 70 -> 0.7 s, training_run_manifest
    29 -> 0.6 s, every compared row identical (the hint changes
    evaluation strategy, never semantics). Applied at the registry
    boundary so the declared per-module ORACLE_SQL stays the readable
    spec; tests/oracle_util applies the same transform."""
    if not sql:
        return sql
    import re

    # lookahead pins the rewrite to CTE definitions (body starts with
    # SELECT/WITH/VALUES); named WINDOW clauses ("WINDOW w7 AS (...)")
    # share the "name AS (" shape but their body starts with
    # PARTITION/ORDER/frame keywords and must stay untouched
    return re.sub(
        r"(\w+) AS \((\s*)(?=SELECT|WITH|VALUES)",
        r"\1 AS MATERIALIZED (\2",
        sql,
        flags=re.IGNORECASE,
    )


def register(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            normalize_runtime_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = Query(name, wrapped, materialize_ctes(oracle))
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# MapReduce application queries (SURVEY.md §2.B)
# --------------------------------------------------------------------------
from .operators import apps  # noqa: E402


@register("wc", apps.ORACLE_SQL["wc"])
def q_wc(spark, sf_dir):
    return apps.word_count(_t(spark, sf_dir, "documents"))


@register("wc_ws", apps.ORACLE_SQL["wc_ws"])
def q_wc_ws(spark, sf_dir):
    return apps.word_count_ws(_t(spark, sf_dir, "documents"))


@register("inverted_index", apps.ORACLE_SQL["inverted_index"])
def q_inverted_index(spark, sf_dir):
    return apps.inverted_index(_t(spark, sf_dir, "documents"))


@register("crash_payload", apps.ORACLE_SQL["crash_payload"])
def q_crash_payload(spark, sf_dir):
    return apps.crash_payload(_t(spark, sf_dir, "documents"))


@register("per_doc_count", apps.ORACLE_SQL["per_doc_count"])
def q_per_doc_count(spark, sf_dir):
    return apps.per_doc_count(_t(spark, sf_dir, "documents"))


@register("parallelism_probe", apps.ORACLE_SQL["parallelism_probe"])
def q_parallelism_probe(spark, sf_dir):
    return apps.parallelism_probe(_t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Relational suite (joins / windows / set ops / JSON / sessionization)
# --------------------------------------------------------------------------
from .operators import relational as rel  # noqa: E402


@register("q1_pricing_summary", rel.ORACLE_SQL["q1_pricing_summary"])
def q_q1(spark, sf_dir):
    return rel.q1_pricing_summary(_t(spark, sf_dir, "lineitem"))


@register("q3_top_orders", rel.ORACLE_SQL["q3_top_orders"])
def q_q3(spark, sf_dir):
    return rel.q3_top_orders(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register("q5_region_revenue", rel.ORACLE_SQL["q5_region_revenue"])
def q_q5(spark, sf_dir):
    return rel.q5_region_revenue(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register("q4_order_priority", rel.ORACLE_SQL["q4_order_priority"])
def q_q4(spark, sf_dir):
    return rel.q4_order_priority(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@register("q7_volume_shipping", rel.ORACLE_SQL["q7_volume_shipping"])
def q_q7(spark, sf_dir):
    return rel.q7_volume_shipping(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@register("q10_returned_items", rel.ORACLE_SQL["q10_returned_items"])
def q_q10(spark, sf_dir):
    return rel.q10_returned_items(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


@register("q13_order_distribution", rel.ORACLE_SQL["q13_order_distribution"])
def q_q13(spark, sf_dir):
    return rel.q13_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register("q14_promo_revenue", rel.ORACLE_SQL["q14_promo_revenue"])
def q_q14(spark, sf_dir):
    return rel.q14_promo_revenue(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


@register("top_supplier_revenue", rel.ORACLE_SQL["top_supplier_revenue"])
def q_q15(spark, sf_dir):
    return rel.top_supplier_revenue(
        _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "lineitem")
    )


@register("q2_min_cost_supplier", rel.ORACLE_SQL["q2_min_cost_supplier"])
def q_q2(spark, sf_dir):
    return rel.q2_min_cost_supplier(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "lineitem"),
    )


@register("q11_important_parts", rel.ORACLE_SQL["q11_important_parts"])
def q_q11(spark, sf_dir):
    return rel.q11_important_parts(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "lineitem"),
    )


@register("q20_excess_suppliers", rel.ORACLE_SQL["q20_excess_suppliers"])
def q_q20(spark, sf_dir):
    return rel.q20_excess_suppliers(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(
    "q18_large_volume_customers", rel.ORACLE_SQL["q18_large_volume_customers"]
)
def q_q18(spark, sf_dir):
    return rel.q18_large_volume_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register("q8_market_share", rel.ORACLE_SQL["q8_market_share"])
def q_q8(spark, sf_dir):
    return rel.q8_market_share(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register("q9_product_profit", rel.ORACLE_SQL["q9_product_profit"])
def q_q9(spark, sf_dir):
    return rel.q9_product_profit(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )


@register("q12_shipping_delay", rel.ORACLE_SQL["q12_shipping_delay"])
def q_q12(spark, sf_dir):
    return rel.q12_shipping_delay(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@register("q16_supplier_part_variety", rel.ORACLE_SQL["q16_supplier_part_variety"])
def q_q16(spark, sf_dir):
    return rel.q16_supplier_part_variety(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


@register("q17_small_quantity_revenue", rel.ORACLE_SQL["q17_small_quantity_revenue"])
def q_q17(spark, sf_dir):
    return rel.q17_small_quantity_revenue(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


@register("q19_disjunctive_revenue", rel.ORACLE_SQL["q19_disjunctive_revenue"])
def q_q19(spark, sf_dir):
    return rel.q19_disjunctive_revenue(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


@register("q21_waiting_suppliers", rel.ORACLE_SQL["q21_waiting_suppliers"])
def q_q21(spark, sf_dir):
    return rel.q21_waiting_suppliers(
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register("q22_sales_opportunity", rel.ORACLE_SQL["q22_sales_opportunity"])
def q_q22(spark, sf_dir):
    return rel.q22_sales_opportunity(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


from .operators import temporal  # noqa: E402


# Cohort retention matrix: first-week cohorts x week offsets.
@register("cohort_retention", temporal.ORACLE_SQL["cohort_retention"])
def q_cohort_retention(spark, sf_dir):
    return temporal.cohort_retention(_t(spark, sf_dir, "events"))


@register("events_asof_join", temporal.ORACLE_SQL["events_asof_join"])
def q_events_asof(spark, sf_dir):
    return temporal.events_asof_prior_view(_t(spark, sf_dir, "events"))


@register("customers_without_orders", rel.ORACLE_SQL["customers_without_orders"])
def q_anti(spark, sf_dir):
    return rel.customers_without_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register("top_customers_per_segment", rel.ORACLE_SQL["top_customers_per_segment"])
def q_topcust(spark, sf_dir):
    return rel.top_customers_per_segment(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register("customer_running_totals", rel.ORACLE_SQL["customer_running_totals"])
def q_running(spark, sf_dir):
    return rel.customer_running_totals(_t(spark, sf_dir, "orders"))


@register("nation_set_ops", rel.ORACLE_SQL["nation_set_ops"])
def q_setops(spark, sf_dir):
    return rel.nation_set_ops(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register("events_hourly", rel.ORACLE_SQL["events_hourly"])
def q_events_hourly(spark, sf_dir):
    return rel.events_hourly(_t(spark, sf_dir, "events"))


@register("events_json_metrics", rel.ORACLE_SQL["events_json_metrics"])
def q_events_json(spark, sf_dir):
    return rel.events_json_metrics(_t(spark, sf_dir, "events"))


@register("user_sessions", rel.ORACLE_SQL["user_sessions"])
def q_sessions(spark, sf_dir):
    return rel.user_sessions(_t(spark, sf_dir, "events"))


@register("session_table", rel.ORACLE_SQL["session_table"])
def q_session_table(spark, sf_dir):
    return rel.session_table(_t(spark, sf_dir, "events"))


@register("user_tier_scd2", rel.ORACLE_SQL["user_tier_scd2"])
def q_user_tier_scd2(spark, sf_dir):
    return rel.user_tier_scd2(_t(spark, sf_dir, "events"))


@register("user_recent_events", rel.ORACLE_SQL["user_recent_events"])
def q_user_recent_events(spark, sf_dir):
    return rel.user_recent_events(_t(spark, sf_dir, "events"))


@register("revenue_rollup", rel.ORACLE_SQL["revenue_rollup"])
def q_rollup(spark, sf_dir):
    return rel.revenue_rollup(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@register("order_priority_cube", rel.ORACLE_SQL["order_priority_cube"])
def q_cube(spark, sf_dir):
    return rel.order_priority_cube(_t(spark, sf_dir, "orders"))


@register("customers_with_big_orders", rel.ORACLE_SQL["customers_with_big_orders"])
def q_exists(spark, sf_dir):
    return rel.customers_with_big_orders(
        spark, _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register("orders_vs_customer_avg", rel.ORACLE_SQL["orders_vs_customer_avg"])
def q_corr_scalar(spark, sf_dir):
    return rel.orders_vs_customer_avg(spark, _t(spark, sf_dir, "orders"))


@register("scalar_function_suite", rel.ORACLE_SQL["scalar_function_suite"])
def q_scalars(spark, sf_dir):
    return rel.scalar_function_suite(_t(spark, sf_dir, "orders"))


@register("q6_forecast_revenue", rel.ORACLE_SQL["q6_forecast_revenue"])
def q_q6(spark, sf_dir):
    return rel.q6_forecast_revenue(_t(spark, sf_dir, "lineitem"))


@register("part_revenue_by_brand", rel.ORACLE_SQL["part_revenue_by_brand"])
def q_part_brand(spark, sf_dir):
    return rel.part_revenue_by_brand(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


@register("events_value_percentiles", rel.ORACLE_SQL["events_value_percentiles"])
def q_percentiles(spark, sf_dir):
    return rel.events_value_percentiles(_t(spark, sf_dir, "events"))


@register("revenue_grouping_sets", rel.ORACLE_SQL["revenue_grouping_sets"])
def q_grouping_sets(spark, sf_dir):
    return rel.revenue_grouping_sets(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


@register("events_value_histogram", rel.ORACLE_SQL["events_value_histogram"])
def q_value_histogram(spark, sf_dir):
    return rel.events_value_histogram(_t(spark, sf_dir, "events"))


@register("customer_value_tiles", rel.ORACLE_SQL["customer_value_tiles"])
def q_customer_value_tiles(spark, sf_dir):
    return rel.customer_value_tiles(_t(spark, sf_dir, "orders"))


@register("latest_event_per_user", rel.ORACLE_SQL["latest_event_per_user"])
def q_latest_event_per_user(spark, sf_dir):
    return rel.latest_event_per_user(_t(spark, sf_dir, "events"))


@register("user_rolling_features", temporal.ORACLE_SQL["user_rolling_features"])
def q_user_rolling_features(spark, sf_dir):
    return temporal.user_rolling_features(_t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Versioned KV store fold (SURVEY.md §2.C)
# --------------------------------------------------------------------------
from .operators import kv  # noqa: E402


@register("kv_fold", kv.ORACLE_SQL["kv_fold"])
def q_kv_fold(spark, sf_dir):
    return kv.kv_fold(kv.kv_ops_from_events(_t(spark, sf_dir, "events")))


@register("kv_final_state", kv.ORACLE_SQL["kv_final_state"])
def q_kv_final(spark, sf_dir):
    return kv.kv_final_state(kv.kv_ops_from_events(_t(spark, sf_dir, "events")))


# Segmented fold shares kv_fold's recursive-CTE oracle: the bounded-memory
# rewrite (fixed-size history segments chained through a carried
# (value, version) state) must be row-identical to the monolithic replay.
@register("kv_fold_segmented", kv.ORACLE_SQL["kv_fold"])
def q_kv_fold_segmented(spark, sf_dir):
    return kv.kv_fold_segmented(
        kv.kv_ops_from_events(_t(spark, sf_dir, "events"))
    )


# --------------------------------------------------------------------------
# LLM-pipeline operators: dedup / similarity / text analysis / multimodal
# --------------------------------------------------------------------------
from .operators import dedup, multimodal, similarity, text_analysis  # noqa: E402


@register("exact_duplicates", dedup.ORACLE_SQL["exact_duplicates"])
def q_exact_dups(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


@register("canonical_duplicates", dedup.ORACLE_SQL["canonical_duplicates"])
def q_canon_dups(spark, sf_dir):
    return dedup.canonical_duplicates(_t(spark, sf_dir, "documents"))


@register("minhash_lsh_pairs", dedup.ORACLE_SQL["minhash_lsh_pairs"])
def q_minhash(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


@register("simhash_signatures", dedup.ORACLE_SQL["simhash_signatures"])
def q_simhash_sigs(spark, sf_dir):
    return dedup.simhash_signatures(_t(spark, sf_dir, "documents"))


@register("simhash_near_pairs", dedup.ORACLE_SQL["simhash_near_pairs"])
def q_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(_t(spark, sf_dir, "documents"))


@register(
    "source_overlap_report", dedup.ORACLE_SQL["source_overlap_report"]
)
def q_source_overlap_report(spark, sf_dir):
    return dedup.source_overlap_report(_t(spark, sf_dir, "documents"))


@register("ngram_jaccard_pairs", dedup.ORACLE_SQL["ngram_jaccard_pairs"])
def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


@register("dedup_clusters", dedup.ORACLE_SQL["dedup_clusters"])
def q_dedup_clusters(spark, sf_dir):
    return dedup.dedup_clusters(_t(spark, sf_dir, "documents"))


@register("knn_brute_force", similarity.ORACLE_SQL["knn_brute_force"])
def q_knn(spark, sf_dir):
    return similarity.knn_brute_force(_t(spark, sf_dir, "embeddings"))


@register("ann_lsh", similarity.ORACLE_SQL["ann_lsh"])
def q_ann(spark, sf_dir):
    return similarity.ann_lsh(_t(spark, sf_dir, "embeddings"))


@register("ann_ivf", similarity.ORACLE_SQL["ann_ivf"])
def q_ann_ivf(spark, sf_dir):
    return similarity.ann_ivf(_t(spark, sf_dir, "embeddings"))


@register("top_similar_pairs", similarity.ORACLE_SQL["top_similar_pairs"])
def q_simpairs(spark, sf_dir):
    return similarity.top_similar_pairs(_t(spark, sf_dir, "embeddings"))


# The ANN accuracy/cost trade as a driver-checkable relation: recall@k
# of each ANN variant vs the exact brute-force ranking, exact arithmetic
# on both engines (deterministic tiebreaks make both rankings unique).
# Binary sign-quantization ANN: integer Hamming shortlist over 64-bit
# codes (32x smaller than float32), exact-cosine rerank of the
# shortlist only -- the cheapest first-pass scan of an embedding store.
@register("ann_binary", similarity.ORACLE_SQL["ann_binary"])
def q_ann_binary(spark, sf_dir):
    return similarity.ann_binary(_t(spark, sf_dir, "embeddings"))


@register("ann_recall_report", similarity.ORACLE_SQL["ann_recall_report"])
def q_ann_recall_report(spark, sf_dir):
    return similarity.ann_recall_report(
        _t(spark, sf_dir, "embeddings"), _t(spark, sf_dir, "documents")
    )


# RAG-stack rank fusion: BM25 lexical + exact-cosine semantic rankings
# merged by reciprocal rank fusion; hash-exact composed oracle.
@register("hybrid_retrieval_rrf", similarity.ORACLE_SQL["hybrid_retrieval_rrf"])
def q_hybrid_retrieval_rrf(spark, sf_dir):
    return similarity.hybrid_retrieval_rrf(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


# The production hybrid: same RRF fusion, semantic side from ann_ivf_pq
# (probed cells + ADC over PQ codes) instead of a per-query full scan;
# the brute-force form above stays as the exact twin, and
# ann_recall_report pins the fused lists' overlap.
@register(
    "hybrid_retrieval_rrf_ann",
    similarity.ORACLE_SQL["hybrid_retrieval_rrf_ann"],
)
def q_hybrid_retrieval_rrf_ann(spark, sf_dir):
    return similarity.hybrid_retrieval_rrf_ann(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


# Diversified re-ranking: greedy MMR over the fused list, k rounds
# chained symbolically; unrolled-CTE oracle.
# MMR over the ANN-backed hybrid candidates: the retrieval stack's
# production path end-to-end (BM25 + IVF-PQ fusion + diversity rerank)
# with no full-embedding scan anywhere; brute-force mmr_rerank below is
# the exact-twin control.
@register("mmr_rerank_ann", similarity.ORACLE_SQL["mmr_rerank_ann"])
def q_mmr_rerank_ann(spark, sf_dir):
    return similarity.mmr_rerank_ann(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


@register("mmr_rerank", similarity.ORACLE_SQL["mmr_rerank"])
def q_mmr_rerank(spark, sf_dir):
    return similarity.mmr_rerank(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


@register("embedding_near_pairs", similarity.ORACLE_SQL["embedding_near_pairs"])
def q_embedding_near_pairs(spark, sf_dir):
    return similarity.embedding_near_pairs(_t(spark, sf_dir, "embeddings"))


@register(
    "embedding_dup_clusters", similarity.ORACLE_SQL["embedding_dup_clusters"]
)
def q_embedding_dup_clusters(spark, sf_dir):
    return similarity.embedding_dup_clusters(_t(spark, sf_dir, "embeddings"))


@register("token_stats", text_analysis.ORACLE_SQL["token_stats"])
def q_token_stats(spark, sf_dir):
    return text_analysis.token_stats(_t(spark, sf_dir, "documents"))


@register("quality_score", text_analysis.ORACLE_SQL["quality_score"])
def q_quality(spark, sf_dir):
    return text_analysis.quality_score(_t(spark, sf_dir, "documents"))


@register("lang_id", text_analysis.ORACLE_SQL["lang_id"])
def q_lang_id(spark, sf_dir):
    return text_analysis.lang_id(_t(spark, sf_dir, "documents"))


@register("tfidf_top_terms", text_analysis.ORACLE_SQL["tfidf_top_terms"])
def q_tfidf_top_terms(spark, sf_dir):
    return text_analysis.tfidf_top_terms(_t(spark, sf_dir, "documents"))


@register("bigram_stats", text_analysis.ORACLE_SQL["bigram_stats"])
def q_bigram_stats(spark, sf_dir):
    return text_analysis.bigram_stats(_t(spark, sf_dir, "documents"))


@register("stratified_sample", text_analysis.ORACLE_SQL["stratified_sample"])
def q_stratified_sample(spark, sf_dir):
    return text_analysis.stratified_sample(_t(spark, sf_dir, "documents"))


# Classifier-based quality filtering (Brown et al. 2020 App. A): linear
# quality model + the GPT-3 Pareto(9) keep rule, derandomized via
# md5(doc_id); transcendentals quantized at 1e-6 so the row hash-matches.
@register(
    "quality_classifier_scores",
    text_analysis.ORACLE_SQL["quality_classifier_scores"],
)
def q_quality_classifier_scores(spark, sf_dir):
    return text_analysis.quality_classifier_scores(
        _t(spark, sf_dir, "documents")
    )


# Gopher rule filter (Rae et al. 2021 App. A1.1): all seven published
# rules in one codegen'd projection, per-rule flags + AND verdict.
@register(
    "gopher_quality_filter",
    text_analysis.ORACLE_SQL["gopher_quality_filter"],
)
def q_gopher_quality_filter(spark, sf_dir):
    return text_analysis.gopher_quality_filter(_t(spark, sf_dir, "documents"))


# ExactSubstr duplication coverage (Lee et al. 2022): fraction of token
# positions under a corpus-repeated n-gram, via shingle occurrence counts.
@register(
    "duplicated_ngram_coverage",
    text_analysis.ORACLE_SQL["duplicated_ngram_coverage"],
)
def q_duplicated_ngram_coverage(spark, sf_dir):
    return text_analysis.duplicated_ngram_coverage(
        _t(spark, sf_dir, "documents")
    )


# ExactSubstr span REMOVAL (Lee et al. 2022): the cleaned corpus --
# corpus-duplicated spans removed, globally-first occurrence kept.
@register(
    "exact_substr_dedup",
    text_analysis.ORACLE_SQL["exact_substr_dedup"],
)
def q_exact_substr_dedup(spark, sf_dir):
    return text_analysis.exact_substr_dedup(_t(spark, sf_dir, "documents"))


# Per-source curation audit (FineWeb-style dump triage): Gopher pass
# rate + duplicated-token share per source, |sources| rows out.
@register(
    "source_quality_report",
    text_analysis.ORACLE_SQL["source_quality_report"],
)
def q_source_quality_report(spark, sf_dir):
    return text_analysis.source_quality_report(_t(spark, sf_dir, "documents"))


# Gopher repetition-removal filter (Rae et al. 2021 App. A1.2): the full
# published table -- line/para duplication + top/dup n-gram char mass.
@register(
    "gopher_repetition_filter",
    text_analysis.ORACLE_SQL["gopher_repetition_filter"],
)
def q_gopher_repetition_filter(spark, sf_dir):
    return text_analysis.gopher_repetition_filter(
        _t(spark, sf_dir, "documents")
    )


# C4 cleaning rules (Raffel et al. 2020 §2.2): line retention + page
# drops, shuffle-free; span dedup lives in duplicated_ngram_coverage.
@register(
    "c4_quality_filter",
    text_analysis.ORACLE_SQL["c4_quality_filter"],
)
def q_c4_quality_filter(spark, sf_dir):
    return text_analysis.c4_quality_filter(_t(spark, sf_dir, "documents"))


# Rule-family funnel: cumulative survival raw -> Gopher A1.1 -> A1.2 ->
# C4, one conditional aggregate over doc_id-joined verdict flags.
@register(
    "rule_filter_funnel",
    text_analysis.ORACLE_SQL["rule_filter_funnel"],
)
def q_rule_filter_funnel(spark, sf_dir):
    return text_analysis.rule_filter_funnel(_t(spark, sf_dir, "documents"))


# Full BPE tokenization (Sennrich ACL'16): train on the df-capped vocab
# driver-side, apply via Arrow. Rows-only: merge replay is not SQL.
@register("bpe_tokenize_corpus", None)
def q_bpe_tokenize_corpus(spark, sf_dir):
    return text_analysis.bpe_tokenize_corpus(_t(spark, sf_dir, "documents"))


# Per-language fertility/compression report over the corpus-trained BPE.
# Rows-only like the per-doc op it aggregates.
@register("bpe_fertility_by_lang", None)
def q_bpe_fertility_by_lang(spark, sf_dir):
    return text_analysis.bpe_fertility_by_lang(_t(spark, sf_dir, "documents"))


# BPE round-trip identity, HASH-EXACT: encode + piece-concat decode must
# reproduce the whitespace token join the oracle computes without BPE.
@register(
    "bpe_roundtrip_identity",
    text_analysis.ORACLE_SQL["bpe_roundtrip_identity"],
)
def q_bpe_roundtrip_identity(spark, sf_dir):
    return text_analysis.bpe_roundtrip_identity(_t(spark, sf_dir, "documents"))


# Near-dup benchmark contamination: the paraphrase leak the exact n-gram
# sweep misses; banded-LSH candidates, exact-Jaccard verify, per-eval agg.
@register(
    "eval_neardup_contamination",
    text_analysis.ORACLE_SQL["eval_neardup_contamination"],
)
def q_eval_neardup_contamination(spark, sf_dir):
    return text_analysis.eval_neardup_contamination(
        _t(spark, sf_dir, "documents")
    )


# DSIR data selection (Xie et al., NeurIPS 2023): per-doc importance of
# the raw corpus under a target-domain hashed-n-gram LM (here the
# corpus's own lang='en' slice), fixed-point-exact in both engines.
@register("dsir_log_weights", text_analysis.ORACLE_SQL["dsir_log_weights"])
def q_dsir_log_weights(spark, sf_dir):
    return text_analysis.dsir_log_weights(_t(spark, sf_dir, "documents"))


# The paper's Gumbel-top-k resampling step, derandomized via md5(doc_id)
# uniforms; TakeOrderedAndProject top-k, no global sort.
@register("dsir_sample", text_analysis.ORACLE_SQL["dsir_sample"])
def q_dsir_sample(spark, sf_dir):
    return text_analysis.dsir_sample(_t(spark, sf_dir, "documents"))


@register("repetition_signals", text_analysis.ORACLE_SQL["repetition_signals"])
def q_repetition_signals(spark, sf_dir):
    return text_analysis.repetition_signals(_t(spark, sf_dir, "documents"))


@register("doc_chunks", text_analysis.ORACLE_SQL["doc_chunks"])
def q_doc_chunks(spark, sf_dir):
    return text_analysis.doc_chunks(_t(spark, sf_dir, "documents"))


@register("doc_commonness", text_analysis.ORACLE_SQL["doc_commonness"])
def q_doc_commonness(spark, sf_dir):
    return text_analysis.doc_commonness(_t(spark, sf_dir, "documents"))


# Per-(source, lang) dataset card: docs / exact tokens / chars / corpus
# token share -- the release-notes table of a corpus drop.
@register("corpus_data_card", text_analysis.ORACLE_SQL["corpus_data_card"])
def q_corpus_data_card(spark, sf_dir):
    return text_analysis.corpus_data_card(_t(spark, sf_dir, "documents"))


# BPE trainer's first-iteration merge statistics: adjacent char-pair
# counts over the frequency-weighted DISTINCT vocabulary (the real
# trainer's scale shape -- never the raw token stream).
@register("bpe_top_merges", text_analysis.ORACLE_SQL["bpe_top_merges"])
def q_bpe_top_merges(spark, sf_dir):
    return text_analysis.bpe_top_merges(_t(spark, sf_dir, "documents"))


@register(
    "ngram_contamination", text_analysis.ORACLE_SQL["ngram_contamination"]
)
def q_ngram_contamination(spark, sf_dir):
    return text_analysis.ngram_contamination(_t(spark, sf_dir, "documents"))


@register("pii_scan", text_analysis.ORACLE_SQL["pii_scan"])
def q_pii_scan(spark, sf_dir):
    return text_analysis.pii_scan(_t(spark, sf_dir, "documents"))


@register("pii_redact", text_analysis.ORACLE_SQL["pii_redact"])
def q_pii_redact(spark, sf_dir):
    return text_analysis.pii_redact(_t(spark, sf_dir, "documents"))


# CCNet head/middle/tail perplexity terciles, hash-exact via the
# quantized-score policy (raw-double scorer stays rows-only).
@register(
    "perplexity_buckets", text_analysis.ORACLE_SQL["perplexity_buckets"]
)
def q_perplexity_buckets(spark, sf_dir):
    return text_analysis.perplexity_buckets(
        _t(spark, sf_dir, "documents")
    )


@register(
    "quality_classifier_train",
    text_analysis.ORACLE_SQL["quality_classifier_train"],
)
def q_quality_classifier_train(spark, sf_dir):
    return text_analysis.quality_classifier_train(
        _t(spark, sf_dir, "documents")
    )


@register(
    "quality_classifier_trained_scores",
    text_analysis.ORACLE_SQL["quality_classifier_trained_scores"],
)
def q_quality_classifier_trained_scores(spark, sf_dir):
    return text_analysis.quality_classifier_trained_scores(
        _t(spark, sf_dir, "documents")
    )


@register("events_variant_metrics", rel.ORACLE_SQL["events_variant_metrics"])
def q_events_variant_metrics(spark, sf_dir):
    return rel.events_variant_metrics(_t(spark, sf_dir, "events"))


from .operators import clustering  # noqa: E402


@register("kmeans_clusters", clustering.ORACLE_SQL["kmeans_clusters"])
def q_kmeans_clusters(spark, sf_dir):
    return clustering.kmeans_lloyd(_t(spark, sf_dir, "embeddings"))


@register("kmeans_cluster_sizes", clustering.ORACLE_SQL["kmeans_cluster_sizes"])
def q_kmeans_cluster_sizes(spark, sf_dir):
    return clustering.kmeans_cluster_sizes(_t(spark, sf_dir, "embeddings"))


@register("pq_codes", clustering.ORACLE_SQL["pq_codes"])
def q_pq_codes(spark, sf_dir):
    return clustering.serialize_codes(
        clustering.pq_codes(_t(spark, sf_dir, "embeddings"))
    )


@register("pq_codes_trained", clustering.ORACLE_SQL["pq_codes_trained"])
def q_pq_codes_trained(spark, sf_dir):
    return clustering.serialize_codes(
        clustering.pq_codes_trained(_t(spark, sf_dir, "embeddings"))
    )


@register("pq_adc_topk", clustering.ORACLE_SQL["pq_adc_topk"])
def q_pq_adc_topk(spark, sf_dir):
    return clustering.pq_adc_topk(_t(spark, sf_dir, "embeddings"))


@register("embedding_whitening", clustering.ORACLE_SQL["embedding_whitening"])
def q_embedding_whitening(spark, sf_dir):
    return clustering.embedding_whitening(_t(spark, sf_dir, "embeddings"))


@register("embedding_dim_stats", clustering.ORACLE_SQL["embedding_dim_stats"])
def q_embedding_dim_stats(spark, sf_dir):
    return clustering.embedding_dim_stats(_t(spark, sf_dir, "embeddings"))


@register("ann_ivf_pq", clustering.ORACLE_SQL["ann_ivf_pq"])
def q_ann_ivf_pq(spark, sf_dir):
    return clustering.ann_ivf_pq(_t(spark, sf_dir, "embeddings"))


# SemDeDup (Abbas et al. 2023): k-means prefilter + within-cluster
# cosine pruning, keep-farthest-from-centroid rule; the clustering IS
# the pairwise blocking (sum |c|^2, never n^2).
@register("semdedup", clustering.ORACLE_SQL["semdedup"])
def q_semdedup(spark, sf_dir):
    return clustering.semdedup(_t(spark, sf_dir, "embeddings"))


# Feature-hashing-trick document vectors (Weinberger ICML'09): signed
# +-1 hashed bag-of-words, the deterministic embedder that connects the
# text corpus to the vector stack. Registered in atomic long form
# (vec_id, d, val); the array form is the internal contract.
@register("doc_hash_embeddings", clustering.ORACLE_SQL["doc_hash_embeddings"])
def q_doc_hash_embeddings(spark, sf_dir):
    return clustering.doc_hash_embeddings_long(
        _t(spark, sf_dir, "documents")
    )


# SemDeDup end-to-end ON DOCUMENTS: hash-embed then cluster-blocked
# semantic dedup -- the full Abbas et al. pipeline over text.
@register("doc_semdedup", clustering.ORACLE_SQL["doc_semdedup"])
def q_doc_semdedup(spark, sf_dir):
    return clustering.doc_semdedup(_t(spark, sf_dir, "documents"))


# ANCE/DPR hard-negative mining: ANN-ranked candidates minus the
# near-duplicate cosine band, re-ranked per anchor -- the retrieval-side
# half of the contrastive training loop.
@register(
    "hard_negative_mining", similarity.ORACLE_SQL["hard_negative_mining"]
)
def q_hard_negative_mining(spark, sf_dir):
    return similarity.hard_negative_mining(_t(spark, sf_dir, "embeddings"))


# IVFADC proper (Jegou TPAMI'11 Fig. 5): PQ codes over RESIDUALS
# v - centroid(cell), per-(query, probed-cell) lookup tables; same
# storage/scan cost as ann_ivf_pq. Recall vs the raw-vector variant is
# pinned side by side in ann_recall_report (on the repo's isotropic
# synthetic embeddings the residual trick does not win; it needs
# clustered data + trained codebooks).
@register("ann_ivfadc", clustering.ORACLE_SQL["ann_ivfadc"])
def q_ann_ivfadc(spark, sf_dir):
    return clustering.ann_ivfadc(_t(spark, sf_dir, "embeddings"))


# IVF over TRAINED (Lloyd) centroids -- the 100 TB coarse quantizer,
# exact-arithmetic training unrolled in the oracle's chained CTEs.
@register("ann_ivf_trained", clustering.ORACLE_SQL["ann_ivf_trained"])
def q_ann_ivf_trained(spark, sf_dir):
    return clustering.ann_ivf_trained(_t(spark, sf_dir, "embeddings"))


@register("event_funnel", rel.ORACLE_SQL["event_funnel"])
def q_event_funnel(spark, sf_dir):
    return rel.event_funnel(_t(spark, sf_dir, "events"))


@register(
    "event_transition_matrix", rel.ORACLE_SQL["event_transition_matrix"]
)
def q_event_transition_matrix(spark, sf_dir):
    return rel.event_transition_matrix(_t(spark, sf_dir, "events"))


@register(
    "weekly_retention_cohorts", rel.ORACLE_SQL["weekly_retention_cohorts"]
)
def q_weekly_retention_cohorts(spark, sf_dir):
    return rel.weekly_retention_cohorts(_t(spark, sf_dir, "events"))


@register("value_robust_stats", rel.ORACLE_SQL["value_robust_stats"])
def q_value_robust_stats(spark, sf_dir):
    return rel.value_robust_stats(_t(spark, sf_dir, "events"))


@register("value_gini_per_type", rel.ORACLE_SQL["value_gini_per_type"])
def q_value_gini(spark, sf_dir):
    return rel.value_gini_per_type(_t(spark, sf_dir, "events"))


@register("value_k_correlation", rel.ORACLE_SQL["value_k_correlation"])
def q_value_k_corr(spark, sf_dir):
    return rel.value_k_correlation(_t(spark, sf_dir, "events"))


@register("orders_profile", rel.ORACLE_SQL["orders_profile"])
def q_orders_profile(spark, sf_dir):
    return rel.orders_profile(_t(spark, sf_dir, "orders"))


@register("orders_profile_approx", None)
def q_orders_profile_approx(spark, sf_dir):
    return rel.orders_profile_approx(_t(spark, sf_dir, "orders"))


@register("daily_revenue_trend", rel.ORACLE_SQL["daily_revenue_trend"])
def q_daily_revenue_trend(spark, sf_dir):
    return rel.daily_revenue_trend(_t(spark, sf_dir, "orders"))


@register(
    "daily_revenue_reconciliation",
    rel.ORACLE_SQL["daily_revenue_reconciliation"],
)
def q_daily_revenue_reconciliation(spark, sf_dir):
    return rel.daily_revenue_reconciliation(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "events")
    )


from .operators import reshape  # noqa: E402


# Volume-anomaly screen: per-day counts z-scored against corpus stats,
# exact despite being statistics (integer-derived divisions only).
@register("events_anomaly_days", reshape.ORACLE_SQL["events_anomaly_days"])
def q_events_anomaly_days(spark, sf_dir):
    return reshape.events_anomaly_days(_t(spark, sf_dir, "events"))


@register("events_pivot", reshape.ORACLE_SQL["events_pivot"])
def q_events_pivot(spark, sf_dir):
    return reshape.events_pivot(_t(spark, sf_dir, "events"))


@register("lineitem_unpivot", reshape.ORACLE_SQL["lineitem_unpivot"])
def q_lineitem_unpivot(spark, sf_dir):
    return reshape.lineitem_unpivot(_t(spark, sf_dir, "lineitem"))


@register("price_band_join", reshape.ORACLE_SQL["price_band_join"])
def q_price_band_join(spark, sf_dir):
    return reshape.price_band_join(spark, _t(spark, sf_dir, "orders"))


@register("events_overlap_pairs", temporal.ORACLE_SQL["events_overlap_pairs"])
def q_events_overlap_pairs(spark, sf_dir):
    return temporal.interval_overlap_pairs(_t(spark, sf_dir, "events"))


@register("doc_fingerprints", text_analysis.ORACLE_SQL["doc_fingerprints"])
def q_fingerprints(spark, sf_dir):
    return text_analysis.doc_fingerprints(_t(spark, sf_dir, "documents"))


# Perceptual-hash image near-dup: real BMP encode->decode->resize->
# dHash in Spark; the oracle recomputes the hash from the pixel math
# alone, so equality certifies the codec path end to end.
@register("image_dhash", multimodal.ORACLE_SQL["image_dhash"])
def q_image_dhash(spark, sf_dir):
    return multimodal.image_dhash(_t(spark, sf_dir, "documents"))


@register(
    "image_text_dedup_agreement",
    multimodal.ORACLE_SQL["image_text_dedup_agreement"],
)
def q_image_text_dedup_agreement(spark, sf_dir):
    return multimodal.image_text_dedup_agreement(
        _t(spark, sf_dir, "documents")
    )


@register(
    "image_dedup_clusters", multimodal.ORACLE_SQL["image_dedup_clusters"]
)
def q_image_dedup_clusters(spark, sf_dir):
    return multimodal.image_dedup_clusters(_t(spark, sf_dir, "documents"))


@register("image_dhash_pairs", multimodal.ORACLE_SQL["image_dhash_pairs"])
def q_image_dhash_pairs(spark, sf_dir):
    return multimodal.image_dhash_pairs(_t(spark, sf_dir, "documents"))


# The r6 agreement report measured image-dHash and text-MinHash finding
# DISJOINT pair sets -- so the actual dedup decision clusters the UNION
# of both edge relations (r6 verdict ask #5).
@register(
    "cross_modal_dedup_clusters",
    multimodal.ORACLE_SQL["cross_modal_dedup_clusters"],
)
def q_cross_modal_dedup_clusters(spark, sf_dir):
    return multimodal.cross_modal_dedup_clusters(
        _t(spark, sf_dir, "documents")
    )


@register("multimodal_meta", multimodal.ORACLE_SQL["multimodal_meta"])
def q_multimodal(spark, sf_dir):
    return multimodal.multimodal_meta(_t(spark, sf_dir, "documents"))


@register("multimodal_resize", multimodal.ORACLE_SQL["multimodal_resize"])
def q_multimodal_resize(spark, sf_dir):
    return multimodal.multimodal_resize(_t(spark, sf_dir, "documents"))


# r5's "multimodal_frames" byte-window stub, renamed honestly (r6
# verdict ask #1); the REAL video path is video_frame_dhash below.
@register(
    "payload_byte_windows", multimodal.ORACLE_SQL["payload_byte_windows"]
)
def q_payload_byte_windows(spark, sf_dir):
    return multimodal.payload_byte_windows(_t(spark, sf_dir, "documents"))


# Real animated-GIF keyframes: encode (pure-Python LZW) -> full
# animation decode (compositing/disposal) -> per-frame dHash; oracle
# recomputes each frame hash from pixel math alone, certifying the
# codec round trip.
@register("video_frame_dhash", multimodal.ORACLE_SQL["video_frame_dhash"])
def q_video_frame_dhash(spark, sf_dir):
    return multimodal.video_frame_dhash(_t(spark, sf_dir, "documents"))


@register("video_dedup_pairs", multimodal.ORACLE_SQL["video_dedup_pairs"])
def q_video_dedup_pairs(spark, sf_dir):
    return multimodal.video_dedup_pairs(_t(spark, sf_dir, "documents"))


@register(
    "multimodal_dedup_agreement",
    multimodal.ORACLE_SQL["multimodal_dedup_agreement"],
)
def q_multimodal_dedup_agreement(spark, sf_dir):
    return multimodal.multimodal_dedup_agreement(
        _t(spark, sf_dir, "documents")
    )


# Baseline-JPEG codec proof (r6 verdict ask #6): the oracle states the
# roundtrip identity from md5 math without running JPEG; Spark earns
# the hash match by actually encoding+decoding every document's image.
@register(
    "jpeg_block_roundtrip", multimodal.ORACLE_SQL["jpeg_block_roundtrip"]
)
def q_jpeg_block_roundtrip(spark, sf_dir):
    return multimodal.jpeg_block_roundtrip(_t(spark, sf_dir, "documents"))


# Audio modality (r6 verdict ask #2): real WAV/RIFF PCM codec round
# trip; oracles recompute features/fingerprints from md5 token bytes,
# certifying encode_wav/decode_wav end to end.
from .operators import audio  # noqa: E402


@register("audio_features", audio.ORACLE_SQL["audio_features"])
def q_audio_features(spark, sf_dir):
    return audio.audio_features(_t(spark, sf_dir, "documents"))


@register(
    "audio_features_flac", audio.ORACLE_SQL["audio_features_flac"]
)
def q_audio_features_flac(spark, sf_dir):
    return audio.audio_features(
        _t(spark, sf_dir, "documents"), codec="flac"
    )


@register(
    "audio_features_flac_lpc",
    audio.ORACLE_SQL["audio_features_flac_lpc"],
)
def q_audio_features_flac_lpc(spark, sf_dir):
    return audio.audio_features(
        _t(spark, sf_dir, "documents"), codec="flac_lpc"
    )


@register(
    "audio_features_flac_ms",
    audio.ORACLE_SQL["audio_features_flac_ms"],
)
def q_audio_features_flac_ms(spark, sf_dir):
    return audio.audio_features(
        _t(spark, sf_dir, "documents"), codec="flac_ms"
    )


@register(
    "audio_features_wav_float",
    audio.ORACLE_SQL["audio_features_wav_float"],
)
def q_audio_features_wav_float(spark, sf_dir):
    return audio.audio_features(
        _t(spark, sf_dir, "documents"), codec="wav_float"
    )


@register("audio_fingerprints", audio.ORACLE_SQL["audio_fingerprints"])
def q_audio_fingerprints(spark, sf_dir):
    return audio.audio_fingerprints(_t(spark, sf_dir, "documents"))


@register(
    "audio_fingerprint_pairs",
    audio.ORACLE_SQL["audio_fingerprint_pairs"],
)
def q_audio_fingerprint_pairs(spark, sf_dir):
    return audio.audio_fingerprint_pairs(_t(spark, sf_dir, "documents"))


# r7 verdict ask #4: gain-invariant (Haitsma-Kalker-style energy-ratio)
# fingerprints -- catch volume-changed duplicates the exact fp misses.
@register(
    "audio_fingerprints_robust",
    audio.ORACLE_SQL["audio_fingerprints_robust"],
)
def q_audio_fingerprints_robust(spark, sf_dir):
    return audio.audio_fingerprints_robust(_t(spark, sf_dir, "documents"))


@register(
    "audio_robust_fp_pairs",
    audio.ORACLE_SQL["audio_robust_fp_pairs"],
)
def q_audio_robust_fp_pairs(spark, sf_dir):
    return audio.audio_robust_fp_pairs(_t(spark, sf_dir, "documents"))


# MPEG-1 audio (r12 verdict ask #1): dependency-free Layer I/II codec
# + raw-bitstream header walk; header-math columns oracle-exact, the
# lossy reconstruction certified against pinned bounds (recon_ok).
from .operators import mpeg_audio  # noqa: E402


@register(
    "audio_features_mp1", mpeg_audio.ORACLE_SQL["audio_features_mp1"]
)
def q_audio_features_mp1(spark, sf_dir):
    return mpeg_audio.audio_features_mpeg(
        _t(spark, sf_dir, "documents"), layer=1
    )


@register(
    "audio_features_mp2", mpeg_audio.ORACLE_SQL["audio_features_mp2"]
)
def q_audio_features_mp2(spark, sf_dir):
    return mpeg_audio.audio_features_mpeg(
        _t(spark, sf_dir, "documents"), layer=2
    )


@register(
    "mpeg_stream_report", mpeg_audio.ORACLE_SQL["mpeg_stream_report"]
)
def q_mpeg_stream_report(spark, sf_dir):
    return mpeg_audio.mpeg_stream_report(_t(spark, sf_dir, "documents"))


# Video stream metadata (r12 verdict ask #2): data-card columns for
# codecs outside the decode boundary -- avcC-SPS coded dims for avc1,
# sample-entry dims for hev1/vp09, avih/strh/strf for AVI.
from .operators import video_meta  # noqa: E402


@register(
    "video_meta_report", video_meta.ORACLE_SQL["video_meta_report"]
)
def q_video_meta_report(spark, sf_dir):
    return video_meta.video_meta_report(_t(spark, sf_dir, "documents"))


# Training-shard writer accounting (r6 verdict ask #3): the oracle-
# checked view of what sources/shard_writer.py materializes to disk.
from .sources import shard_writer  # noqa: E402


@register(
    "training_shard_accounting",
    shard_writer.ORACLE_SQL["training_shard_accounting"],
)
def q_training_shard_accounting(spark, sf_dir):
    return shard_writer.training_shard_accounting(
        _t(spark, sf_dir, "documents")
    )


# r7 verdict ask #6: the mixture-aware READ side -- deterministic
# temperature-weighted interleave of shard files with a resumable
# cursor (weighted fair queuing in closed-form integer arithmetic).
@register(
    "shard_read_schedule",
    shard_writer.ORACLE_SQL["shard_read_schedule"],
)
def q_shard_read_schedule(spark, sf_dir):
    return shard_writer.shard_read_schedule(_t(spark, sf_dir, "documents"))


# Trained language identification (r7 verdict ask #1): hashed
# char-3-gram features through the integer-exact one-vs-rest logistic
# trainer; replaces the trusted corpus `lang` column with a computed
# prediction + an honest accuracy report.
from .operators import langid  # noqa: E402


@register("langid_train", langid.ORACLE_SQL["langid_train"])
def q_langid_train(spark, sf_dir):
    return langid.langid_train(
        _t(spark, sf_dir, "documents"),
        _trace=langid._trace_for_table(spark, sf_dir),
    )


@register("langid_scores", langid.ORACLE_SQL["langid_scores"])
def q_langid_scores(spark, sf_dir):
    return langid.langid_scores(
        _t(spark, sf_dir, "documents"),
        _trace=langid._trace_for_table(spark, sf_dir),
    )


@register("langid_accuracy", langid.ORACLE_SQL["langid_accuracy"])
def q_langid_accuracy(spark, sf_dir):
    return langid.langid_accuracy(
        _t(spark, sf_dir, "documents"),
        _trace=langid._trace_for_table(spark, sf_dir),
    )


@register(
    "langid_stratified_sample",
    langid.ORACLE_SQL["langid_stratified_sample"],
)
def q_langid_stratified_sample(spark, sf_dir):
    return langid.langid_stratified_sample(
        _t(spark, sf_dir, "documents"),
        _trace=langid._trace_for_table(spark, sf_dir),
    )


# Vector-shaped langid (round 10-11, VERDICT r9 ask #4 / r10 ask #6):
# one SPARSE trainer (nnz-bound, DIM-independent cost) serves both
# registered widths -- char-3 grams at WIDE_DIM=256, and char-3 +
# word-1/word-2 grams at 65536. Rows-only BY DESIGN: the unrolled
# training-trajectory oracle at these widths would be megabytes of
# SQL; correctness is carried by bit-for-bit independent-Python pins
# and by DIM=16 equality against the hash-exact JVM trainer
# (tests/test_round10_ops.py::TestWideLangid,
# tests/test_round11_ops.py::TestUnionLangid).
from .operators import langid_union  # noqa: E402


@register("langid_scores_wide", None)
def q_langid_scores_wide(spark, sf_dir):
    return langid_union.langid_scores_wide_union(
        _t(spark, sf_dir, "documents"),
        dim=langid_union.WIDE_DIM,
        word_ngrams=(),
        _trained=langid_union.union_trained_for_table(
            spark, sf_dir, dim=langid_union.WIDE_DIM, word_ngrams=()
        ),
    )


@register("langid_scores_wide_union", None)
def q_langid_scores_wide_union(spark, sf_dir):
    return langid_union.langid_scores_wide_union(
        _t(spark, sf_dir, "documents"),
        _trained=langid_union.union_trained_for_table(spark, sf_dir),
    )


@register("langid_mixture_plan", langid.ORACLE_SQL["langid_mixture_plan"])
def q_langid_mixture_plan(spark, sf_dir):
    return langid.langid_mixture_plan(
        _t(spark, sf_dir, "documents"),
        _trace=langid._trace_for_table(spark, sf_dir),
    )


@register(
    "langid_mixture_sample", langid.ORACLE_SQL["langid_mixture_sample"]
)
def q_langid_mixture_sample(spark, sf_dir):
    return langid.langid_mixture_sample(
        _t(spark, sf_dir, "documents"),
        _trace=langid._trace_for_table(spark, sf_dir),
    )


# Resumable end-to-end curation run (r7 verdict ask #2): rules ->
# dedup -> decontamination -> split -> packing -> shard writer composed
# into ONE job under the job-manifest checkpoint; the registered query
# executes a REAL run into process-local scratch and returns its
# committed ledger.
from . import curation  # noqa: E402


@register("curation_run_ledger", curation.ORACLE_SQL["curation_run_ledger"])
def q_curation_run_ledger(spark, sf_dir):
    return curation.curation_run_ledger(
        spark,
        _t(spark, sf_dir, "documents"),
        curation.scratch_for(sf_dir),
    )


# --------------------------------------------------------------------------
# End-to-end curation pipeline (composition showcase)
# --------------------------------------------------------------------------
from .operators import pipeline  # noqa: E402


# The full-recipe data card: cumulative doc+token accounting through
# quality gate, exact/near dedup, decontamination, and the
# leakage-safe train split -- one pass over per-doc stage flags.
@register(
    "training_run_manifest", pipeline.ORACLE_SQL["training_run_manifest"]
)
def q_training_run_manifest(spark, sf_dir):
    return pipeline.training_run_manifest(_t(spark, sf_dir, "documents"))


@register("clean_corpus", pipeline.ORACLE_SQL["clean_corpus"])
def q_clean_corpus(spark, sf_dir):
    return pipeline.clean_corpus(_t(spark, sf_dir, "documents"))


# Selection-detector comparison: rules (Gopher) vs classifier+Pareto
# (GPT-3) vs importance resampling (DSIR), one aggregate over per-doc
# flags -- the selection-side analog of dedup_method_agreement.
@register(
    "selection_method_agreement",
    pipeline.ORACLE_SQL["selection_method_agreement"],
)
def q_selection_method_agreement(spark, sf_dir):
    return pipeline.selection_method_agreement(
        _t(spark, sf_dir, "documents")
    )


# Data-mixture materialization: the recipe table (per-source weighted
# token allocation with epoch repetition), the deterministic sampled
# mix, and the budget-adherence report (pipeline.py for the 100 TB
# two-level-prefix-sum twin).
@register("data_mixture_plan", pipeline.ORACLE_SQL["data_mixture_plan"])
def q_data_mixture_plan(spark, sf_dir):
    return pipeline.data_mixture_plan(_t(spark, sf_dir, "documents"))


@register(
    "data_mixture_sample", pipeline.ORACLE_SQL["data_mixture_sample"]
)
def q_data_mixture_sample(spark, sf_dir):
    return pipeline.data_mixture_sample(_t(spark, sf_dir, "documents"))


# Temperature-flattened mixture (n^alpha source weights, XLM/mT5
# style): same epoch split and deterministic remainder prefix, smooth
# weighting instead of the curated handrule.
@register(
    "data_mixture_temperature_plan",
    pipeline.ORACLE_SQL["data_mixture_temperature_plan"],
)
def q_data_mixture_temperature_plan(spark, sf_dir):
    return pipeline.data_mixture_temperature_plan(
        _t(spark, sf_dir, "documents")
    )


@register(
    "data_mixture_temperature_sample",
    pipeline.ORACLE_SQL["data_mixture_temperature_sample"],
)
def q_data_mixture_temperature_sample(spark, sf_dir):
    return pipeline.data_mixture_temperature_sample(
        _t(spark, sf_dir, "documents")
    )


# Shared-oracle twin (the wc_salted pattern): the 100 TB two-level
# prefix-sum sample must hash-match the plain per-source-window form
# under the SAME oracle.
@register(
    "data_mixture_sample_scalable",
    pipeline.ORACLE_SQL["data_mixture_sample"],
)
def q_data_mixture_sample_scalable(spark, sf_dir):
    return pipeline.data_mixture_sample_scalable(
        _t(spark, sf_dir, "documents")
    )


@register(
    "data_mixture_realized", pipeline.ORACLE_SQL["data_mixture_realized"]
)
def q_data_mixture_realized(spark, sf_dir):
    return pipeline.data_mixture_realized(_t(spark, sf_dir, "documents"))


@register("dedup_survivors", pipeline.ORACLE_SQL["dedup_survivors"])
def q_dedup_survivors(spark, sf_dir):
    return pipeline.dedup_survivors(_t(spark, sf_dir, "documents"))


@register("sequence_packing", pipeline.ORACLE_SQL["sequence_packing"])
def q_sequence_packing(spark, sf_dir):
    return pipeline.sequence_packing(_t(spark, sf_dir, "documents"))


# Same greedy fill, token counts joined from the BPE-ish tokenizer
# (token_stats) instead of the separator heuristic -- the pluggable-
# tokenizer wiring, under its own oracle (same CTE, different counts).
@register(
    "sequence_packing_tokenized",
    pipeline.ORACLE_SQL["sequence_packing_tokenized"],
)
def q_sequence_packing_tokenized(spark, sf_dir):
    return pipeline.sequence_packing_tokenized(_t(spark, sf_dir, "documents"))


# Deterministic hash-bucket train/val/test assignment: reproducible,
# growth-stable (new docs never reassign old ones), engine-independent.
@register("corpus_split", pipeline.ORACLE_SQL["corpus_split"])
def q_corpus_split(spark, sf_dir):
    return pipeline.corpus_split(_t(spark, sf_dir, "documents"))


# Near-dup-aware split: hash the dedup-cluster representative so a
# near-duplicate pair can never straddle train/test (eval-leak closure).
@register("leakage_safe_split", pipeline.ORACLE_SQL["leakage_safe_split"])
def q_leakage_safe_split(spark, sf_dir):
    return pipeline.leakage_safe_split(_t(spark, sf_dir, "documents"))


# Per-language curriculum buckets: ntile(10) by length, aggregated.
@register("quality_deciles", pipeline.ORACLE_SQL["quality_deciles"])
def q_quality_deciles(spark, sf_dir):
    return pipeline.quality_deciles(_t(spark, sf_dir, "documents"))


# Curation drop accounting: cumulative survivors per pipeline stage.
@register("curation_funnel", pipeline.ORACLE_SQL["curation_funnel"])
def q_curation_funnel(spark, sf_dir):
    return pipeline.curation_funnel(_t(spark, sf_dir, "documents"))


# Surviving training tokens per (lang, split) -- clean_corpus composed
# with the deterministic hash split.
@register(
    "training_token_budget", pipeline.ORACLE_SQL["training_token_budget"]
)
def q_training_token_budget(spark, sf_dir):
    return pipeline.training_token_budget(_t(spark, sf_dir, "documents"))


# Unigram-LM perplexity (CCNet-style quality): rows-only -- libm log()
# ulps differ across engines, so the value contract is pytest-pinned
# (1e-9 rel) instead of hash-matched.
@register("unigram_logprob_scores", None)
def q_unigram_logprob_scores(spark, sf_dir):
    return text_analysis.unigram_logprob_scores(_t(spark, sf_dir, "documents"))


# Dense global re-IDs: the window form is the semantic reference...
@register("assign_doc_ids", pipeline.ORACLE_SQL["assign_doc_ids"])
def q_assign_doc_ids(spark, sf_dir):
    return pipeline.assign_doc_ids(_t(spark, sf_dir, "documents"))


# ...and the range-partition + offset form is the 100 TB plan, proven
# bit-identical by sharing the window form's oracle.
@register("assign_doc_ids_scalable", pipeline.ORACLE_SQL["assign_doc_ids"])
def q_assign_doc_ids_scalable(spark, sf_dir):
    return pipeline.assign_doc_ids_scalable(_t(spark, sf_dir, "documents"))


from .operators import graph  # noqa: E402


@register("part_pagerank", graph.ORACLE_SQL["part_pagerank"])
def q_part_pagerank(spark, sf_dir):
    return graph.part_pagerank(_t(spark, sf_dir, "lineitem"))


from .operators import layout  # noqa: E402


@register("orders_zorder_keys", layout.ORACLE_SQL["orders_zorder_keys"])
def q_orders_zorder_keys(spark, sf_dir):
    return layout.orders_zorder_keys(_t(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Structured Streaming surface (bounded availableNow runs; SURVEY.md §7)
# --------------------------------------------------------------------------
from .streaming import ops as streaming_ops  # noqa: E402


@register("events_hourly_stream", streaming_ops.ORACLE_SQL["events_hourly_stream"])
def q_events_hourly_stream(spark, sf_dir):
    return streaming_ops.q_events_hourly_stream(spark, sf_dir)


@register(
    "events_distinct_types_stream",
    streaming_ops.ORACLE_SQL["events_distinct_types_stream"],
)
def q_events_distinct_types_stream(spark, sf_dir):
    return streaming_ops.q_events_distinct_types_stream(spark, sf_dir)


@register(
    "user_activity_totals_stream",
    streaming_ops.ORACLE_SQL["user_activity_totals_stream"],
)
def q_user_activity_totals_stream(spark, sf_dir):
    return streaming_ops.q_user_activity_totals_stream(spark, sf_dir)


@register(
    "purchase_view_join_stream",
    streaming_ops.ORACLE_SQL["purchase_view_join_stream"],
)
def q_purchase_view_join_stream(spark, sf_dir):
    return streaming_ops.q_purchase_view_join_stream(spark, sf_dir)


@register("events_sliding_stream", streaming_ops.ORACLE_SQL["events_sliding_stream"])
def q_events_sliding_stream(spark, sf_dir):
    return streaming_ops.q_events_sliding_stream(spark, sf_dir)


@register(
    "user_session_windows_stream",
    streaming_ops.ORACLE_SQL["user_session_windows_stream"],
)
def q_user_session_windows_stream(spark, sf_dir):
    return streaming_ops.q_user_session_windows_stream(spark, sf_dir)


@register(
    "events_enriched_stream",
    streaming_ops.ORACLE_SQL["events_enriched_stream"],
)
def q_events_enriched_stream(spark, sf_dir):
    return streaming_ops.q_events_enriched_stream(spark, sf_dir)


@register(
    "events_dedup_watermark_stream",
    streaming_ops.ORACLE_SQL["events_dedup_watermark_stream"],
)
def q_events_dedup_watermark_stream(spark, sf_dir):
    return streaming_ops.q_events_dedup_watermark_stream(spark, sf_dir)


# Streaming curation ingest: the classifier+Pareto quality filter as a
# stateless append stream -- same operator expression as the batch
# quality_classifier_scores, so the oracle proves stream==batch.
@register(
    "doc_quality_filter_stream",
    streaming_ops.ORACLE_SQL["doc_quality_filter_stream"],
)
def q_doc_quality_filter_stream(spark, sf_dir):
    return streaming_ops.q_doc_quality_filter_stream(spark, sf_dir)


# DSIR as a trained filter at ingest: batch-trained bucket LM shipped
# as a model artifact, Arrow scorer per arriving doc (no shuffle, no
# state); the oracle is the distributed batch derivation, so one hash
# proves stream==batch and shipped-LM==distributed-LM.
@register(
    "dsir_score_stream", streaming_ops.ORACLE_SQL["dsir_score_stream"]
)
def q_dsir_score_stream(spark, sf_dir):
    return streaming_ops.q_dsir_score_stream(spark, sf_dir)


# Rule filters at ingest: Gopher A1.1 + C4 verdicts in ONE stateless
# stream projection (expressions shared with the batch filters).
@register(
    "image_dhash_stream", streaming_ops.ORACLE_SQL["image_dhash_stream"]
)
def q_image_dhash_stream(spark, sf_dir):
    return streaming_ops.q_image_dhash_stream(spark, sf_dir)


# r7: streaming ingest across ALL THREE modalities -- audio features
# and video keyframe hashes per arriving document, stateless, with the
# batch oracles proving stream==batch through the real codecs.
@register(
    "audio_features_stream",
    streaming_ops.ORACLE_SQL["audio_features_stream"],
)
def q_audio_features_stream(spark, sf_dir):
    return streaming_ops.q_audio_features_stream(spark, sf_dir)


@register(
    "video_frame_dhash_stream",
    streaming_ops.ORACLE_SQL["video_frame_dhash_stream"],
)
def q_video_frame_dhash_stream(spark, sf_dir):
    return streaming_ops.q_video_frame_dhash_stream(spark, sf_dir)


# r8: langid at ingest -- train offline (batch table), score the stream
# under the frozen weights; the batch oracle proves stream==batch.
@register(
    "langid_scores_stream",
    streaming_ops.ORACLE_SQL["langid_scores_stream"],
)
def q_langid_scores_stream(spark, sf_dir):
    return streaming_ops.q_langid_scores_stream(spark, sf_dir)


@register(
    "shard_ingest_stream",
    streaming_ops.ORACLE_SQL["shard_ingest_stream"],
)
def q_shard_ingest_stream(spark, sf_dir):
    return streaming_ops.q_shard_ingest_stream(spark, sf_dir)


@register(
    "shard_ingest_stream_html",
    streaming_ops.ORACLE_SQL["shard_ingest_stream_html"],
)
def q_shard_ingest_stream_html(spark, sf_dir):
    return streaming_ops.q_shard_ingest_stream_html(spark, sf_dir)


@register(
    "shard_epoch_ledger",
    streaming_ops.ORACLE_SQL["shard_epoch_ledger"],
)
def q_shard_epoch_ledger(spark, sf_dir):
    return streaming_ops.q_shard_epoch_ledger(spark, sf_dir)


@register(
    "rule_filter_stream", streaming_ops.ORACLE_SQL["rule_filter_stream"]
)
def q_rule_filter_stream(spark, sf_dir):
    return streaming_ops.q_rule_filter_stream(spark, sf_dir)


# --------------------------------------------------------------------------
# Time-series gap-fill, fuzzy matching, sketch aggregates (§2.F additions)
# --------------------------------------------------------------------------
from .operators import fuzzy, sketch  # noqa: E402


@register("user_daily_fill", temporal.ORACLE_SQL["user_daily_fill"])
def q_user_daily_fill(spark, sf_dir):
    return temporal.gapfill_daily(_t(spark, sf_dir, "events"))


@register("fuzzy_part_pairs", fuzzy.ORACLE_SQL["fuzzy_part_pairs"])
def q_fuzzy_part_pairs(spark, sf_dir):
    return fuzzy.part_name_pairs(_t(spark, sf_dir, "part"))


@register("user_reach", sketch.ORACLE_SQL["user_reach"])
def q_user_reach(spark, sf_dir):
    return sketch.user_reach_exact(_t(spark, sf_dir, "events"))


# Approximate twins: different hash functions => estimates cannot hash-
# match DuckDB; registered rows-only, error + merge identity pinned in
# tests/test_sketch.py.
@register("user_reach_hll", None)
def q_user_reach_hll(spark, sf_dir):
    return sketch.user_reach_hll(_t(spark, sf_dir, "events"))


@register("user_reach_sketch", None)
def q_user_reach_sketch(spark, sf_dir):
    return sketch.user_reach_sketch(_t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Round-3 additions: line-proxy corpus dedup, incremental aggregate
# maintenance, BM25 retrieval, triangle counting, PII per-doc audit,
# sketch-merge identity
# --------------------------------------------------------------------------
from .operators import incremental  # noqa: E402


@register("boilerplate_chunks", dedup.ORACLE_SQL["boilerplate_chunks"])
def q_boilerplate_chunks(spark, sf_dir):
    return dedup.boilerplate_chunks(_t(spark, sf_dir, "documents"))


@register("chunk_dedup_clean", dedup.ORACLE_SQL["chunk_dedup_clean"])
def q_chunk_dedup_clean(spark, sf_dir):
    return dedup.chunk_dedup_clean(_t(spark, sf_dir, "documents"))


@register(
    "incremental_daily_agg", incremental.ORACLE_SQL["incremental_daily_agg"]
)
def q_incremental_daily_agg(spark, sf_dir):
    return incremental.incremental_daily_agg(_t(spark, sf_dir, "events"))


# Join-IVM: the four-term delta-join identity
# J(A+dA, B+dB) = J(A,B) + J(dA,B) + J(A,dB) + J(dA,dB),
# proven against the plain one-shot-join oracle by hash.
@register(
    "incremental_join_maintenance",
    incremental.ORACLE_SQL["incremental_join_maintenance"],
)
def q_incremental_join_maintenance(spark, sf_dir):
    return incremental.incremental_join_maintenance(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@register("bm25_top_docs", text_analysis.ORACLE_SQL["bm25_top_docs"])
def q_bm25_top_docs(spark, sf_dir):
    return text_analysis.bm25_top_docs(_t(spark, sf_dir, "documents"))


# Adaptive k-core: Matula-Beck peeling to an exact fixpoint; oracle
# unrolls 10 idempotent rounds (>= the measured fixpoint).
@register("part_kcore", graph.ORACLE_SQL["part_kcore"])
def q_part_kcore(spark, sf_dir):
    return graph.part_kcore(_t(spark, sf_dir, "lineitem"))


@register("part_triangle_counts", graph.ORACLE_SQL["part_triangle_counts"])
def q_part_triangle_counts(spark, sf_dir):
    return graph.part_triangle_counts(_t(spark, sf_dir, "lineitem"))


@register("pii_doc_counts", text_analysis.ORACLE_SQL["pii_doc_counts"])
def q_pii_doc_counts(spark, sf_dir):
    return text_analysis.pii_doc_counts(_t(spark, sf_dir, "documents"))


# Sketch-merge identity as a registered query: two disjoint halves of the
# event log, sketched independently and unioned -- rows-only (sketch
# estimates use different hashes than DuckDB); equality with the
# whole-corpus sketch is pinned in tests/test_sketch.py.
@register("merged_reach", None)
def q_merged_reach(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return sketch.merged_reach(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
    )


@register("word_cms", sketch.ORACLE_SQL["word_cms"])
def q_word_cms(spark, sf_dir):
    return sketch.word_cms(_t(spark, sf_dir, "documents"))


@register("cms_heavy_hitters", sketch.ORACLE_SQL["cms_heavy_hitters"])
def q_cms_heavy_hitters(spark, sf_dir):
    return sketch.cms_heavy_hitters(_t(spark, sf_dir, "documents"))


@register(
    "lang_temperature_plan", text_analysis.ORACLE_SQL["lang_temperature_plan"]
)
def q_lang_temperature_plan(spark, sf_dir):
    return text_analysis.lang_temperature_plan(_t(spark, sf_dir, "documents"))


@register(
    "lang_temperature_sample",
    text_analysis.ORACLE_SQL["lang_temperature_sample"],
)
def q_lang_temperature_sample(spark, sf_dir):
    return text_analysis.lang_temperature_sample(
        _t(spark, sf_dir, "documents")
    )


@register("dedup_incremental", dedup.ORACLE_SQL["dedup_incremental"])
def q_dedup_incremental(spark, sf_dir):
    return dedup.dedup_incremental(_t(spark, sf_dir, "documents"))


# The full state lifecycle: K successive ingest rounds, each probing --
# then appending to -- persisted band-index/shingle/pairs tables. The
# oracle states the fixpoint declaratively (all cross-batch LSH pairs
# with batch(a) > batch(b)); the query earns it by actually replaying.
@register("dedup_ingest_replay", dedup.ORACLE_SQL["dedup_ingest_replay"])
def q_dedup_ingest_replay(spark, sf_dir):
    return dedup.dedup_ingest_replay(_t(spark, sf_dir, "documents"))


# Detector-comparison report: pairwise agreement of the three near-dup
# detectors -- the dedup analog of ann_recall_report.
@register(
    "dedup_method_agreement", dedup.ORACLE_SQL["dedup_method_agreement"]
)
def q_dedup_method_agreement(spark, sf_dir):
    return dedup.dedup_method_agreement(_t(spark, sf_dir, "documents"))


# The salted two-phase aggregation must be output-identical to the plain
# wc, so it shares wc's oracle -- the registered proof that the skew
# rewrite preserves semantics.
@register("wc_salted", apps.ORACLE_SQL["wc"])
def q_wc_salted(spark, sf_dir):
    return apps.word_count_salted(_t(spark, sf_dir, "documents"))


# Same shared-oracle trick for the iterative case: PageRank with every
# per-iteration contribution aggregate salted two-phase (hub nodes in a
# power-law graph otherwise pin one reducer) must hash-match the plain
# PageRank under the plain query's unrolled-CTE oracle.
@register("part_pagerank_salted", graph.ORACLE_SQL["part_pagerank"])
def q_part_pagerank_salted(spark, sf_dir):
    return graph.part_pagerank_salted(_t(spark, sf_dir, "lineitem"))


# GK-sketch percentiles: merge order is partition-dependent => rows-only;
# rank-error envelope vs the exact twin pinned in tests/test_round3_ops.py.
@register("events_value_percentiles_approx", None)
def q_events_value_percentiles_approx(spark, sf_dir):
    return rel.events_value_percentiles_approx(_t(spark, sf_dir, "events"))


# Streaming CMS: the sketch state is D*W counters regardless of user
# cardinality, and the md5 hash family is deterministic -- the one
# approximate-family stream that carries an EXACT oracle.
@register("user_cms_stream", streaming_ops.ORACLE_SQL["user_cms_stream"])
def q_user_cms_stream(spark, sf_dir):
    return streaming_ops.q_user_cms_stream(spark, sf_dir)


@register("fk_integrity_audit", rel.ORACLE_SQL["fk_integrity_audit"])
def q_fk_integrity_audit(spark, sf_dir):
    return rel.fk_integrity_audit(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register("lineitem_checksum", rel.ORACLE_SQL["lineitem_checksum"])
def q_lineitem_checksum(spark, sf_dir):
    return rel.lineitem_checksum(_t(spark, sf_dir, "lineitem"))


@register("lang_confusion", text_analysis.ORACLE_SQL["lang_confusion"])
def q_lang_confusion(spark, sf_dir):
    return text_analysis.lang_confusion(_t(spark, sf_dir, "documents"))


@register("part_affinity_rules", rel.ORACLE_SQL["part_affinity_rules"])
def q_part_affinity_rules(spark, sf_dir):
    return rel.part_affinity_rules(_t(spark, sf_dir, "lineitem"))


@register(
    "mjpeg_avi_frame_dhash",
    multimodal.ORACLE_SQL["mjpeg_avi_frame_dhash"],
)
def q_mjpeg_avi_frame_dhash(spark, sf_dir):
    return multimodal.mjpeg_avi_frame_dhash(_t(spark, sf_dir, "documents"))


@register(
    "mjpeg_mp4_frame_dhash",
    multimodal.ORACLE_SQL["mjpeg_mp4_frame_dhash"],
)
def q_mjpeg_mp4_frame_dhash(spark, sf_dir):
    return multimodal.mjpeg_mp4_frame_dhash(_t(spark, sf_dir, "documents"))


@register(
    "codec_boundary_report",
    multimodal.ORACLE_SQL["codec_boundary_report"],
)
def q_codec_boundary_report(spark, sf_dir):
    return multimodal.codec_boundary_report(_t(spark, sf_dir, "documents"))


@register(
    "media_boundary_report",
    multimodal.ORACLE_SQL["media_boundary_report"],
)
def q_media_boundary_report(spark, sf_dir):
    return multimodal.media_boundary_report(_t(spark, sf_dir, "documents"))


@register(
    "jpeg_progressive_roundtrip",
    multimodal.ORACLE_SQL["jpeg_progressive_roundtrip"],
)
def q_jpeg_progressive_roundtrip(spark, sf_dir):
    return multimodal.jpeg_progressive_roundtrip(
        _t(spark, sf_dir, "documents")
    )


@register(
    "jpeg_arith_roundtrip",
    multimodal.ORACLE_SQL["jpeg_arith_roundtrip"],
)
def q_jpeg_arith_roundtrip(spark, sf_dir):
    return multimodal.jpeg_arith_roundtrip(_t(spark, sf_dir, "documents"))


@register(
    "jpeg_lossless_roundtrip",
    multimodal.ORACLE_SQL["jpeg_lossless_roundtrip"],
)
def q_jpeg_lossless_roundtrip(spark, sf_dir):
    return multimodal.jpeg_lossless_roundtrip(
        _t(spark, sf_dir, "documents")
    )


@register(
    "jpeg_12bit_roundtrip",
    multimodal.ORACLE_SQL["jpeg_12bit_roundtrip"],
)
def q_jpeg_12bit_roundtrip(spark, sf_dir):
    return multimodal.jpeg_12bit_roundtrip(_t(spark, sf_dir, "documents"))


@register(
    "jpeg_prog_arith_roundtrip",
    multimodal.ORACLE_SQL["jpeg_prog_arith_roundtrip"],
)
def q_jpeg_prog_arith_roundtrip(spark, sf_dir):
    return multimodal.jpeg_prog_arith_roundtrip(
        _t(spark, sf_dir, "documents")
    )


# --------------------------------------------------------------------------
# HTML/markup -> text extraction (round 9): the crawl-intake edge.
# --------------------------------------------------------------------------
from .operators import html_extract  # noqa: E402


@register("extract_text", html_extract.ORACLE_SQL["extract_text"])
def q_extract_text(spark, sf_dir):
    return html_extract.extract_text(_t(spark, sf_dir, "documents"))


@register(
    "extraction_report", html_extract.ORACLE_SQL["extraction_report"]
)
def q_extraction_report(spark, sf_dir):
    return html_extract.extraction_report(_t(spark, sf_dir, "documents"))


@register(
    "extracted_quality_score",
    html_extract.ORACLE_SQL["extracted_quality_score"],
)
def q_extracted_quality_score(spark, sf_dir):
    return html_extract.extracted_quality_score(
        _t(spark, sf_dir, "documents")
    )


@register(
    "extract_text_stream",
    streaming_ops.ORACLE_SQL["extract_text_stream"],
)
def q_extract_text_stream(spark, sf_dir):
    return streaming_ops.q_extract_text_stream(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
