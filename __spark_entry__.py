"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the reconciliation core on sf0.001;
``queries()`` maps every implemented operator from SURVEY.md §2 onto the
driver testdata tables; ``oracle_sql()`` provides the DuckDB-equivalent
SQL for each (omitted only for the indel-UDF and ER-pipeline queries,
which have no SQL equivalent — those get rows-only checks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_reconciliation_spark.plans import driver_queries as dq


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reconciliation core
    (full-outer join + field rules + exception melt) on deterministic
    orders snapshots."""
    return dq.q_reconcile_exceptions(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # joins / presence decomposition (J1-J3, P6)
        "j1_full_outer_merge": dq.q_j1_full_outer_merge,
        "j2_deleted_records": dq.q_j2_deleted_records,
        "j3_added_records": dq.q_j3_added_records,
        # reconciliation core (F1/F3/F5, R1/R2, A1/A2, X2/X3/X4)
        "reconcile_exceptions": dq.q_reconcile_exceptions,
        "a1_match_metrics": dq.q_a1_match_metrics,
        "f3_tolerance_with_coercion": dq.q_f3_tolerance_with_coercion,
        # fuzzy compare, SQL-checkable variant (F2/X9)
        "f2_levenshtein_pairs": dq.q_f2_levenshtein_pairs,
        # filters / set ops (P7)
        "p7_rejected_filter": dq.q_p7_rejected_filter,
        # aggregations (A7, A8, A9)
        "a3_distinct_systems": dq.q_a3_distinct_systems,
        "a4_distinct_pks_per_system": dq.q_a4_distinct_pks_per_system,
        "a7_history_summary": dq.q_a7_history_summary,
        "a8_uniqueness_profile": dq.q_a8_uniqueness_profile,
        "a9_dedup_gate_24h": dq.q_a9_dedup_gate_24h,
        # sorts / limits (O1-O5) + by-date analysis fetch (GET /analysis)
        "o1_history_ordered": dq.q_o1_history_ordered,
        "o2_analysis_by_date": dq.q_o2_analysis_by_date,
        "o4_top2_by_distinct": dq.q_o4_top2_by_distinct,
        # temporal joins / sessionization (engine extensions)
        "asof_join": dq.q_asof_join,
        "range_join_pairs": dq.q_range_join_pairs,
        "sessionize_batch": dq.q_sessionize_batch,
        # scalar functions (X5/X6/X7)
        "x5_multiformat_dates": dq.q_x5_multiformat_dates,
        "x7_change_summaries": dq.q_x7_change_summaries,
        # dedup suite
        "dedup_exact": dq.q_dedup_exact,
        "dedup_incremental": dq.q_dedup_incremental,
        "dedup_ngram_jaccard": dq.q_dedup_ngram_jaccard,
        # text analysis / corpus curation
        "text_stats": dq.q_text_stats,
        "lang_id": dq.q_lang_id,
        "quality_filter": dq.q_quality_filter,
        "top_k_tokens": dq.q_top_k_tokens,
        "curation_pipeline": dq.q_curation_pipeline,
        # similarity search
        "ann_cosine_topk": dq.q_ann_cosine_topk,
        # transitive clustering (C)
        "cluster_chain_components": dq.q_cluster_chain_components,
        # LSH dedup, oracle-checked configs (guaranteed-recall settings)
        "minhash_lsh_pairs": dq.q_minhash_lsh_pairs,
        "simhash_pairs": dq.q_simhash_pairs,
        # rows-only (no SQL equivalent: indel kernel / ER pipeline)
        "indel_ratio_pairs": dq.q_indel_ratio_pairs,
        "er_link_clusters": dq.q_er_link_clusters,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "j1_full_outer_merge": dq.SQL_J1,
        "j2_deleted_records": dq.SQL_J2,
        "j3_added_records": dq.SQL_J3,
        "reconcile_exceptions": dq.SQL_RECONCILE_EXC,
        "a1_match_metrics": dq.SQL_A1,
        "f3_tolerance_with_coercion": dq.SQL_F3,
        "f2_levenshtein_pairs": dq.SQL_F2,
        "p7_rejected_filter": dq.SQL_P7,
        "a3_distinct_systems": dq.SQL_A3,
        "a4_distinct_pks_per_system": dq.SQL_A4,
        "a7_history_summary": dq.SQL_A7,
        "a8_uniqueness_profile": dq.SQL_A8,
        "a9_dedup_gate_24h": dq.SQL_A9,
        "o1_history_ordered": dq.SQL_O1,
        "o2_analysis_by_date": dq.SQL_O2,
        "o4_top2_by_distinct": dq.SQL_O4,
        "asof_join": dq.SQL_ASOF,
        "range_join_pairs": dq.SQL_RANGE,
        "sessionize_batch": dq.SQL_SESSIONIZE,
        "x5_multiformat_dates": dq.SQL_X5,
        "x7_change_summaries": dq.SQL_X7,
        "dedup_exact": dq.SQL_DEDUP_EXACT,
        "dedup_incremental": dq.SQL_DEDUP_INCREMENTAL,
        "dedup_ngram_jaccard": dq.SQL_DEDUP_NGRAM,
        "text_stats": dq.SQL_TEXT_STATS,
        "lang_id": dq.SQL_LANG_ID,
        "quality_filter": dq.SQL_QUALITY_FILTER,
        "top_k_tokens": dq.SQL_TOP_K_TOKENS,
        "curation_pipeline": dq.SQL_CURATION,
        "ann_cosine_topk": dq.SQL_ANN,
        "cluster_chain_components": dq.SQL_CLUSTER_CHAIN,
        "minhash_lsh_pairs": dq.SQL_MINHASH,
        "simhash_pairs": dq.SQL_SIMHASH,
    }
