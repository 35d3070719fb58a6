"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (where → by → tumbling
window → sum) at sf0.001. ``queries()``/``oracle_sql()`` expose
every implemented operator from SURVEY.md §2 plus the pipeline ops;
registries live in :mod:`mirabelle_spark.queries` and
:mod:`mirabelle_spark.queries_pipeline`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: per-user hourly sum
    of 'click' values — where → by → fixed-time-window → sum."""
    from mirabelle_spark.operators import aggregations as agg
    from mirabelle_spark.operators import filters as flt
    from mirabelle_spark.queries import events

    df = events(spark, "/root/testdata/sf0.001")
    clicks = flt.where(df, [":=", "event_type", "click"])
    return agg.agg_sum(clicks, 3600.0, by=["user_id"], time_col="ts", metric_col="value")


# The driver's correctness gate samples the FIRST 50 registry entries,
# so ordering is coverage policy: the oldest last-gated queries come
# first, and a query whose engine path changed leads the next gate.
# Current rotation ("gated" = named in the CORRECTNESS_r*.json record):
# (a) the 44 entries last gated in r14, the oldest record of any
#     oracle-backed entry (registry order);
# (b) the four other queries that resolve near-dup clusters through
#     dedup.resolve_clusters, whose engine path changed (the union-find
#     task); dedup_clusters, dedup_survivors_docs and
#     semantic_dedup_survivors are already in (a);
# (c) the first 2 entries last gated in r15 (registry order), filling
#     to exactly 50.
# The remaining 47 r15-gated entries (registry order:
# sformat_label, to_string_field, base64_roundtrip, from_json_props,
# rename_keys_proj, keep_keys_proj, sdissoc_proj, tag_untag,
# iterate_on_explode, fixed_time_window_ids, fixed_event_window_ids,
# moving_event_window_vals, ssort_sorted, project_correlate,
# smin_running, ddt_pos_rate, below_dt_alert, between_dt_alert,
# critical_dt_alert, dsl_pipeline, coalesce_fill, ann_ivf_trained_topk,
# ann_pq_trained_topk, hash_sample_docs, mask_pii_docs,
# text_token_count, text_bpe_token_count, text_repetition,
# gopher_quality_docs, vocab_top100, token_rarity_docs,
# mixture_sample_docs, paragraph_dedup_docs, multimodal_features,
# video_frame_sample, linear_quality_docs, ivf_centroid_update,
# best_docs_per_lang, token_chunks_docs, ann_sq_topk, ann_ivfpq_topk,
# ann_ivfpq_rerank_topk, ann_ivfpq_cosine_topk, lm_bits_docs,
# lm_quality_docs, tpch_pricing_summary, revenue_by_nation) lead the
# next rotation, then the r17 record.
#
# winnow_dedup_pairs_fast is rows-only BY DESIGN (no xxhash64 in
# DuckDB; overlap vs the portable path is pytest-pinned) — it must
# NEVER be listed here: inside the gate head the driver would record
# an `err` for its missing oracle. It stays below slot 50 because
# this list holds exactly 50 oracle-backed names.
GATE_PRIORITY = [
    # (a) the 44 entries last gated in r14 (registry order)
    "with_const", "default_missing", "scale_metric", "coll_increase_daily",
    "ddt_rate", "ewma_smoothed", "coll_where_inside_window",
    "coll_sum_hourly", "coll_mean_hourly", "coll_percentiles_hourly",
    "sessionize_user_events", "zscore_events", "dedup_exact_docs",
    "minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash_pairs",
    "dedup_clusters", "dedup_survivors_docs", "ann_bruteforce_topk",
    "ann_bruteforce_l2_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
    "embedding_near_dups", "semantic_dedup_survivors",
    "stratified_sample_docs", "contamination_docs", "pack_docs",
    "boilerplate_removed_docs", "ann_ivfpq_trained_topk",
    "winnow_dedup_pairs", "bpe_top_pairs", "pca_power_iter",
    "pca_project_trained", "tfidf_top_terms", "dup_span_fraction_docs",
    "curate_head_lm_docs", "curate_head_lm3_docs", "lm3_bits_docs",
    "lm3_quality_docs", "top_suppliers", "priority_conditional_counts",
    "brand_part_revenue", "segment_top_orders",
    # (b) the other resolve_clusters queries
    "clean_corpus_docs", "image_near_dups", "video_near_dups",
    "audio_near_dups",
    # (c) the first 2 entries last gated in r15 (registry order)
    "increment_metric", "decrement_metric",
]


def _ordered(mapping: dict) -> dict:
    out = {}
    for name in GATE_PRIORITY:
        if name in mapping:
            out[name] = mapping[name]
    for name, v in mapping.items():
        if name not in out:
            out[name] = v
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mirabelle_spark import queries as qmod
    from mirabelle_spark import queries_analytics as amod
    from mirabelle_spark import queries_pipeline as pmod

    out: dict[str, Callable] = {}
    out.update(qmod.QUERIES)
    out.update(pmod.QUERIES)
    out.update(amod.QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    from mirabelle_spark import queries as qmod
    from mirabelle_spark import queries_analytics as amod
    from mirabelle_spark import queries_pipeline as pmod

    out: dict[str, str] = {}
    out.update(qmod.ORACLES)
    out.update(pmod.ORACLES)
    out.update(amod.ORACLES)
    return _ordered(out)
