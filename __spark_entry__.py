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
# (a) the 25 r14-gated entries the previous rotation left out
#     (registry order);
# (b) the 22 entries last gated in r13, the oldest record of any
#     oracle-backed entry (registry order);
# (c) the first 3 entries last gated in r14 (registry order), filling
#     to exactly 50.
# The remaining 22 r14-gated entries (registry order: stable_states,
# with_const, default_missing, scale_metric, coll_increase_daily,
# ddt_rate, coll_where_inside_window, coll_sum_hourly,
# coll_mean_hourly, coll_percentiles_hourly, sessionize_user_events,
# zscore_events, dedup_exact_docs, minhash_lsh_pairs,
# ngram_jaccard_pairs, simhash_pairs, dedup_clusters,
# dedup_survivors_docs, ann_bruteforce_topk, ann_bruteforce_l2_topk,
# ann_lsh_topk, ann_ivf_topk) lead the next rotation, then the r15
# record.
#
# winnow_dedup_pairs_fast is rows-only BY DESIGN (no xxhash64 in
# DuckDB; overlap vs the portable path is pytest-pinned) — it must
# NEVER be listed here: inside the gate head the driver would record
# an `err` for its missing oracle. It stays below slot 50 because
# this list holds exactly 50 oracle-backed names.
GATE_PRIORITY = [
    # (a) the 25 r14-gated entries left out last rotation (registry order)
    "split_routing", "throttle", "ewma_smoothed", "ann_pq_topk",
    "embedding_near_dups", "semantic_dedup_survivors",
    "stratified_sample_docs", "contamination_docs", "pack_docs",
    "boilerplate_removed_docs", "ann_ivfpq_trained_topk",
    "winnow_dedup_pairs", "bpe_top_pairs", "pca_power_iter",
    "pca_project_trained", "tfidf_top_terms", "dup_span_fraction_docs",
    "curate_head_lm_docs", "curate_head_lm3_docs", "lm3_bits_docs",
    "lm3_quality_docs", "top_suppliers", "priority_conditional_counts",
    "brand_part_revenue", "segment_top_orders",
    # (b) the 22 entries last gated in r13 (registry order)
    "coll_top3", "coll_bottom3", "coll_sort_ids", "by_sum_daily",
    "smax_running", "semdedup_survivors", "semdedup_arrow_survivors",
    "semdedup_prod_survivors", "semdedup_prod_arrow_survivors",
    "ngram_containment_pairs", "contamination_bloom_docs",
    "dsir_logweight_docs", "dsir_top_docs", "temperature_sample_docs",
    "bpe_fertility_by_lang", "curate_head_dsir_docs",
    "dup_span_removed_prefilter_docs",
    "dup_span_removed_char_prefilter_docs",
    "dup_span_removed_twophase_docs", "vocab_cardinality_by_lang",
    "corpus_datasheet", "volume_shipping",
    # (c) the first 3 entries last gated in r14 (registry order)
    "where_basic", "over_filter", "tagged_all",
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
