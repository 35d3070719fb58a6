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
# (a) the 22 r15-gated entries the previous rotation left out
#     (registry order);
# (b) the first 28 entries last gated in r16 (registry order; the r17
#     record gated the same 50), filling to exactly 50.
# The remaining 22 r16-gated entries (registry order:
# text_rolling_fp, image_dhash_docs, image_near_dups,
# video_near_dups, audio_dhash_docs, audio_near_dups,
# neardup_degree_histogram, soft_dedup_docs, corpus_split_docs,
# search_quality_docs, doc_length_profile, split_token_budget,
# bpe_segment_trained, scrubbed_corpus_docs,
# curate_head_logreg_docs, logreg_quality_docs, curate_head_docs,
# dup_span_removed_docs, dup_span_removed_char_docs,
# order_priority_counts, returned_item_customers,
# large_order_customers) lead the next rotation, then the record of
# the rounds after r17.
#
# winnow_dedup_pairs_fast is rows-only BY DESIGN (no xxhash64 in
# DuckDB; overlap vs the portable path is pytest-pinned) — it must
# NEVER be listed here: inside the gate head the driver would record
# an `err` for its missing oracle. It stays below slot 50 because
# this list holds exactly 50 oracle-backed names.
GATE_PRIORITY = [
    # (a) the 22 remaining r15-gated entries (registry order)
    "text_bpe_token_count", "text_repetition", "gopher_quality_docs",
    "vocab_top100", "token_rarity_docs", "mixture_sample_docs",
    "clean_corpus_docs", "paragraph_dedup_docs", "multimodal_features",
    "video_frame_sample", "linear_quality_docs", "ivf_centroid_update",
    "best_docs_per_lang", "token_chunks_docs", "ann_sq_topk",
    "ann_ivfpq_topk", "ann_ivfpq_rerank_topk", "ann_ivfpq_cosine_topk",
    "lm_bits_docs", "lm_quality_docs", "tpch_pricing_summary",
    "revenue_by_nation",
    # (b) the first 28 entries last gated in r16 (registry order)
    "where_not", "where_regex", "under_filter", "expired_events",
    "not_expired_events", "changed_transitions", "above_dt_alert",
    "outside_dt_alert", "extract_nested", "sflatten_roundtrip",
    "moving_time_window_count", "coalesce_latest", "agg_sum_hourly",
    "agg_sum_delayed_hourly", "agg_mean_hourly", "agg_top_event",
    "agg_bottom_event", "agg_rate_hourly", "agg_ratio_error_click",
    "agg_percentiles_hourly", "coll_count_hourly", "coll_max_hourly",
    "coll_min_hourly", "coll_rate_hourly", "coll_quotient_daily",
    "text_quality", "text_lang_id", "text_fingerprint",
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
