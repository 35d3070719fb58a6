"""Shared fixtures: one local SparkSession + literal-event helpers.

Test pattern mirrors the reference's layer-1 operator tests
(test/mirabelle/action_test.clj): literal event list in → exact
emitted rows out.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from mirabelle_spark.session import get_spark

    s = get_spark(app_name="mirabelle_tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def make_events(spark):
    """Build an event DataFrame from dicts with numeric ``time``
    seconds; schema: time TIMESTAMP, metric DOUBLE, host STRING,
    service STRING, state STRING, tags ARRAY<STRING>, seq BIGINT
    (arrival order)."""
    from pyspark.sql import functions as F

    def _make(rows: list[dict]):
        norm = []
        for i, r in enumerate(rows):
            norm.append(
                {
                    "time_s": float(r["time"]) if r.get("time") is not None else None,
                    "metric": (
                        float(r["metric"]) if r.get("metric") is not None else None
                    ),
                    "host": r.get("host"),
                    "service": r.get("service"),
                    "state": r.get("state"),
                    "tags": r.get("tags"),
                    "seq": i,
                }
            )
        df = spark.createDataFrame(
            norm,
            schema="time_s double, metric double, host string, service string, "
            "state string, tags array<string>, seq bigint",
        )
        return df.withColumn("time", F.timestamp_seconds("time_s")).drop("time_s")

    return _make


@pytest.fixture(scope="session")
def collect_sorted():
    def _collect(df, *cols):
        rows = df.select(*cols) if cols else df
        return sorted([tuple(r) for r in rows.collect()])

    return _collect


# ---------------------------------------------------------------------------
# slow-test gating (r17, VERDICT r16 ask #6): the full suite ran ~63
# minutes on the driver's host and timed out its verification window
# every round (VERIFY red on a timeout, masking real failures). Tests
# measured >= 4 s of call time in a full --durations=0 run are marked
# ``slow`` and EXCLUDED BY DEFAULT via pytest.ini's ``-m "not slow"``
# (run them with ``-m slow``, or everything with ``-m ""``). Three
# heavy tests are deliberately NOT gated because they are the
# anti-gaming / kernel-parity pins the verification contract names:
# test_dedup_leaves_no_persistent_rdds (CacheManager emptiness — the
# no-cross-run-caching pin), test_collapse_exact_signatures_components_identical
# and test_ivf_probe_scores_kernel_matches_relational (Arrow-kernel
# exactness vs their relational twins). The list is centralized here
# (not per-file decorators) so the selection is auditable in one
# place against the committed durations ranking. Entries are
# ``file::test name`` (parametrized ids match on the base name).
SLOW_TESTS = {
    "test_aggregations.py::test_agg_sum_mean",
    "test_builder.py::test_curate_default_perplexity_rejects_bigram_spam",
    "test_builder.py::test_curate_dsl_lm_perplexity",
    "test_builder.py::test_curate_dsl_neardup",
    "test_builder.py::test_curate_dsl_perplexity_warnings",
    "test_golden_reference.py::test_aggregation_delay_golden",
    "test_golden_reference.py::test_launch_tests_directory_runner",
    "test_pipeline.py::test_ann_lsh_recall_vs_bruteforce",
    "test_pipeline.py::test_bpe_32k_merges_end_to_end",
    "test_pipeline.py::test_bpe_4k_merges_end_to_end",
    "test_pipeline.py::test_bpe_batched_cuts_rounds",
    "test_pipeline.py::test_bpe_batched_exact_equals_serial",
    "test_pipeline.py::test_bpe_batched_self_pair_fence",
    "test_pipeline.py::test_bpe_train_matches_reference",
    "test_pipeline.py::test_dup_span_removed_char_grain",
    "test_pipeline.py::test_dup_span_removed_detect_parity",
    "test_pipeline.py::test_dup_span_removed_pos_overflow_guard",
    "test_pipeline.py::test_dup_span_removed_prefilter_auto",
    "test_pipeline.py::test_dup_span_removed_prefilter_parity",
    "test_pipeline.py::test_gate_exprs_match_score_membership",
    "test_pipeline.py::test_ivf_topk_recall_and_exhaustive_exactness",
    "test_pipeline.py::test_ivfpq_append_stream_matches_batch_index",
    "test_pipeline.py::test_ivfpq_compact_index_preserves_probes",
    "test_pipeline.py::test_ivfpq_write_once_index",
    "test_pipeline.py::test_lm3_gate_expr_matches_join_gate",
    "test_pipeline.py::test_minhash_band_keys_matches_batch_lsh",
    "test_pipeline.py::test_minhash_fast_hash_flag",
    "test_pipeline.py::test_pipeline_ops_on_empty_corpus",
    "test_pipeline.py::test_power_iteration_matches_numpy",
    "test_pipeline.py::test_quality_logreg_trainer",
    "test_pipeline.py::test_stratified_sample_per_group",
    "test_pipeline.py::test_train_ivf_deterministic_and_improving",
    "test_pipeline.py::test_train_pq_deterministic_and_competitive",
    "test_pipeline.py::test_train_top_components_deflation",
    "test_pipeline.py::test_trained_bpe_merges_match_pinned",
    "test_pipeline.py::test_trained_centroids_through_write_once_index",
    "test_pipeline.py::test_trained_logreg_match_pinned",
    "test_pipeline.py::test_trained_pca_component_match_pinned",
    "test_pipeline.py::test_trained_pq_codebooks_match_pinned",
    "test_pipeline.py::test_trained_semdedup_centroids_match_pinned",
    "test_pipeline.py::test_trained_trigram_lm_match_pinned",
    "test_properties.py::test_bpe_trainer_matches_reference_property",
    "test_properties.py::test_dup_span_removed_char_matches_reference_property",
    "test_properties.py::test_dup_span_removed_matches_reference_property",
    "test_properties.py::test_dup_span_removed_prefilter_property",
    "test_properties.py::test_ewma_matches_reference_loop",
    "test_properties.py::test_lm3_bits_matches_reference_property",
    "test_properties.py::test_lm_bits_matches_reference_property",
    "test_properties.py::test_mixture_equals_hash_sample_at_uniform_rate",
    "test_properties.py::test_paragraph_dedup_matches_reference_loop",
    "test_properties.py::test_throttle_matches_reference_loop",
    "test_properties.py::test_zscore_matches_reference_loop",
    "test_scale.py::test_ivf_trained_quantizer_sf1_recall",
    "test_streaming.py::test_control_plane_soak_small",
    "test_streaming.py::test_lifecycle_reload_survives_uncommitted_batch0",
    "test_streaming.py::test_riemann_tcp_tls_mtls",
    "test_streaming.py::test_state_ttl_evicts_idle_keys",
    "test_streaming.py::test_stream_changed_sharded_timestamp_field",
    "test_streaming.py::test_stream_cond_dt_sharded_parity",
    "test_streaming.py::test_stream_curate_contamination_parity",
    "test_streaming.py::test_stream_curate_lm3_parity",
    "test_streaming.py::test_stream_curate_neardup_parity",
    "test_streaming.py::test_stream_curate_parity",
    "test_streaming.py::test_stream_expired_sharded_parity",
    "test_streaming.py::test_stream_ftw_delay_reference_case",
    "test_streaming.py::test_stream_image_neardup_dedup_parity",
    "test_streaming.py::test_stream_neardup_dedup_parity",
    "test_streaming.py::test_stream_rate_reference_case",
    "test_streaming.py::test_stream_smin_ddt_parity",
    "test_streaming.py::test_stream_throttle_sharded_parity",
    "test_streaming.py::test_stream_windowed_agg_twins_parity",
    "test_streaming.py::test_stream_zscore_huge_values_fold_exact",
    "test_streaming.py::test_streaming_dsl_compile_parity",
    "test_streaming.py::test_watermark_drops_late_event",
}


def pytest_collection_modifyitems(session, config, items):
    import pytest as _pytest

    collected = set()
    for item in items:
        nodeid = f"{item.path.name}::{item.name.split('[')[0]}"
        collected.add(nodeid)
        if nodeid in SLOW_TESTS:
            item.add_marker(_pytest.mark.slow)
    # a stale entry (test renamed or moved) would silently drop the
    # slow mark; when the whole tests/ directory is collected without
    # collection errors, every entry must name a collected test
    here = Path(__file__).parent.resolve()
    base = Path(config.invocation_params.dir)
    roots = [(base / a.split("::")[0]).resolve() for a in config.args]
    whole = any(r == here or r in here.parents for r in roots)
    stale = sorted(SLOW_TESTS - collected)
    if whole and not session.testsfailed and stale:
        raise _pytest.UsageError(
            f"tests/conftest.py SLOW_TESTS names tests that were not collected: {stale}"
        )
