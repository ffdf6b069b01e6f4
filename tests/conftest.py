"""Shared fixtures: one SparkSession per test run + a DuckDB oracle harness
mirroring the driver's differential check (row-count, schema-compatible
dtypes, order-insensitive value comparison with sorted columns)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from sales_forecast_mlops_at_scale_spark.schemas import STAR_TABLES
from sales_forecast_mlops_at_scale_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for order-insensitive comparison: columns sorted by
    name, rows sorted by all columns, stable dtypes."""
    import datetime as _dt

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif pdf[c].dtype == object:
            probe = pdf[c].dropna()
            if len(probe) and isinstance(probe.iloc[0], (_dt.date, _dt.datetime)):
                pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
            else:
                pdf[c] = pdf[c].astype(str)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def assert_matches_oracle(spark_df, con, sql: str, *, float_tol: float = 0.0) -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(con.execute(sql).df())
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    assert list(got.columns) == list(want.columns), (
        f"columns {list(got.columns)} != oracle {list(want.columns)}"
    )
    for c in got.columns:
        g, w = got[c], want[c]
        if float_tol and pd.api.types.is_float_dtype(g):
            ok = ((g - w).abs() <= float_tol) | (g.isna() & w.isna())
            assert ok.all(), f"column {c}: max diff {(g - w).abs().max()}"
        else:
            # exact, like the driver's value hash — assert_series_equal's
            # default rtol would hide rounding-boundary divergence
            pd.testing.assert_series_equal(
                g, w, check_names=False, check_dtype=False, check_exact=True
            )


# ---------------------------------------------------------------------------
# Test tiering (optimization r13, VERDICT r12 #1b)
# ---------------------------------------------------------------------------
# The full suite takes ~41 min on a 32-core host — longer than the
# harness's verify window, which truncated the r12 run mid-suite and
# reported tests_ok=false on a suite that had no failures.  The DEFAULT
# run therefore deselects the slowest depth/differential tests (marked
# ``slow`` below: multi-drain streaming parity sweeps, crash-point
# sweeps, randomized property folds — everything that cost >=10 s in the
# timed full run, EXCEPT the per-query oracle differentials, which are
# the driver-aligned correctness gate and always run).  Run everything
# with ``pytest -m ""`` (the round-close gate) or a single tier with
# ``pytest -m slow``.  The ids are matched by exact node-id so a
# parametrized case can be tiered without dragging its fast siblings.
_SLOW_NODE_IDS = frozenset((
    "test_forget.py::test_chunked_broad_delete_matches_unchunked",
    "test_forget.py::test_chunked_delete_crash_between_chunks_converges",
    "test_forget.py::test_chunked_delete_crash_mid_chunk_journal_heals",
    "test_forget.py::test_chunked_forget_keys_bounds_each_pass",
    "test_forget.py::test_forget_differential_vs_full_rewrite_randomized",
    "test_forget.py::test_forget_documents_unblocks_future_near_dups",
    "test_forget.py::test_forget_invalidates_compaction_marker",
    "test_forget.py::test_forget_vectors_scrubs_index_and_search",
    "test_forget.py::test_forget_vectors_scrubs_rejected_audit_log_both_sides",
    "test_forget.py::test_run_forget_stream_drains_tombstone_queue",
    "test_llm_ops.py::test_ann_recall_all_internal_consistency",
    "test_llm_ops.py::test_bpe_encode_vocab_scale_merge_list",
    "test_llm_ops.py::test_bpe_trainers_agree_to_saturation",
    "test_llm_ops.py::test_connected_components_long_path_converges_logarithmically",
    "test_llm_ops.py::test_connected_components_path64_default_budget",
    "test_llm_ops.py::test_contrastive_negatives_invariants",
    "test_llm_ops.py::test_ivfpq_probe_bounded_recall_floor_at_k64",
    "test_llm_ops.py::test_ivfpq_recall_floor_at_shipped_knobs",
    "test_llm_ops.py::test_ivfpq_rerank_with_full_probe_equals_exact",
    "test_llm_ops.py::test_materialized_ivfpq_search_equals_in_session_build",
    "test_llm_ops.py::test_pq_adc_rerank_with_full_candidates_equals_exact",
    "test_llm_ops.py::test_pq_encode_complete_and_adc_finds_exact_duplicate",
    "test_llm_ops.py::test_pq_recall_at_fixture_beats_chance_floor",
    "test_ml_incremental.py::test_cold_run_equals_full_retrain",
    "test_properties.py::test_bpe_encode_matches_reference_segmentation",
    "test_properties.py::test_bpe_train_matches_reference",
    "test_properties.py::test_decay_fold_equals_batch_under_random_partitions",
    "test_properties.py::test_dup_span_matches_bruteforce",
    "test_properties.py::test_packed_argmax_assignment_matches_window_reference",
    "test_properties.py::test_star_contraction_matches_union_find",
    "test_snapshots.py::test_concurrent_snapshot_reader_never_sees_mixed_state",
    "test_snapshots.py::test_crash_point_sweep_every_filesystem_op[plain]",
    "test_snapshots.py::test_crash_point_sweep_every_filesystem_op[snapshot]",
    "test_snapshots.py::test_dedup_and_vector_ingests_auto_publish_snapshot_tiers",
    "test_snapshots.py::test_refs_index_pruned_by_vacuum",
    "test_snapshots.py::test_unpublished_appends_are_never_lost",
    "test_star_queries.py::test_all_queries_have_unique_rowcounts_smoke",
    "test_streaming.py::test_attribution_stream_late_filter_and_eviction",
    "test_streaming.py::test_chained_rollup_cascade_within_one_drain",
    "test_streaming.py::test_compact_index_tables_preserves_search_results",
    "test_streaming.py::test_entry_points_heal_mid_swap_retrain",
    "test_streaming.py::test_index_drift_observes_two_epoch_shift_and_retrain_resets",
    "test_streaming.py::test_ingest_replay_heals_missing_seed_stats",
    "test_streaming.py::test_maybe_retrain_policy_thresholds",
    "test_streaming.py::test_outer_attribution_null_emission_timing",
    "test_streaming.py::test_retrain_index_crash_mid_swap_heals_forward",
    "test_streaming.py::test_run_ttl_rollup_stream_timeout_state_machine",
    "test_streaming.py::test_stateful_streams_identical_under_rocksdb_store",
    "test_streaming.py::test_stream_differential_batch_split_invariant[q_stream_chained-ts]",
    "test_streaming.py::test_stream_differential_batch_split_invariant[q_stream_dedup-ts]",
    "test_streaming.py::test_stream_differential_batch_split_invariant[q_stream_tws-user_id]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_attribution]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_chained]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_dedup]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_enrich]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_late_data]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_outer_attr]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_sessions]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_tws]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_tws_init]",
    "test_streaming.py::test_stream_differential_rocksdb_parity[q_stream_tws_ttl]",
    "test_streaming.py::test_stream_drain_granularity[q_stream_chained-True-ts]",
    "test_streaming.py::test_stream_drain_granularity[q_stream_dedup-False-ts]",
    "test_streaming.py::test_stream_drain_granularity[q_stream_tws-True-user_id]",
    "test_streaming.py::test_vector_ingest_dedup_survives_codes_less_replay",
    "test_streaming.py::test_vector_ingest_incremental_index_and_search",
    "test_streaming.py::test_vector_ingest_online_semantic_dedup",
    "test_streaming.py::test_vector_ingest_torn_replay_does_not_reject_committed_rows",
))


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: depth/differential test deselected by default"
    )


def _stale_slow_ids(nodeids, partial_files=()) -> list[str]:
    """Slow-tier ids naming a collected test file but no collected test:
    a renamed or deleted slow test, whose replacement would otherwise run
    in the default tier unnoticed.  ``partial_files`` were collected by
    node id (``file::test``), so their missing ids prove nothing."""
    collected = set(nodeids)
    files = {nid.split("::", 1)[0] for nid in collected} - set(partial_files)
    return sorted(
        i for i in _SLOW_NODE_IDS if i.split("::", 1)[0] in files and i not in collected
    )


def pytest_collection_modifyitems(config, items):
    nids = []
    for item in items:
        # nodeid is relative to rootdir: "tests/test_x.py::test_y[param]"
        nid = item.nodeid.split("tests/", 1)[-1]
        nids.append(nid)
        if nid in _SLOW_NODE_IDS:
            item.add_marker(pytest.mark.slow)
    # --lf keeps only last run's failures of a file and --sw drops the
    # tests before the last failure, both before this hook runs, so a
    # slow id missing from items proves nothing
    if config.getoption("lf", False) or config.getoption("stepwise", False):
        return
    partial = {os.path.basename(a.split("::", 1)[0]) for a in config.args if "::" in a}
    stale = _stale_slow_ids(nids, partial)
    if stale:
        raise pytest.UsageError(
            "_SLOW_NODE_IDS names tests that were not collected: " + ", ".join(stale)
        )
