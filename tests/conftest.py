import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SEQUIN_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sequin_spark.session import get_spark

    s = get_spark("sequin_spark_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: retraining/regeneration checks (minutes); included in the "
        "default run, deselectable with -m 'not slow'")


# The DEEP tier (r14, verdict task #2): exhaustive long-runners excluded
# from the default smoke run (pytest.ini sets `-m "not deep"`) so the
# round driver's bounded verify window reaches the pytest summary line.
# Selection rule: the slowest tests by measured duration (full-suite
# --durations on this host), keeping AT LEAST ONE representative of
# every parametrized family / heavy module in the default tier, and
# keeping every correctness gate (full-audit freshness, plan-shape,
# coverage-window, oracle parity) in the default tier unconditionally.
# Run the full suite with `pytest tests/ -m ""` (or `make test`).
_DEEP_TESTS = (
    # hypothesis / generated-corpus sweeps (fast siblings stay)
    "tests/test_operators.py::test_interval_bin_join_hypothesis",
    "tests/test_operators.py::test_interval_bin_join_matches_naive",
    "tests/test_functions.py::test_minipy_module_corpus",
    "tests/test_functions.py::test_minipy_program_semantics_corpus",
    "tests/test_minipy_property.py::",
    # chaos/soak matrices — representatives stay: fence[300],
    # pull_queue[403], ledger_trim_horizon[1]
    "tests/test_chaos_state.py::test_chaos_backfill_fence[301",
    "tests/test_chaos_state.py::test_chaos_backfill_fence[302",
    "tests/test_chaos_state.py::test_chaos_backfill_fence[303",
    "tests/test_chaos_state.py::test_chaos_backfill_fence[304",
    "tests/test_chaos_state.py::test_chaos_backfill_fence[305",
    "tests/test_chaos_state.py::test_chaos_backfill_fence[306",
    "tests/test_chaos_state.py::test_chaos_backfill_fence[307",
    "tests/test_chaos_state.py::test_chaos_pull_queue[402",
    "tests/test_chaos_state.py::test_chaos_pull_queue[404",
    "tests/test_chaos_state.py::test_chaos_pull_queue[405",
    "tests/test_chaos_state.py::test_chaos_pull_queue[406",
    "tests/test_chaos_state.py::test_chaos_pull_queue[407",
    "tests/test_chaos_state.py::test_chaos_ledger_trim_horizon[0",
    # streaming parity/restart matrices — reservoir twin stays
    "tests/test_streaming_sketch.py::test_streaming_hll_equals_batch",
    "tests/test_streaming_sketch.py::test_streaming_cm_equals_batch",
    "tests/test_streaming_sketch.py::test_streaming_kmv_equals_batch",
    "tests/test_streaming_sketch.py::test_streaming_kmv_small_stream_is_exact",
    "tests/test_streaming_sketch.py::test_streaming_hll_per_key_equals_batch",
    "tests/test_streaming_sketch.py::test_streaming_kmv_survives_checkpoint_restart",
    "tests/test_streaming_sketch.py::test_streaming_sketch_under_rocksdb",
    "tests/test_streaming_audits.py::test_late_counters_twin_matches_batch_recurrence",
    "tests/test_streaming_audits.py::test_session_gaps_twin_equals_batch_lag",
    "tests/test_scd2_stream.py::test_scd2_repeated_flush_no_duplicate_snapshots",
    "tests/test_scd2_stream.py::test_scd2_stream_parity_across_restart_and_replay",
    "tests/test_scd2_stream.py::test_scd2_tombstone_state_eviction",
    "tests/test_scd2_pipeline.py::test_scd2_two_column_cursor_parity",
    "tests/test_scd2_pipeline.py::test_scd2_history_consumer_via_pipeline",
    "tests/test_streaming_dedup.py::test_streaming_e2e_two_microbatches",
    "tests/test_streaming_dedup.py::test_ingest_second_batch_probes_corpus",
    "tests/test_streaming_dedup.py::test_ingest_replay_is_idempotent",
    "tests/test_stateful.py::test_streaming_funnel_out_of_order_across_batches",
    "tests/test_stateful.py::test_streaming_funnel_matches_batch",
    "tests/test_stateful.py::test_streaming_funnel_candidate_cap",
    "tests/test_stateful.py::test_stateful_dedup_under_rocksdb_state_store",
    "tests/test_stateful.py::test_drop_duplicates_within_watermark",
    "tests/test_stateful.py::test_stateful_dedup_across_microbatches",
    "tests/test_replica.py::test_replica_streaming_restart_parity",
    "tests/test_replica.py::test_replica_applier_chaos_seeds",
    "tests/test_graph_privacy.py::test_hard_negative_margin_sign",
    "tests/test_graph_privacy.py::test_dp_release_streaming_twin_equals_batch",
    "tests/test_graph_privacy.py::test_pagerank_random_graphs_match_replay",
    "tests/test_serve.py::test_serve_picks_up_rest_applied_consumer",
    "tests/test_zstd.py::test_compress_py_geometric_skew_frames_roundtrip",
    "tests/test_rollup.py::test_rollup_streaming_watermark_closes_windows",
    "tests/test_filtering.py::test_filter_funnel_streaming_twin_update_mode",
    "tests/test_aws_admin.py::test_admin_discard_and_redeliver",
    "tests/test_replication_contract.py::test_contract_idle_slot_advances_on_heartbeat_traffic",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if any(item.nodeid.startswith(p) for p in _DEEP_TESTS):
            item.add_marker(pytest.mark.deep)
