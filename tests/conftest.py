"""Shared pytest fixtures: one SparkSession per run, a DuckDB connection with
the testdata parquet registered as views (mirroring the driver's harness), and
an exact-equality compare helper that canonicalizes like the driver's
order-insensitive value-hash (sort columns by name, sort rows, exact values —
floats included, which keeps us honest about FP-sensitive query design)."""

from __future__ import annotations

import math
import os
import shlex
from datetime import date, datetime

import duckdb
import numpy as np
import pandas as pd
import pytest

from es_household_retention_spark_job_spark.session import get_spark
from es_household_retention_spark_job_spark.sources.tpch import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: Round-14 test tiering (see pytest.ini): the measured-slow tier — every
#: test whose CALL time exceeded 10s in the committed full-suite duration
#: profile (.durations captured r14; 67 tests, ~1,460s of the ~2,260s
#: total). Data-driven here (one list, exact node names incl. params)
#: instead of scattering @pytest.mark.slow across 15 files. Names are
#: matched against item.name, so a parametrized entry marks only the slow
#: parameter. A renamed test silently drops out of the tier (falls back to
#: the default fast run — fail-safe in the direction of MORE coverage).
SLOW_TESTS = {
    # tests/test_ann_delete.py
    "test_delete_matches_rebuild_and_filters_every_tier",  # 30s
    "test_upsert_replaces_appends_and_resurrects",  # 16s
    "test_split_purges_its_cells_and_keeps_other_tombstones",  # 14s
    "test_compact_purges_tombstones_physically",  # 14s
    "test_retrain_reshapes_and_purges",  # 13s
    # tests/test_ann_pq_index.py
    "test_pq_calibration_recall_guard",  # 62s
    "test_route_pq_tier_and_auto_dispatch",  # 15s
    "test_split_rederives_pq_sidecar",  # 14s
    "test_add_pq_sidecar_upgrade_and_append_maintenance",  # 13s
    "test_compact_preserves_pq_results",  # 12s
    "test_knn_pq_indexed_equals_per_call_ivfpq",  # 11s
    # tests/test_cli_e2e.py
    "test_cli_env_driven_two_phase_run",  # 22s
    # tests/test_cluster_sync.py
    "test_cluster_random_sequence_invariants",  # 120s
    "test_cluster_sync_follows_table",  # 24s
    "test_cluster_update_severed_pair_bridge_coarsens",  # 24s
    "test_cluster_delete_membership_and_conservative_merge",  # 22s
    "test_cluster_ghost_root_merge_stays_dead",  # 20s
    "test_cluster_update_departure_semantics",  # 20s
    "test_cluster_pairless_singleton_writes_no_row",  # 19s
    "test_cluster_former_root_departure_after_compress",  # 18s
    "test_cluster_compress_purges_ghosts_and_shortens_chains",  # 15s
    "test_cluster_compress_aborts_on_raced_sync",  # 12s
    "test_cluster_merge_repoints_one_row",  # 11s
    # tests/test_docs_pipeline.py
    "test_pq_admitted_route_end_to_end",  # 26s
    "test_ann_clustered_corpus_subliner_pruning",  # 15s
    "test_knn_ivfpq_refine_recall_clustered",  # 13s
    "test_knn_ann_auto_routes_by_batch_size",  # 13s
    "test_ann_cell_health_and_split",  # 12s
    "test_compact_ann_index_preserves_results_with_grace",  # 11s
    # tests/test_entry_contract.py (extras only — every driver-gate QUERIES
    # entry stays in the fast tier)
    "test_extra_query_matches_oracle[dedup_clusters_incremental]",  # 28s
    "test_extra_query_matches_oracle[knn_pq_admitted]",  # 21s
    "test_extra_query_matches_oracle[knn_pq_eval]",  # 19s
    "test_extra_query_matches_oracle[knn_ann_eval_clustered]",  # 12s
    "test_extra_query_matches_oracle[knn_pq_indexed]",  # 11s
    # tests/test_incremental_agg.py
    "test_fold_histogram_percentile_matches_replay[mor]",  # 29s
    "test_fold_minmax_distinct_matches_recompute[mor]",  # 26s
    "test_fold_minmax_distinct_matches_recompute[cow]",  # 19s
    "test_fold_histogram_percentile_matches_replay[cow]",  # 17s
    "test_fold_matches_recompute_across_batches[mor]",  # 15s
    "test_fold_matches_recompute_across_batches[cow]",  # 11s
    # tests/test_incremental_retention.py
    "test_incremental_under_merge_on_read_equals_full",  # 26s
    "test_flagship_loop_defaults_to_mor",  # 20s
    "test_incremental_equals_full_recompute",  # 20s
    # tests/test_index_crud_property.py
    "test_neardup_crud_random_sequence_matches_rebuild",  # 84s
    "test_ann_crud_random_sequence_matches_model",  # 56s
    "test_text_crud_random_sequence_matches_rebuild",  # 54s
    # tests/test_index_sync.py
    "test_sync_ann_auto_split_tracks_corpus_sqrt",  # 43s
    "test_maintain_index_routes_and_serves",  # 34s
    "test_sync_serving_stack_one_window",  # 25s
    "test_sync_neardup_index_follows_table",  # 24s
    "test_serving_stack_route_maintenance",  # 20s
    "test_sync_text_index_follows_table",  # 15s
    "test_neardup_upsert_resurrects_legacy_forever_tombstone",  # 15s
    "test_sync_ann_index_follows_table",  # 15s
    "test_neardup_upsert_isin_cap_falls_back_to_joins",  # 12s
    # tests/test_partial_deltas.py
    "test_partial_random_sequences_match_dict_model",  # 12s
    # tests/test_search.py
    "test_index_concurrent_reader_never_sees_torn_append",  # 20s
    "test_indexed_mlt_equals_scan_based",  # 11s
    "test_auto_mlt_routing_and_byte_identity",  # 11s
    "test_compact_text_index_preserves_results_with_grace",  # 11s
    # tests/test_streaming.py
    "test_incremental_retention_pipeline_exactly_once",  # 20s
    "test_persisted_neardup_index_build_append_probe",  # 13s
    "test_streaming_index_maintenance_matches_batch",  # 10s
    "test_incremental_retention_microbatch_latency",  # 10s
    "test_incremental_retention_matches_batch",  # 10s
    # tests/test_text_delete.py
    "test_upsert_text_docs_matches_rebuild",  # 15s
    # tests/test_upsert_pipeline.py
    "test_change_feed_random_sequences_match_dict_model",  # 13s
}


def _marker_expression_given(config) -> bool:
    """True when the run names its own ``-m`` expression (``-m ""``
    included: that one asks for the full suite)."""
    args = [*config.invocation_params.args]
    args += shlex.split(os.environ.get("PYTEST_ADDOPTS", ""))
    return any(a.startswith("-m") for a in args)


def _named_node_ids(config) -> list[str]:
    """The node ids named on the command line (``path::name[...]``),
    rewritten relative to the rootdir the way ``item.nodeid`` is."""
    named = []
    for arg in config.args:
        path, sep, rest = str(arg).partition("::")
        if sep:
            full = os.path.join(config.invocation_params.dir, path)
            rel = os.path.relpath(full, config.rootpath).replace(os.sep, "/")
            named.append(f"{rel}::{rest}")
    return named


def pytest_collection_modifyitems(config, items):
    """Mark the slow tier, and deselect it by default: only when the run
    gives no ``-m`` of its own, and never a test named by node id on the
    command line (a default ``-m "not slow"`` in pytest.ini's addopts
    silently deselected those too)."""
    for item in items:
        if item.name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    if _marker_expression_given(config):
        return
    named = _named_node_ids(config)
    keep, drop = [], []
    for item in items:
        explicit = any(
            item.nodeid == n or item.nodeid.startswith((n + "[", n + "::"))
            for n in named
        )
        if item.name in SLOW_TESTS and not explicit:
            drop.append(item)
        else:
            keep.append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", cpus=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def canon_val(v):
    if v is None:
        return None
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_val(x)) for k, x in v.items()))
    if pd.isna(v):
        return None
    return v


def canon_frame(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [
        tuple(canon_val(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def assert_matches_oracle(spark_df, duck_con, sql: str, min_rows: int = 0):
    """Canonicalized exact comparison of a Spark DataFrame vs a DuckDB query."""
    got = spark_df.toPandas()
    want = duck_con.execute(sql).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"column mismatch: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    )
    g, w = canon_frame(got), canon_frame(want)
    assert len(g) == len(w), f"row count: spark={len(g)} oracle={len(w)}"
    assert len(g) >= min_rows, f"suspiciously few rows: {len(g)} < {min_rows}"
    mism = [(i, a, b) for i, (a, b) in enumerate(zip(g, w)) if a != b]
    assert not mism, (
        f"{len(mism)} mismatched rows (of {len(g)}); first 3: {mism[:3]}\n"
        f"columns: {sorted(got.columns)}"
    )
