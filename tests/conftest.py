from __future__ import annotations

import ast
import functools
import os
import pathlib

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from binancedatapipeline_spark.session import get_session

    s = get_session(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory) -> str:
    from binancedatapipeline_spark import fixtures

    out = str(tmp_path_factory.mktemp("bn_fixtures"))
    fixtures.write_all(out)
    return out


@pytest.fixture(scope="session")
def oracle(fixture_dir):
    """DuckDB connection with every bn_* fixture registered as a view."""
    con = duckdb.connect()
    for name in (
        "bn_spot_symbols",
        "bn_perp_symbols",
        "bn_spot_klines",
        "bn_perp_klines",
        "bn_funding_rates",
        "bn_margin_interest_rates",
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{fixture_dir}/{name}.parquet'"
        )
    yield con
    con.close()

# ---------------------------------------------------------------- slow marker
#
# The training-data suite's heaviest tests (each >= ~7.5 s on a
# 4-core duration sweep) carry the `slow` marker and are deselected by
# default (pyproject addopts: -m "not slow"), so plain `pytest tests/`
# stays the quick market-engine gate. Run everything with
#   python -m pytest tests/ -q -o addopts=""
# The market engine's own tests are never on this list.
_SLOW_TESTS = {
    "tests/test_cli.py::test_fit_quality_verb_persists_loadable_classifier",
    "tests/test_components.py::test_near_dedup_score_col_keeps_best_scored_member",
    "tests/test_corpus_io.py::test_psl_wildcard_and_exception_rules",
    "tests/test_dsir.py::test_dsir_select_deterministic_and_seed_sensitive",
    "tests/test_incremental_dedup.py::test_incremental_near_dedup_first_writer_wins",
    "tests/test_incremental_semantic_dedup.py::test_batch_dedups_against_history_and_within",
    "tests/test_incremental_semantic_dedup.py::test_double_batch_vs_float_store_anchor_still_holds",
    "tests/test_incremental_semantic_dedup.py::test_replay_is_idempotent_via_stored_anchor",
    "tests/test_pagerank.py::test_personalized_matches_reference_and_concentrates_on_seeds",
    "tests/test_pagerank.py::test_release_frees_result_blocks_across_many_graphs",
    "tests/test_pagerank.py::test_tolerance_early_stop_converges",
    "tests/test_pagerank.py::test_warm_start_composes_with_personalized_mode",
    "tests/test_pagerank.py::test_warm_start_duplicate_node_rows_collapse",
    "tests/test_pagerank.py::test_warm_start_handles_graph_deltas_and_garbage",
    "tests/test_pagerank.py::test_warm_start_same_fixpoint_fewer_rounds",
    "tests/test_pagerank.py::test_warm_start_warehouse_recrawl_roundtrip",
    "tests/test_pipeline_composition_r8.py::test_warc_to_training_shards",
    "tests/test_pq.py::test_ivfpq_encoded_requires_matching_artifacts",
    "tests/test_pq.py::test_ivfpq_recall_with_generous_probe",
    "tests/test_pq.py::test_pq_adc_recall_vs_bruteforce",
    "tests/test_properties_round4b.py::test_exact_selection_matches_global_sort",
    "tests/test_properties_sketch.py::test_bloom_keeps_subset_of_exact_any_corpus",
    "tests/test_properties_sketch.py::test_cms_never_undercounts_any_stream",
    "tests/test_properties_sketch.py::test_hist_merge_equals_union_any_split",
    "tests/test_properties_sketch.py::test_hist_quantile_error_bounded_any_values",
    "tests/test_properties_spans.py::test_duplicate_spans_matches_bruteforce",
    "tests/test_recipe.py::test_blocklist_rides_curate_kwargs_through_the_recipe",
    "tests/test_recipe.py::test_full_recipe_funnel",
    "tests/test_recipe.py::test_recipe_is_reproducible",
    "tests/test_recipe.py::test_recipe_with_budget_and_mixture",
    "tests/test_recipe.py::test_recipe_with_quality_span_and_dsir_stages",
    "tests/test_round5_fixes.py::test_collapsed_clusters_equal_uncollapsed",
    "tests/test_round5_fixes.py::test_incremental_collapse_equivalence",
    "tests/test_round5_fixes.py::test_replayed_twin_does_not_displace_stored_canonical",
    "tests/test_semantic_dedup.py::test_clusters_collapse_planted_groups",
    "tests/test_semantic_dedup.py::test_semantic_collapse_equivalence_and_twin_guard",
    "tests/test_semantic_dedup.py::test_survivors_are_cluster_minima",
    "tests/test_stream_curate.py::test_stream_curate_upsert_end_to_end",
    "tests/test_stream_curate.py::test_stream_lang_profiles_materialize_once",
    "tests/test_stream_dsir.py::test_streamed_fit_equals_batch_fit_and_survives_compaction",
    "tests/test_stream_incremental_dedup.py::test_cross_batch_history_dedup",
    "tests/test_stream_incremental_dedup.py::test_reingested_id_replaces_index_rows",
    "tests/test_stream_semantic_dedup.py::test_cross_batch_semantic_dedup",
    "tests/test_stream_span_dedup.py::test_cross_batch_span_dedup_and_replay",
    "tests/test_stream_token_sketch.py::test_batch_replay_replaces_not_doubles",
    "tests/test_stream_token_sketch.py::test_compact_corpus_hist_preserves_counts",
    "tests/test_stream_token_sketch.py::test_compaction_preserves_counts_and_allows_more_batches",
    "tests/test_stream_token_sketch.py::test_folded_stream_sketch_equals_batch_build",
    "tests/test_stream_token_sketch.py::test_new_checkpoint_rebuilds_instead_of_mixing",
    "tests/test_stream_token_sketch.py::test_stream_hist_fold_equals_batch_build_and_quantiles",
    "tests/test_stream_token_sketch.py::test_stream_hist_replay_and_rebuild",
    "tests/test_stream_token_sketch.py::test_stream_hll_counts_and_full_replay_idempotence",
    "tests/test_streaming_pipeline.py::test_stream_near_dedup_suppresses_lsh_duplicates",
    "tests/test_streaming_pipeline.py::test_stream_sessionize_matches_batch",
    "tests/test_textops_cleaning.py::test_redaction_is_idempotent_and_complete",
    "tests/test_textops_pipeline.py::test_contamination_matches_bruteforce",
    "tests/test_warc_html.py::test_extract_links_and_host_graph_pagerank",
}


# --------------------------------------------------------------- suite marker
#
# Tests that need the retired training-data suite (``trainingdata_spark``
# or ``retired_queries``) carry the `suite` marker, so
#   python -m pytest tests/ -m 'not suite'
# is the quick market-engine loop. A file importing the suite at module
# level is suite as a whole (it cannot even be collected without it); in
# a file importing it inside test functions, only those tests are.
_SUITE_MODULES = ("trainingdata_spark", "retired_queries")


def _imports_suite(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        names = [a.name for a in node.names]
    elif isinstance(node, ast.ImportFrom):
        names = [node.module or ""]
    else:
        return False
    return any(m in name for name in names for m in _SUITE_MODULES)


@functools.lru_cache(maxsize=None)
def _suite_scope(path: str) -> bool | frozenset[str]:
    """True when the file imports the suite at module level, else the
    names of the functions that import it."""
    tree = ast.parse(pathlib.Path(path).read_text())
    if any(_imports_suite(n) for n in tree.body):
        return True
    return frozenset(
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and any(_imports_suite(n) for n in ast.walk(fn))
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "suite: needs the retired training-data suite; deselect with -m 'not suite' "
        "for the quick market-engine loop",
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
        scope = _suite_scope(str(item.path))
        if scope is True or getattr(item, "originalname", item.name) in scope:
            item.add_marker(pytest.mark.suite)
