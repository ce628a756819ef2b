"""Every registered query with an oracle must match DuckDB at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01); keeping the
default at sf0.001 makes the suite fast while iterating. Set
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the full-size check.
"""

from __future__ import annotations

import pytest

from backend_model_spark.plans import registry
from backend_model_spark.testing.oracle import compare

registry._ensure_loaded()
_QUERIES = registry.queries()
_ORACLES = registry.oracle_sql()
_ORACLE_NAMES = sorted(_ORACLES)
_ROWS_ONLY_NAMES = sorted(set(_QUERIES) - set(_ORACLES))


# entries whose operators share a frame or a fitted model between the
# branches of one call: the call must leave no DataFrame.persist entry
# behind in the CacheManager (shared frames are pinned with
# scale_utils._pin, which Spark's ContextCleaner frees)
_SHARED_STAGE_ENTRIES = {
    "dedup_minhash_lsh_candidates",
    "dedup_ngram_jaccard",
    "dedup_containment_pairs",
    "dedup_lsh_verified",
    "dedup_lsh_recall",
    "dedup_graph_pagerank",
    "dedup_graph_triangles",
    "dedup_duplicate_clusters",
    "dedup_keep_list",
    "dedup_golden_record",
    "dedup_embedding_neardup",
    "dedup_embedding_clusters",
    "dedup_semantic_semdedup",
    "mllib_brp_ann_join",
    "ml_gbt_train_eval",
    "ml_gbt_feature_importance",
    "ml_mlp_train_distributed",
    "ml_mlp_train_serve_e2e",
    "ml_mlp_train_adam",
    "ml_mlp_train_minibatch",
    "ml_tuning_grid_champion",
    "ml_tuning_tpe_champion",
    "ml_tuning_arch_compare",
    "ml_tuning_subsample_champion",
    "pipeline_airbnb_e2e",
    "pipeline_airbnb_train_eval",
}


@pytest.mark.parametrize("name", _ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    shared = name in _SHARED_STAGE_ENTRIES
    if shared:
        spark.catalog.clearCache()
    result = compare(name, spark, _QUERIES[name], _ORACLES[name], sf_dir)
    assert result.ok, str(result)
    if shared:
        cache_manager = spark._jsparkSession.sharedState().cacheManager()
        assert cache_manager.isEmpty(), f"{name} left a persisted frame cached"


def test_shared_stage_entries_are_registered():
    assert _SHARED_STAGE_ENTRIES <= set(_ORACLE_NAMES)


def test_no_rows_only_entries_remain():
    """Round 6 eliminated the rows-only tail (every registered entry
    carries a full DuckDB oracle); this pins that invariant so a new
    oracle-less registration fails loudly. Replaces the old
    per-rows-only-entry smoke test, which skipped with an empty
    parameter set once the tail hit zero — the suite's one mystery
    skip (round-7 verdict item)."""
    assert _ROWS_ONLY_NAMES == [], (
        f"entries registered without an oracle: {_ROWS_ONLY_NAMES} — "
        "add an oracle_sql (or a certificate oracle) for each"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
