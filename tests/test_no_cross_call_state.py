"""Operators keep no state between calls: every call computes from its
inputs, so overwriting a table in place changes the next answer. (That
a call leaves nothing in the CacheManager is checked beside each
entry's oracle compare in test_oracle_parity.py.)
"""

from __future__ import annotations

import os

import pandas as pd


def _answers(spark, sf_dir):
    from backend_model_spark.operators.dedup import lsh_candidate_pairs
    from backend_model_spark.operators.ml_queries import gbt_train_eval

    pairs = sorted(tuple(r) for r in lsh_candidate_pairs(spark, sf_dir).collect())
    metrics = tuple(gbt_train_eval(spark, sf_dir).collect()[0])
    return pairs, metrics


def test_overwritten_input_is_recomputed(spark, sf_dir, tmp_path):
    """Same session, same path, new file contents: the second answers
    must equal a fresh computation on the new data."""
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    old, new = docs.iloc[: len(docs) // 2], docs
    path = tmp_path / "rewritten"
    path.mkdir()
    old.to_parquet(path / "documents.parquet", index=False)
    first = _answers(spark, str(path))

    new.to_parquet(path / "documents.parquet", index=False)
    second = _answers(spark, str(path))

    fresh_dir = tmp_path / "fresh"
    fresh_dir.mkdir()
    new.to_parquet(fresh_dir / "documents.parquet", index=False)
    fresh = _answers(spark, str(fresh_dir))

    # the two corpora must give different answers, or the check is void
    assert first[0] != fresh[0]
    assert first[1] != fresh[1]
    assert second == fresh

