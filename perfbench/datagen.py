"""Seeded inputs for the ``price_quotes`` workload.

``write_listings`` writes the dirty Airbnb listings of
``backend_model_spark.ml.fixtures.generate_listings`` to parquet and
returns the generator's golden counts. The warehouse workload needs no
generator: it reads the project's own test tables, copied unchanged
under ``perfbench/data/``.
"""

from __future__ import annotations

import os


def write_listings(out_dir: str, seed: int, shape: dict):
    """Write the seeded dirty listings as ``train``/``test`` parquet.

    Returns ``(train_path, test_path, golden)``."""
    from backend_model_spark.ml.fixtures import generate_listings

    os.makedirs(out_dir, exist_ok=True)
    train, test, golden = generate_listings(**shape, seed=seed)
    paths = (os.path.join(out_dir, "train.parquet"), os.path.join(out_dir, "test.parquet"))
    train.to_parquet(paths[0])
    test.to_parquet(paths[1])
    return paths[0], paths[1], golden
