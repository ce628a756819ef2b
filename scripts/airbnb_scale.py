"""Round-11 verdict ask #7: scale evidence for the reference's OWN
dataflow, not just the extension surface — the Airbnb funnel
(pipeline_airbnb_e2e's compute shape) and the train/eval chain
(pipeline_airbnb_train_eval's) timed at 1x and 10x the reference's
99,569-row fixture. The registered entries pin the reference's exact
row funnel, so the 10x run reuses the SAME operator chain on a 10x
generator shape (every count in AIRBNB_E2E_SHAPE scaled) without the
golden assertions.

Usage:
    python scripts/airbnb_scale.py [mult ...]     # default: 1 10
Prints one JSON line {mult: {"funnel_s": ..., "train_eval_s": ...,
"n_raw": ..., "n_cleaned": ...}, ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def run_at(spark, mult: int) -> dict:
    from backend_model_spark.ml import cleaning as C
    from backend_model_spark.ml.fixtures import generate_listings
    from backend_model_spark.ml.pipeline import train_and_evaluate

    shape = {k: v * mult for k, v in C.AIRBNB_E2E_SHAPE.items()}
    train_pdf, test_pdf, _ = generate_listings(**shape)
    d = tempfile.mkdtemp(prefix=f"airbnb_scale_{mult}x_")
    try:
        tp, sp = os.path.join(d, "train.parquet"), os.path.join(d, "test.parquet")
        train_pdf.to_parquet(tp)
        test_pdf.to_parquet(sp)
        del train_pdf, test_pdf
        train, test = spark.read.parquet(tp), spark.read.parquet(sp)

        # ---- the airbnb_e2e compute shape (union -> counts -> clean
        # funnel -> one exact-integer rollup), minus the goldens
        spark.catalog.clearCache()
        t0 = time.time()
        unioned = C.union_train_test(train, test)
        n_union = unioned.count()
        unioned.na.drop("any").count()
        cleaned = C.clean_listings(train, test)
        cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("bigint")
        row = cleaned.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents).alias("sum_price_cents"),
            F.countDistinct("city").alias("n_cities"),
        ).collect()[0]
        funnel_s = time.time() - t0

        # ---- the airbnb_train_eval compute shape (content-addressed
        # split -> GBT fit -> metrics on both splits)
        t0 = time.time()
        bucket = C.content_bucket()
        cleaned2 = C.clean_listings(train, test)
        tr = cleaned2.filter(bucket < 80)
        te = cleaned2.filter(bucket >= 80)
        res = train_and_evaluate(tr, te, model="gbt", maxDepth=4, maxIter=10)
        n_tr, n_te = tr.count(), te.count()
        train_eval_s = time.time() - t0
        return {
            "funnel_s": round(funnel_s, 2),
            "train_eval_s": round(train_eval_s, 2),
            "n_raw": int(n_union),
            "n_cleaned": int(row["n_rows"]),
            "n_train": int(n_tr),
            "n_test": int(n_te),
            "r2_test": round(float(res.r2), 4),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    from backend_model_spark.session import get_spark

    mults = [int(m) for m in sys.argv[1:]] or [1, 10]
    spark = get_spark("airbnb-scale")
    out = {}
    for m in mults:
        out[str(m)] = run_at(spark, m)
        print(f"# {m}x: {out[str(m)]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
