"""Non-vacuousness proofs for the round-6 certificate oracles.

The certificate pattern hashes contract booleans (the oracle emits
literal TRUE). That is only evidence if (a) the booleans EXERCISE a
non-empty obligation and (b) they actually FLIP when the obligation
is violated. At sf0.01 — the driver's gate — the synthetic corpus has
ZERO exact-duplicate texts and ZERO identical embeddings (measured),
so the recall certificates are vacuous there; these tests run the
REAL certified entries on planted-duplicate fixtures where the
obligation is non-empty, and flip each boolean with a poisoned input
to prove none of them is a tautology.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory) -> str:
    """documents with one exact-duplicate text pair (3 & 7) and
    embeddings with one identical-vector pair (2 & 5)."""
    sf = str(tmp_path_factory.mktemp("planted"))
    rng = np.random.RandomState(7)
    texts = [
        f"alpha beta gamma delta epsilon {i} zeta eta theta" for i in range(12)
    ]
    texts[7] = texts[3]  # exact duplicate (>= 3 tokens => shingled)
    pd.DataFrame(
        {
            "doc_id": range(12),
            "text": texts,
            "lang": ["en"] * 12,
            "source": ["web"] * 12,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(sf, "documents.parquet"))
    emb = rng.uniform(-1, 1, size=(10, 64)).astype("float32")
    emb[5] = emb[2]  # identical vectors
    pd.DataFrame(
        {
            "vec_id": range(10),
            "embedding": [list(v) for v in emb],
            "label": [i % 3 for i in range(10)],
        }
    ).to_parquet(os.path.join(sf, "embeddings.parquet"))
    return sf


def test_minhash_certificate_exercises_planted_dup(spark, planted_dir):
    from backend_model_spark.operators.mllib_ops import (
        mllib_minhash_neardup_certified,
    )

    row = mllib_minhash_neardup_certified(spark, planted_dir).collect()[0]
    assert row["n_docs"] == 12
    assert row["n_exact_dup_pairs"] == 1, "the planted pair must be counted"
    assert row["exact_dups_found"], (
        "the dedup-first expansion must emit the identical-shingle "
        "pair at distance 0"
    )
    assert row["pairs_valid"]
    assert row["dist_exact_ok"], (
        "reported Jaccard distances must match the exact set-Jaccard"
    )


def test_brp_certificate_exercises_planted_twin(spark, planted_dir):
    from backend_model_spark.operators.mllib_ops import (
        mllib_brp_ann_join_certified,
    )

    row = mllib_brp_ann_join_certified(spark, planted_dir).collect()[0]
    assert row["n_vectors"] == 10
    assert row["n_identical_pairs"] == 1
    assert row["zero_dist_found"], (
        "the dedup-first expansion must emit the identical-vector pair"
    )
    assert row["pairs_valid"]
    assert row["dist_exact_ok"], (
        "reported Euclidean distances must match the exact recomputation"
    )


def test_recall_booleans_flip_on_poisoned_pairs(spark, planted_dir):
    """The anti-join logic behind exact_dups_found is not a tautology:
    with the found-pairs set poisoned (the planted star edge removed),
    the SAME shared witness the certified faces call
    (_star_expectations — round-8 review: tests must not hand-copy
    the check formula) reports a missing edge."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.dedup import SHINGLES, tokenized_docs
    from backend_model_spark.operators.mllib_ops import _star_expectations

    shingled = (
        tokenized_docs(spark, planted_dir)
        .select("doc_id", "text", F.expr(SHINGLES).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    dig = shingled.select("doc_id", F.md5(F.col("text")).alias("h"))
    n_pairs, expected = _star_expectations(dig, "h", "doc_id", "doc_a", "doc_b")
    assert n_pairs == 1
    assert expected.count() == 1
    empty_pairs = expected.limit(0)
    n_missing = expected.join(
        empty_pairs, ["doc_a", "doc_b"], "left_anti"
    ).count()
    assert n_missing == 1, "poisoned pair set must register as missing"


@pytest.fixture(scope="module")
def megadup_dir(spark, tmp_path_factory) -> str:
    """One text duplicated 1,000× plus 5 unique docs; one embedding
    duplicated 1,000× plus 5 unique vectors — the adversarial
    mega-duplicate-group corpus from the round-7 verdict (a
    boilerplate document duplicated across a crawl)."""
    sf = str(tmp_path_factory.mktemp("megadup"))
    rng = np.random.RandomState(11)
    n_dup, n_uniq = 1000, 5
    texts = ["boiler plate legal disclaimer text common everywhere"] * n_dup + [
        f"unique document number {i} with its own words {i * 7}"
        for i in range(n_uniq)
    ]
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(sf, "documents.parquet"))
    base = rng.uniform(-1, 1, size=(n_uniq + 1, 64)).astype("float32")
    emb = np.vstack([np.repeat(base[:1], n_dup, axis=0), base[1:]])
    pd.DataFrame(
        {
            "vec_id": range(len(emb)),
            "embedding": [list(v) for v in emb],
            "label": [i % 3 for i in range(len(emb))],
        }
    ).to_parquet(os.path.join(sf, "embeddings.parquet"))
    return sf


def test_lsh_pair_emission_linear_on_megadup_group(spark, megadup_dir):
    """Round-8 star-edge contract: a 1,000-copy duplicate group must
    emit g−1 = 999 zero-distance star edges — NOT C(1000,2) = 499,500
    pairs (the round-7 re-expansion) — while the certificates stay
    green. Bounds both LSH entries' output linearly in the input."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.mllib_ops import (
        _brp_pairs,
        _minhash_pairs,
        mllib_brp_ann_join_certified,
        mllib_minhash_neardup_certified,
    )

    _, pairs = _minhash_pairs(spark, megadup_dir)
    n_zero = pairs.filter(F.col("jaccard_dist") == 0.0).count()
    n_total = pairs.count()
    assert n_zero == 999, f"expected 999 star edges, got {n_zero}"
    # rep-level candidates among 6 reps can add at most C(6,2)=15
    assert n_total <= 999 + 15, f"pair emission not linear: {n_total}"

    _, bpairs = _brp_pairs(spark, megadup_dir)
    bn_zero = bpairs.filter(F.col("euclidean_dist") == 0.0).count()
    bn_total = bpairs.count()
    assert bn_zero == 999, f"expected 999 star edges, got {bn_zero}"
    assert bn_total <= 999 + 15, f"pair emission not linear: {bn_total}"

    mrow = mllib_minhash_neardup_certified(spark, megadup_dir).collect()[0]
    assert mrow["n_exact_dup_pairs"] == 1000 * 999 // 2, (
        "the hashed count stays the corpus fact C(g,2)"
    )
    assert mrow["exact_dups_found"] and mrow["pairs_valid"] and mrow["dist_exact_ok"]

    brow = mllib_brp_ann_join_certified(spark, megadup_dir).collect()[0]
    assert brow["n_identical_pairs"] == 1000 * 999 // 2
    assert brow["zero_dist_found"] and brow["pairs_valid"] and brow["dist_exact_ok"]


def test_md5_lsh_chain_linear_on_megadup_group(spark, megadup_dir):
    """Round-8 star contract for the md5-deterministic LSH chain (the
    Zipf-stress fix): the 1,000-copy group must appear as 999 star
    edges in `lsh_candidate_pairs`, as 999 jaccard-1.0 rows in
    `ngram_jaccard_pairs` and `lsh_verified_pairs` — never C(1000,2)
    — and connected components must still report ONE cluster of
    1,000 members."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.dedup import (
        duplicate_clusters,
        lsh_candidate_pairs,
        lsh_verified_pairs,
        ngram_jaccard_pairs,
    )

    cand = lsh_candidate_pairs(spark, megadup_dir)
    assert cand.count() <= 999 + 15, "candidate emission not linear"
    assert cand.filter(F.col("doc_a") == 0).count() >= 999

    ng = ngram_jaccard_pairs(spark, megadup_dir)
    ones = ng.filter(F.col("jaccard") == 1.0)
    assert ones.count() == 999
    # star n_common carries the rep's true distinct-shingle count
    assert ones.agg(F.min("n_common")).collect()[0][0] == 5  # 7 tokens → 5 shingles
    assert ng.count() <= 999 + 15

    ver = lsh_verified_pairs(spark, megadup_dir)
    assert ver.filter(F.col("jaccard") == 1.0).count() == 999
    assert ver.count() <= 999 + 15

    clusters = duplicate_clusters(spark, megadup_dir)
    big = clusters.filter(F.col("component") == 0)
    assert big.count() == 1000
    assert big.agg(F.max("n_members")).collect()[0][0] == 1000


def test_quantile_certificate_window_flips_on_bad_estimate():
    """The rank-window predicate behind median_est_ok: a correct
    median rank passes, the minimum (rank ~0) and maximum (rank ~n)
    fail — the boolean is not a tautology."""

    def ok(lt, le, n, lo=0.45, hi=0.55):
        return lt <= hi * n and le >= lo * n

    n = 1000
    assert ok(lt=499, le=501, n=n)          # true median
    assert not ok(lt=0, le=1, n=n)          # estimate == min
    assert not ok(lt=999, le=1000, n=n)     # estimate == max
    assert ok(lt=470, le=530, n=n)          # heavy tie block straddling p50


def test_irls_gradient_certificate_flips_on_wrong_beta(spark, sf_dir):
    """grad_converged is a real convergence statement: the fitted beta
    satisfies it, beta+1 does not."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.ml_queries import _irls_feats, _irls_fit

    feats = _irls_feats(spark, sf_dir).persist()
    beta = _irls_fit(feats)

    def max_grad(b):
        b0, b1, b2 = (float(v) for v in b)
        eta = F.lit(b0) + F.lit(b1) * F.col("x1") + F.lit(b2) * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        r = F.col("y") - p
        row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            F.abs(F.sum(r)).alias("g0"),
            F.abs(F.sum(r * F.col("x1"))).alias("g1"),
            F.abs(F.sum(r * F.col("x2"))).alias("g2"),
        ).collect()[0]
        return max(row["g0"], row["g1"], row["g2"]), row["n"]

    g_fit, n = max_grad(beta)
    g_bad, _ = max_grad(beta + 1.0)
    feats.unpersist()
    assert g_fit <= 1e-6 * n, "fitted beta must satisfy the score equations"
    assert g_bad > 1e-6 * n, "a wrong beta must flip grad_converged"


@pytest.fixture(scope="module")
def nonascii_dir(spark, tmp_path_factory) -> str:
    """documents with multi-byte UTF-8 text — the fixture the codec
    oracles MUST survive (found by round-6 review: ascii(substr(...))
    walks characters/codepoints, the Spark side walks UTF-8 bytes;
    the two silently diverge on the first non-ASCII document)."""
    sf = str(tmp_path_factory.mktemp("nonascii"))
    # the oracle harness registers every table as a view — carry the
    # sf0.001 siblings along and overwrite documents below
    for f in glob.glob("/root/testdata/sf0.001/*.parquet"):
        shutil.copy(f, sf)
    texts = [
        "hello plain ascii text here",
        "héllo wörld café crème brûlée",       # Latin-1 range, 2-byte
        "中文 文本 分析 引擎 测试",                 # CJK, 3-byte
        "mixed ascii и кириллица vместе",       # Cyrillic mix
        "emoji 🚀 in 🧪 the 📦 corpus",          # 4-byte astral
    ]
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en", "fr", "zh", "ru", "en"],
            "source": ["web"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(sf, "documents.parquet"))
    return sf


def test_codec_oracles_are_byte_true_on_nonascii(spark, nonascii_dir):
    """PNG and WAV entries hash-match their DuckDB oracles on
    multi-byte UTF-8 text: both sides must consume PAYLOAD BYTES."""
    from backend_model_spark.operators.multimodal import (
        DECODE_FEATURES_ORACLE,
        MEDIA_RESIZE_ORACLE,
        PNG_ROUNDTRIP_ORACLE,
        WAV_ROUNDTRIP_ORACLE,
        decode_features,
        media_resize,
        png_roundtrip,
        wav_roundtrip,
    )
    from backend_model_spark.testing.oracle import compare

    for name, fn, sql in [
        ("media_png_roundtrip", png_roundtrip, PNG_ROUNDTRIP_ORACLE),
        ("media_wav_roundtrip", wav_roundtrip, WAV_ROUNDTRIP_ORACLE),
        ("media_decode_features", decode_features, DECODE_FEATURES_ORACLE),
        ("media_resize", media_resize, MEDIA_RESIZE_ORACLE),
    ]:
        res = compare(name, spark, fn, sql, nonascii_dir)
        assert res.ok, f"{name} diverges on non-ASCII text: {res}"


def test_kmeans_conservation_certificate_flips_on_dropped_row(
    spark, tmp_path_factory
):
    """Round-7 fix for the round-6 advice: the old ``sizes_positive``
    boolean was computed from groupBy().count() and could never flip.
    ``sizes_conserved`` compares the sum of cluster sizes against an
    INDEPENDENT count of the input — prove it is TRUE on the real
    pipeline and that a row-dropping transform flips it.

    Own fixture (40 distinct vectors): KMeans k=10 needs >= k distinct
    points, which the shared planted fixture (10 vectors, one twin
    pair) does not provide."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.mllib_ops import (
        _kmeans_pred,
        mllib_kmeans_clusters_certified,
    )
    from backend_model_spark.sources.tables import load_table

    sf = str(tmp_path_factory.mktemp("kmeans_cons"))
    rng = np.random.RandomState(3)
    emb = rng.uniform(-1, 1, size=(40, 16)).astype("float32")
    pd.DataFrame(
        {
            "vec_id": range(40),
            "embedding": [list(v) for v in emb],
            "label": [i % 3 for i in range(40)],
        }
    ).to_parquet(os.path.join(sf, "embeddings.parquet"))

    row = mllib_kmeans_clusters_certified(spark, sf).collect()[0]
    assert row["sizes_conserved"] is True
    assert row["n_vectors"] == 40

    # poisoned pipeline: a transform that silently drops a row must
    # flip the boolean (same formula, independent input count)
    pred, _ = _kmeans_pred(spark, sf)
    n_input = load_table(spark, "embeddings", sf).count()
    dropped = pred.filter(F.col("vec_id") != 0)
    sizes = dropped.groupBy("prediction").count().collect()
    assert (sum(r["count"] for r in sizes) == n_input) is False


def test_gbt_test_r2_certificate_flips_on_shuffled_labels(spark):
    """Round-7 generalization certificate: the real pipeline's
    test_r2_positive must be TRUE on the learnable document-length
    label, and training the SAME pipeline on shuffled labels (signal
    destroyed, distribution preserved) must flip it — proving the
    boolean measures held-out generalization, not a tautology.

    The poisoned twin reuses the SHIPPED gbt_feature_frame /
    gbt_pipeline builders (round-7 review: a hand-copied pipeline
    here would silently drift from the registered one)."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from backend_model_spark.operators.ml_queries import (
        gbt_feature_frame,
        gbt_pipeline,
        gbt_train_eval_certified,
    )

    sf = "/root/testdata/sf0.001"
    row = gbt_train_eval_certified(spark, sf).collect()[0]
    assert row["test_r2_positive"] is True
    assert row["train_beats_mean"] is True

    # poisoned twin: same features, labels re-assigned by a seeded
    # hash permutation — any generalization signal is destroyed
    feats = gbt_feature_frame(spark, sf)
    by_doc = W.orderBy("doc_id")
    by_hash = W.orderBy(F.md5(F.col("doc_id").cast("string")))
    lbl = feats.select(
        F.row_number().over(by_hash).alias("rn"), F.col("label").alias("shuf")
    )
    base = feats.drop("label").withColumn("rn", F.row_number().over(by_doc))
    poisoned = base.join(lbl, "rn").withColumnRenamed("shuf", "label")
    # the SHIPPED content-addressed split — sampling.BUCKET, the same
    # constant _fitted_gbt uses (round-8 advice: a hand-copied split
    # expression keeps passing if the shipped split rule changes)
    from backend_model_spark.operators.sampling import BUCKET

    bucket = F.expr(BUCKET)
    train, test = poisoned.filter(bucket < 80), poisoned.filter(bucket >= 80)
    m = gbt_pipeline().fit(train)
    ev = RegressionEvaluator(labelCol="label", predictionCol="prediction")
    r2_shuf = ev.setMetricName("r2").evaluate(m.transform(test))
    assert not (r2_shuf > 0.0), f"shuffled labels must flip test_r2_positive, got {r2_shuf}"


def test_dist_exact_certificate_flips_on_poisoned_distances(spark, planted_dir):
    """The round-7 dist_exact_ok booleans are not tautologies: shift
    every reported distance (a broken metric / swapped column) and
    the SAME shared helpers the certified faces call must reject it
    (round-7 review: the test must not hand-copy the formula)."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.mllib_ops import (
        _brp_pairs,
        _euclid_dev,
        _jaccard_dev_excess,
        _minhash_pairs,
    )

    shingled, pairs = _minhash_pairs(spark, planted_dir)
    assert _jaccard_dev_excess(pairs, shingled) <= 0.0
    # +0.75 clears the small-union collision allowance of the planted
    # fixture's ~7-shingle docs ((4 + eps)/7 ~ 0.58)
    poisoned = pairs.withColumn("jaccard_dist", F.col("jaccard_dist") + 0.75)
    exc = _jaccard_dev_excess(poisoned, shingled)
    assert exc is not None and exc > 0.0, "poisoned distances must flip dist_exact_ok"

    vecs, bpairs = _brp_pairs(spark, planted_dir)
    assert _euclid_dev(bpairs, vecs) <= 1e-9
    bpois = bpairs.withColumn("euclidean_dist", F.col("euclidean_dist") + 0.3)
    bdev = _euclid_dev(bpois, vecs)
    assert bdev is not None and bdev > 1e-9, "poisoned distances must flip dist_exact_ok"


@pytest.fixture(scope="module")
def dense_dir(spark, tmp_path_factory) -> str:
    """A fixture where the round-9 K_CAP actually BITES: 30 distinct
    embeddings in one tight Euclidean ball (every pairwise distance
    well under the 1.15 threshold, none identical) and 30 documents
    sharing most shingles (every pairwise Jaccard distance under
    0.9) — so anchors carry far more than K_CAP candidates and the
    sampled exact-recall obligation is non-empty (unlike sf0.01,
    where no anchor exceeds the cap)."""
    import numpy as np
    import pandas as pd

    sf = str(tmp_path_factory.mktemp("dense"))
    rng = np.random.RandomState(11)
    base = rng.uniform(-1, 1, size=64)
    emb = (base + rng.uniform(-0.02, 0.02, size=(30, 64))).astype("float32")
    pd.DataFrame(
        {
            "vec_id": range(30),
            "embedding": [list(v) for v in emb],
            "label": [i % 3 for i in range(30)],
        }
    ).to_parquet(os.path.join(sf, "embeddings.parquet"))
    texts = [
        f"alpha beta gamma delta epsilon zeta eta theta iota kappa word{i}"
        for i in range(30)
    ]
    pd.DataFrame(
        {
            "doc_id": range(30),
            "text": texts,
            "lang": ["en"] * 30,
            "source": ["web"] * 30,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(sf, "documents.parquet"))
    return sf


def test_kcap_bounds_output_and_certificates_hold(spark, dense_dir):
    """On the dense fixture the uncapped candidate list is ~C(30,2);
    the emitted contract must keep at most K_CAP per anchor, the
    certified faces must stay green (cap-exactness + sampled recall
    exercised with non-empty obligations), and the recall flip must
    fire on an emptied pair list."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.mllib_ops import (
        K_CAP,
        _brp_parts,
        _brp_sample_recall,
        _minhash_parts,
        mllib_brp_ann_join_certified,
        mllib_minhash_neardup_certified,
    )

    vecs, reps, cand, kept, star = _brp_parts(spark, dense_dir)
    n_cand, n_kept = cand.count(), kept.count()
    assert n_cand > n_kept, "fixture must make the cap bite"
    per_anchor = kept.groupBy("vec_a").count().agg(F.max("count")).collect()[0][0]
    assert per_anchor <= K_CAP
    # exact answer is non-empty here, so sample_recall_ok is exercised
    recall = _brp_sample_recall(reps, kept)
    assert recall is not None and recall >= 0.5
    assert _brp_sample_recall(reps, kept.limit(0)) == 0.0, (
        "an emptied pair list must flip sample_recall_ok"
    )

    brow = mllib_brp_ann_join_certified(spark, dense_dir).collect()[0]
    assert brow["kcap_topk_ok"] and brow["sample_recall_ok"]
    assert brow["pairs_valid"] and brow["dist_exact_ok"]

    from backend_model_spark.operators.mllib_ops import _minhash_sample_recall

    _, mreps, mcand, mkept, _ = _minhash_parts(spark, dense_dir)
    assert mcand.count() > mkept.count(), "minhash cap must bite too"
    mrecall = _minhash_sample_recall(mreps, mkept)
    assert mrecall is not None and mrecall >= 0.5
    assert _minhash_sample_recall(mreps, mkept.limit(0)) == 0.0, (
        "an emptied pair list must flip the minhash sample_recall_ok"
    )
    mrow = mllib_minhash_neardup_certified(spark, dense_dir).collect()[0]
    assert mrow["kcap_topk_ok"] and mrow["pairs_valid"] and mrow["dist_exact_ok"]
    assert mrow["sample_recall_ok"]


def test_kcap_witness_flips_on_poisoned_prefix(spark, dense_dir):
    """_kcap_topk_ok is not a tautology: (a) dropping a kept row
    breaks the per-anchor count obligation; (b) swapping a kept row
    for a dropped (worse-ranked) one breaks the prefix obligation
    even though counts and subset-ness still hold."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.mllib_ops import (
        _brp_parts,
        _kcap_topk_ok,
    )

    _, _, cand, kept, _ = _brp_parts(spark, dense_dir)
    cand = cand.persist()
    kept = kept.persist()
    assert _kcap_topk_ok(cand, kept, "vec_a", "euclidean_dist", "vec_b")

    missing_one = kept.exceptAll(kept.limit(1))
    assert not _kcap_topk_ok(
        cand, missing_one, "vec_a", "euclidean_dist", "vec_b"
    ), "a dropped kept row must flip the count obligation"

    dropped = cand.join(kept, ["vec_a", "vec_b"], "left_anti")
    anchor = dropped.select("vec_a").limit(1).collect()[0][0]
    worst_kept = (
        kept.filter(F.col("vec_a") == anchor)
        .orderBy(F.col("euclidean_dist").desc(), F.col("vec_b").desc())
        .limit(1)
    )
    swap_in = (
        dropped.filter(F.col("vec_a") == anchor)
        .orderBy(F.col("euclidean_dist").desc(), F.col("vec_b").desc())
        .limit(1)
    )
    swapped = kept.exceptAll(worst_kept).unionByName(swap_in)
    assert not _kcap_topk_ok(
        cand, swapped, "vec_a", "euclidean_dist", "vec_b"
    ), "a non-prefix member must flip the lexicographic obligation"
    cand.unpersist()
    kept.unpersist()


def test_airbnb_train_eval_flips_on_shuffled_price(spark):
    """Round-9 ``pipeline_airbnb_train_eval``: held-out R² > 0 must be
    TRUE on the (now feature-dependent) fixture price, and training
    the SAME pipeline on hash-permuted prices (signal destroyed,
    distribution preserved) must flip it. Runs on a 5,000-row fixture
    twin from the SAME generator; split via the SHIPPED
    ``content_bucket`` expression (no hand-copied split)."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from backend_model_spark.ml.cleaning import (
        FINAL_COLS,
        clean_listings,
        content_bucket,
    )
    from backend_model_spark.ml.fixtures import generate_listings
    from backend_model_spark.ml.pipeline import train_and_evaluate

    train_pdf, test_pdf, _ = generate_listings(n_rows=5000)
    cleaned = clean_listings(
        spark.createDataFrame(train_pdf), spark.createDataFrame(test_pdf)
    ).persist()
    b = content_bucket()
    train, test = cleaned.filter(b < 80), cleaned.filter(b >= 80)
    res = train_and_evaluate(train, test, model="gbt", maxDepth=4, maxIter=10)
    assert res.r2 > 0.0, f"learnable price must give held-out R²>0, got {res.r2}"

    # poisoned twin: prices re-assigned by a seeded hash permutation
    # (keyed on the 15 FEATURE columns — price is being re-assigned)
    feat_cols = [c for c in FINAL_COLS if c != "price"]
    content = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in feat_cols]))
    by_content = W.orderBy(content, *feat_cols)
    by_hash = W.orderBy(F.md5(content), *feat_cols)
    lbl = cleaned.select(
        F.row_number().over(by_hash).alias("rn"), F.col("price").alias("shuf")
    )
    poisoned = (
        cleaned.drop("price")
        .withColumn("rn", F.row_number().over(by_content))
        .join(lbl, "rn")
        .withColumnRenamed("shuf", "price")
    )
    ptrain, ptest = poisoned.filter(b < 80), poisoned.filter(b >= 80)
    pres = train_and_evaluate(ptrain, ptest, model="gbt", maxDepth=4, maxIter=10)
    cleaned.unpersist()
    assert not (pres.r2 > 0.0), (
        f"shuffled prices must flip test_r2_positive, got {pres.r2}"
    )
