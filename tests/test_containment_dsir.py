"""Unit tests for asymmetric n-gram containment (operators/dedup.py)
and DSIR-style contrastive importance weights (operators/lm.py)."""

from __future__ import annotations

import pandas as pd


def test_ngram_containment_superset_pair(spark):
    from edgar_spark.operators.dedup import ngram_containment

    a = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1], "text": ["the quick brown fox jumps"]}
        )
    )
    b = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "text": [
                    "intro words here the quick brown fox jumps and more tail"
                ],
            }
        )
    )
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [1]}))
    (row,) = ngram_containment(a, b, n=3, pairs=pairs).collect()
    # every shingle of A appears in B -> full containment one way only
    assert row["containment_a"] == 1.0
    assert row["containment_b"] < 1.0
    assert row["inter"] == row["n_a"]


def test_ngram_containment_disjoint_and_consecutive_default(spark):
    from edgar_spark.operators.dedup import ngram_containment

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["aa bb cc dd", "xx yy zz ww"],
            }
        )
    )
    # default pairing: id_a + 1 == id_b
    (row,) = ngram_containment(docs, docs, n=3).collect()
    assert (row["id_a"], row["id_b"]) == (1, 2)
    assert row["inter"] == 0
    assert row["containment_a"] == 0.0


def test_contrastive_weights_separates_target_like_docs(spark):
    from edgar_spark.operators.lm import contrastive_weights
    from pyspark.sql import functions as F

    texts = (
        ["the cat sat on the mat and the dog ran over the hill today"] * 4
        + ["zzz qqq xxx vvv kkk zzz qqq xxx vvv kkk zzz qqq"] * 2
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(6), "text": texts})
    )
    target = docs.filter(F.col("doc_id") < 4)
    rows = {
        r["doc_id"]: r
        for r in contrastive_weights(docs, target, "doc_id", "text").collect()
    }
    for i in range(4):  # target-like docs score positive
        assert rows[i]["delta_surprisal"] > 0
        assert rows[i]["keep"] is True
    for i in (4, 5):  # out-of-distribution docs score negative
        assert rows[i]["delta_surprisal"] < 0
        assert rows[i]["keep"] is False
    # exact-integer contract: same doc text -> identical scores
    assert rows[0]["delta_surprisal"] == rows[3]["delta_surprisal"]


def test_perceptron_quality_separates_and_round1_update(spark):
    import pandas as pd
    from edgar_spark.operators.lm import perceptron_quality

    # Disjoint vocabularies: linearly separable, so 3 batch rounds
    # must reach train accuracy 1.0 (docs 7's empty text is the
    # no-feature case: margin 0, pred -1 by convention).
    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6, 7],
            "label": [1, 1, 1, -1, -1, -1, -1],
            "text": [
                "good clean prose here",
                "clean good writing",
                "prose writing good",
                "spam junk click",
                "click junk spam",
                "junk click buy spam",
                "",
            ],
        }
    )
    out = {
        r["doc_id"]: r
        for r in perceptron_quality(spark.createDataFrame(rows)).collect()
    }
    assert len(out) == 7
    assert out[7]["margin"] == 0 and out[7]["pred"] == -1
    for i in (1, 2, 3):
        assert out[i]["pred"] == 1, out[i]
    for i in (4, 5, 6):
        assert out[i]["pred"] == -1, out[i]


def test_perceptron_quality_single_round_is_label_sum(spark):
    import pandas as pd
    from edgar_spark.operators.lm import hashed_features, perceptron_quality

    # Round 1 from all-zero weights marks EVERY doc misclassified
    # (label*0 <= 0), so w1[j] = sum of labels over docs carrying j —
    # verify the batch-update semantics directly for rounds=1.
    rows = pd.DataFrame(
        {"doc_id": [1, 2], "label": [1, -1], "text": ["alpha", "alpha beta"]}
    )
    df = spark.createDataFrame(rows)
    feat = {
        (r["doc_id"], r["bucket"])
        for r in hashed_features(df, label_col="label").collect()
    }
    b_alpha = next(b for d, b in feat if d == 1)
    b_beta = next(b for d, b in feat if d == 2 and b != b_alpha)
    # w1: alpha bucket = 1 + (-1) = 0, beta bucket = -1
    out = {
        r["doc_id"]: r
        for r in perceptron_quality(df, rounds=1).collect()
    }
    assert out[1]["margin"] == 0 and out[1]["pred"] == -1
    assert out[2]["margin"] == -1 and out[2]["pred"] == -1
    assert b_alpha != b_beta


def test_perceptron_quality_releases_feature_cache(spark):
    """The feature table is cached for the training rounds only: after a
    call and a collect of its result, the persisted-RDD count is back where
    it started, and the lazy result still scores every row."""
    import pandas as pd
    from edgar_spark.operators.lm import perceptron_quality

    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "label": [1, 1, -1, -1],
            "text": ["good prose", "clean prose", "spam junk", "junk click"],
        }
    )
    df = spark.createDataFrame(rows)
    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = {r["doc_id"]: r["pred"] for r in perceptron_quality(df).collect()}
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached
    assert out == {1: 1, 2: 1, 3: -1, 4: -1}
