"""Quality-classifier training (q194): learnability floor,
determinism, and the exact-gradient contract."""

import math

import pytest
from pyspark.sql import functions as F


def _fixture_df(spark):
    from diachronic_spark.sources.classifier_fixture import DOCS

    return spark.createDataFrame(
        DOCS, "doc_id bigint, text string, label int"
    )


def test_classifier_learns_and_is_deterministic(spark):
    from diachronic_spark.operators.classifier import (
        train_quality_classifier,
    )

    docs = _fixture_df(spark)
    out = train_quality_classifier(
        docs, label=F.col("label") == 1, n_buckets=16,
        lr=4.0, iterations=5,
    ).collect()
    rows = {r.feature: r for r in out}
    assert len(rows) == 17 and "bias" in rows
    n_correct, n_docs = out[0].n_correct, out[0].n_docs
    # must clearly beat the majority rate (24/48) — the corpus is
    # built to be separable with two ambiguous docs per class
    assert n_docs == 48 and n_correct >= 44
    # training is exactly reproducible: integer-quantized gradient
    # sums + 10dp HALF_UP updates leave no float nondeterminism
    again = {
        r.feature: r.weight
        for r in train_quality_classifier(
            docs, label=F.col("label") == 1, n_buckets=16,
            lr=4.0, iterations=5,
        ).collect()
    }
    assert {f: r.weight for f, r in rows.items()} == again


def test_classifier_empty_text_docs_are_bias_only(spark):
    """Zero-token docs featurize to bias-only rows (no NaN from the
    0/0 frequency division) and training still runs."""
    from diachronic_spark.operators.classifier import (
        train_quality_classifier,
    )

    docs = spark.createDataFrame(
        [(0, "good words here", 1), (1, "", 0), (2, "   ", 0)],
        "doc_id bigint, text string, label int",
    )
    out = train_quality_classifier(
        docs, label=F.col("label") == 1, iterations=2, lr=1.0
    ).collect()
    assert all(r.weight == r.weight for r in out)  # no NaN
    assert out[0].n_docs == 3


@pytest.mark.parametrize("bad", [math.inf, -math.inf, math.nan])
def test_margin_sql_rejects_non_finite_weights(bad):
    """inf/nan weights have no SQL double literal (``infD`` does not
    parse): the margin text refuses them, naming the weight's index."""
    from diachronic_spark.operators.classifier import _margin_sql

    assert "0.5D" in _margin_sql([0.5, -1.0, 2.0])
    with pytest.raises(ValueError, match="weight 2 is"):
        _margin_sql([0.5, -1.0, bad, 3.0])
