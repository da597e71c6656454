"""Distributed quality-classifier training (q194) — the fasttext-
style linear filter every production corpus runs (C4's langID gate,
LLaMA's "quality" fasttext filter are public examples): hashed
bag-of-words features, a linear model, full-batch gradient descent
where each iteration is ONE aggregation over the corpus.

This is the iterative-algorithm shape (like operators/graph.pagerank)
applied to model training:

- featurization is map-side and happens ONCE (persisted): tokens →
  md5-bucket counts → a dense ``n_buckets``+bias int array per doc;
- each GD iteration is a single agg producing ``n_buckets``+1
  BIGINT gradient sums — bounded driver state (the weight vector),
  exactly the bounded-collect regime of pagerank's rank vector;
- at 100 TB: iterations scan the persisted featurized relation
  (narrow, no shuffle beyond the tree-agg), gradients are
  map-side-combined partial sums, and the model stays KB-sized.

Determinism contract (both engines replay bit-for-bit):
- margins are ORDERED folds over the weight×feature products
  (F.zip_with + F.aggregate vs list_transform + list_reduce with a
  prepended 0.0 — same association);
- probabilities use the HARD sigmoid max(0, min(1, 0.25·m + 0.5))
  (the piecewise-linear logistic stand-in used in efficient NN
  inference — public technique). The REAL sigmoid needs exp(), and
  exp differs between JVM Math.exp and libm in the last ulp, which
  the quantization below would amplify across iterations; the hard
  sigmoid is closed under exact double arithmetic;
- per-doc gradient terms are quantized to a 1e-9 integer grid
  (floor(v·1e9 + 0.5) as BIGINT) so the cross-partition sum is
  INTEGER — associative, order-free, exact (documented bound:
  |sum| must stay under 2^53 for the final double cast — holds to
  ~1e6 docs × 1e3 tokens at this grid);
- weight updates round to 10dp with the multiplicative HALF_UP form
  (graph._round_half_up's rationale: matches DuckDB, not banker's).
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_prefix32
from ..session import scoped_conf, scoped_sql


def _featurize(
    docs: DataFrame, label: Column, text_col: str, n_buckets: int
) -> DataFrame:
    """(y double, x array<int> of n_buckets counts + trailing bias 1)
    — map-side only; one md5 per token, bucket comparison per slot."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9\\s]", ""),
            "\\s+",
            " ",
        )
    )
    toks = F.filter(F.split(norm, " "), lambda t: t != "")
    bt = F.transform(
        toks, lambda w: F.pmod(md5_prefix32(w), F.lit(n_buckets))
    )
    # relative frequencies, not raw counts: raw counts at ~200-token
    # docs put margins deep into the hard sigmoid's saturated region
    # after one update (perceptron oscillation); frequencies keep the
    # model in the linear regime. One exact double division per slot.
    denom = F.greatest(F.size(bt), F.lit(1))
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda b: F.size(F.filter(bt, lambda v: v == b)).cast("double")
        / denom,
    )
    x = F.concat(counts, F.array(F.lit(1.0)))
    return docs.select(
        label.cast("double").alias("y"), x.alias("x")
    )


def _margin(w: list[float]) -> Column:
    """Ordered fold of w·x — zip_with preserves index order, so the
    double accumulation sequence matches the oracle's list_reduce
    over a 0.0-prepended term list."""
    warr = F.array(*[F.lit(v) for v in w])
    return F.aggregate(
        F.zip_with(warr, F.col("x"), lambda wi, xi: wi * xi),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _margin_sql(w: list[float]) -> str:
    """:func:`_margin` as SQL text — the same zip_with/aggregate fold
    the Column form builds, emitted as ONE parser call instead of ~40
    py4j Column constructions. ``repr``-formatted double literals with
    the ``D`` suffix round-trip bit-exactly through the SQL parser
    (shortest-roundtrip decimal → Double.parseDouble). A non-finite
    weight has no SQL literal (``infD`` does not parse) and raises
    ``ValueError`` naming its index."""
    for i, v in enumerate(w):
        if not math.isfinite(v):
            raise ValueError(
                f"weight {i} is {v!r}; margins need finite weights"
            )
    warr = ", ".join(f"{v!r}D" for v in w)
    return (
        f"aggregate(zip_with(array({warr}), x, (wi, xi) -> wi * xi), "
        "0.0D, (acc, t) -> acc + t)"
    )


def _hard_sigmoid(m: Column) -> Column:
    return F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), F.lit(0.25) * m + F.lit(0.5))
    )


def train_quality_weights(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    n_buckets: int = 16,
    lr: float = 0.01,
    iterations: int = 5,
    with_eval: bool = True,
) -> tuple[list[float], int | None, int]:
    """Core trainer: returns (weights b0..b{n-1}+bias, n_correct,
    n_docs). The weight vector is the deployable artifact — q197
    folds it into a STREAMING gate as a pure projection.

    Job economy (OPTIMIZATION r10, guide §1.2 "don't compute things
    you throw away"): the doc count rides the FIRST iteration's
    aggregate as one extra count column — ``n`` is only consumed
    AFTER that aggregate returns, so the former separate
    ``feat.count()`` job was pure dispatch overhead. Callers that
    deploy the weights without reporting training accuracy
    (q197/q204) pass ``with_eval=False`` to skip the n_correct
    scan — one fewer job, identical weights.

    Driver-side economy (OPTIMIZATION r11, measured phase breakdown):
    a steady-state training call spent MORE wall time constructing
    Column trees than executing jobs — each iteration built 17 sum
    columns that EACH embedded the full margin fold, ~300 py4j round
    trips ≈ 0.25 s/iteration of pure driver Python, plus a duplicated
    margin subtree per sum through the analyzer. Each iteration is
    now ONE ``spark.sql`` statement over the persisted featurized
    relation (a ``{feat}`` argument of ``session.scoped_sql``, so no
    view outlives the call), with ``err`` computed once in a subquery
    (the arithmetic per value is unchanged and value-identical:
    same ops, same order, same IEEE doubles — weight literals are
    ``repr``-round-tripped through the parser, which is exact).
    Executed plan shape is identical: one partial/final aggregate
    over the same InMemoryTableScan.
    """
    dim = n_buckets + 1
    # managed_persist (not persist/unpersist-per-call): the iteration
    # aggregates re-read the featurized relation 5-7 times per call,
    # and with the fixture input memoized the SAME featurization plan
    # recurs across bench runs — the managed cache serves both without
    # leaking (one live entry per site)
    from ._cache import managed_persist

    feat = managed_persist(
        _featurize(docs, label, text_col, n_buckets),
        "classifier.feat",
        StorageLevel.MEMORY_AND_DISK,
    )
    n = None
    m10, grid = 10.0**10, 1e9
    w = [0.0] * dim
    spark = docs.sparkSession
    # The iteration collects run with AQE off, as do the other driver
    # loops (k-means Lloyd passes, the running-sum partition totals):
    # each action collects a KB-sized state through one or two trivial
    # exchanges, and AQE runs every exchange as its own query stage, a
    # separate Spark job, so an iteration paid 2-4 job dispatches where
    # one suffices. There is nothing for AQE to adapt in these actions
    # at any scale: map sides still aggregate over every partition,
    # reduce sides are k-row, and no join strategy can change.
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        for it in range(iterations):
            # per-slot gradient term: floor(x[i] * err * 1e9 + 0.5)
            # as BIGINT — byte-identical to the former Column form
            # (left-assoc products, same literals); err is projected
            # ONCE per row in the subquery instead of being embedded
            # (and re-analyzed) in each of the 17 sum expressions
            terms = ", ".join(
                f"sum(cast(floor(element_at(x, {i}) * err * 1.0E9D"
                f" + 0.5D) AS BIGINT)) AS s{i}"
                for i in range(1, dim + 1)
            )
            if it == 0:
                terms += ", count(1) AS __n"
            sums = scoped_sql(
                spark,
                f"SELECT {terms} FROM (SELECT x, y - greatest(0.0D, "
                f"least(1.0D, 0.25D * {_margin_sql(w)} + 0.5D)) AS "
                "err FROM {feat})",
                feat=feat,
            ).collect()[0]
            if it == 0:
                n = int(sums["__n"])
            w = [
                math.floor(
                    (
                        w[i - 1]
                        + lr * (float(sums[f"s{i}"]) / float(n) / grid)
                    )
                    * m10
                    + 0.5
                )
                / m10
                for i in range(1, dim + 1)
            ]
        if n is None:  # iterations == 0: count alone
            n = feat.count()
        if with_eval:
            n_correct = scoped_sql(
                spark,
                f"SELECT sum(CASE WHEN ({_margin_sql(w)} >= 0) = "
                "(y = 1.0D) THEN 1 ELSE 0 END) AS c FROM {feat}",
                feat=feat,
            ).collect()[0]["c"]
        else:
            n_correct = None
    return w, (None if n_correct is None else int(n_correct)), int(n)


def score_margin(
    weights: list[float], text_col: str = "text"
) -> Column:
    """The trained model as a deployable EXPRESSION: margin = w·x
    over the same featurization, an ordered fold against the weight
    literal — stateless, codegen-fused, usable unchanged in a
    streaming micro-batch (q197's gate). n_buckets is implied by
    len(weights) - 1 (trailing bias)."""
    n_buckets = len(weights) - 1
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9\\s]", ""),
            "\\s+",
            " ",
        )
    )
    toks = F.filter(F.split(norm, " "), lambda t: t != "")
    bt = F.transform(
        toks, lambda w: F.pmod(md5_prefix32(w), F.lit(n_buckets))
    )
    denom = F.greatest(F.size(bt), F.lit(1))
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda b: F.size(F.filter(bt, lambda v: v == b)).cast("double")
        / denom,
    )
    x = F.concat(counts, F.array(F.lit(1.0)))
    warr = F.array(*[F.lit(v) for v in weights])
    return F.aggregate(
        F.zip_with(warr, x, lambda wi, xi: wi * xi),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def train_quality_classifier(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    n_buckets: int = 16,
    lr: float = 0.01,
    iterations: int = 5,
) -> DataFrame:
    """Train the hashed-feature linear quality classifier; returns
    one row per model weight: (feature, weight, n_correct, n_docs) —
    'b00'…'b{n-1}' then 'bias', with the training-set decision count
    (margin ≥ 0 ⇔ positive) repeated on every row so the relation is
    self-contained."""
    w, n_correct, n = train_quality_weights(
        docs, label, text_col, n_buckets, lr, iterations
    )
    names = [f"b{i:02d}" for i in range(n_buckets)] + ["bias"]
    from ._cache import local_relation

    return local_relation(
        docs.sparkSession,
        [(names[i], w[i], n_correct, n) for i in range(n_buckets + 1)],
        "feature string, weight double, n_correct bigint, n_docs bigint",
    )
