"""Deterministic sampling for training-data pipelines.

RNG-based sampling (``df.sample``, ``sampleBy``) is not reproducible
across engines, partitionings, or reruns — a training-data cut must
be. Both operators here derive the sampling decision from md5 of a
stable key, so the same row set comes out on any engine and any
cluster layout, and the DuckDB oracle can replay the exact choice.

Scale shape: ``hash_sample_fraction`` is a pure filter projection
(zero shuffle, pushes past scans); ``stratified_sample_k`` is one
shuffle on the strata key + a window top-k (rank truncation happens
inside the Window operator, nothing else is carried).
"""

from __future__ import annotations

import decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType

from ..functions import md5_prefix32
from ..session import scoped_conf
from ._cache import managed_persist


def _md5_bucket(key: Column, mod: int) -> Column:
    """First 8 md5 hex chars of the stringified key -> 32-bit int, mod
    ``mod``. Same construction as text.hash_split (q43) — uniform
    enough for sampling, portable to any engine with md5.
    """
    return md5_prefix32(key) % mod


def hash_sample_fraction(
    df: DataFrame, key_col: str, fraction: float, mod: int = 10_000
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen deterministically by key
    hash. Granularity is 1/``mod``. Shuffle-free; consistent across
    reruns, engines, and partition layouts — and consistent ACROSS
    TABLES: any table sampled on the same key keeps the same entities,
    so foreign-key joins between samples still line up.
    """
    return df.filter(
        _md5_bucket(F.col(key_col), mod) < int(round(fraction * mod))
    )


def stratified_sample_k(
    df: DataFrame, strata_col: str, key_col: str, k: int
) -> DataFrame:
    """Deterministic fixed-size per-stratum sample: rank rows within
    each stratum by (md5(key), key) — a reproducible pseudo-random
    order — and keep the first ``k``. Exact sample sizes (min(k, n)
    per stratum), unlike fraction-based sampling which only hits the
    target in expectation. Adds ``sample_rank`` (1-based).
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(key_col).cast("string")), key_col
    )
    return df.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= k
    )


def weighted_sample_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    mod: int = 1_000_000,
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row gets score
    ``ln(u) / w`` with ``u = (md5_bucket(key) + 0.5) / mod`` — a
    reproducible uniform in (0,1) — and the top-``k`` scores win.
    Inclusion probability is proportional to ``w`` (requires w > 0),
    yet the draw is a pure function of the key: reruns, engines, and
    partition layouts all pick the same rows, and the usual
    ``rand()``-based sample's nondeterminism under retries/speculation
    at scale disappears.

    Scale: scoring is embarrassingly parallel; selection is a global
    top-k (TakeOrdered: per-partition heaps, no full sort/shuffle).
    Adds ``sample_score`` (the A-ES key, scaled by 1e6 so 6-dp
    rounding keeps signal; larger = more likely selected).
    """
    u = (_md5_bucket(F.col(key_col), mod) + F.lit(0.5)) / F.lit(
        float(mod)
    )
    score = F.log(u) / F.col(weight_col) * F.lit(1e6)
    return (
        df.withColumn("sample_score", score)
        .orderBy(F.desc("sample_score"), F.col(key_col))
        .limit(k)
    )


def temperature_rebalance(
    docs: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    alpha: float = 0.3,
    mod: int = 1_000_000,
) -> DataFrame:
    """Temperature-based multilingual rebalancing — the exponential-
    smoothing sampler of XLM-R (Conneau et al. 2020 §3.1; mBERT used
    the same recipe): with p_l the raw per-language share, resample to
    q_l ∝ p_l^alpha, which UPWEIGHTS low-resource languages (alpha<1
    flattens the distribution; alpha=1 is identity, alpha=0 uniform).
    The per-language rate against a same-size target corpus is
    r_l = q_l * N / n_l: rates > 1 mean replication (epochs), < 1 mean
    downsampling — this operator does both, deterministically.

    Every document yields floor(r_l) full copies plus one more iff
    u(doc) < frac(r_l), where u = (md5_bucket(id) + 0.5)/mod — the
    house reproducible uniform (same construction as q43/q78), so the
    draw is a pure function of the key: engines, reruns, and partition
    layouts all emit the same multiset.

    Determinism of the rate table: language counts are collected
    (bounded by #languages, never by data — the dsir regime), p^alpha
    terms are 10dp HALF_UP pre-rounded and summed in sorted-language
    order, q and r round the same way; the oracle replays the
    identical fold. Copies materialize via sequence+explode — a pure
    row-local expansion whose output is budget-sized (sum r_l * n_l =
    N), so the op stays scan-shaped at 100 TB.

    Returns the input columns plus (epoch, rate) — one row per emitted
    copy, epoch in 1..copies.
    """
    import math

    m10 = 10.0**10

    def _f10(x: float) -> float:
        return math.floor(x * m10 + 0.5) / m10

    counts = {
        r["l"]: r["n"]
        for r in docs.groupBy(F.col(lang_col).alias("l"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(counts.values())
    pa = {l: _f10(math.pow(c / n_total, alpha)) for l, c in counts.items()}
    spa = 0.0
    for l in sorted(pa):
        spa += pa[l]
    rate = {
        l: _f10(_f10(pa[l] / spa) * n_total / counts[l]) for l in counts
    }
    rate_expr = F.lit(None).cast("double")
    for l in sorted(rate):
        rate_expr = F.when(
            F.col(lang_col) == F.lit(l), F.lit(rate[l])
        ).otherwise(rate_expr)
    u = (_md5_bucket(F.col(id_col), mod) + F.lit(0.5)) / F.lit(float(mod))
    with_k = docs.select(
        "*",
        rate_expr.alias("rate"),
        (
            F.floor(rate_expr).cast("bigint")
            + F.when(u < rate_expr - F.floor(rate_expr), 1).otherwise(0)
        ).alias("__k"),
    )
    return (
        with_k.filter(F.col("__k") >= 1)
        .select(
            "*",
            F.explode(F.sequence(F.lit(1), F.col("__k").cast("int")))
            .alias("epoch"),
        )
        .drop("__k")
    )


def global_running_sum(
    df: DataFrame,
    val_col: str,
    order_cols: list[str],
    out_col: str = "cum",
    cache_key: str = "sampling.grs",
    n_partitions: int | None = None,
) -> DataFrame:
    """Globally-ordered running sum WITHOUT a single-partition window
    (VERDICT r5 item 2 — the classic driver-adjacent bottleneck:
    ``Window.orderBy(...)`` with no partitionBy forces an
    ``Exchange SinglePartition`` over the whole input).

    Two-phase shape, the textbook distributed prefix-sum:
      1. ``repartitionByRange`` on the order key — partition p holds
         keys strictly below partition p+1's (order keys must be
         UNIQUE per row; ties could straddle a range boundary and
         land in either partition, making pid order disagree with
         row order). Per-partition running sums come from a window
         partitioned by ``spark_partition_id()`` — fully parallel.
      2. Per-partition TOTALS (one tiny agg, ≤ n_partitions rows —
         bounded by cluster config, not data size) are collected,
         turned into running offsets driver-side, and broadcast-joined
         back: ``cum = local_cum + offset[pid]``.

    The range-partitioned frame is persisted under ``cache_key``: the
    pid assignment MUST be identical between the totals pass and the
    local-cumsum pass, and a recomputed exchange is not guaranteed to
    resample identical range boundaries.

    Bit-identical to the global-window formulation for integral
    ``val_col`` (integer addition is associative), INCLUDING null
    semantics (a row's cum is NULL only while no non-null value has
    been seen anywhere before it); for floats the reassociation can
    differ in the last ulp — callers needing exact float parity
    should scale to integers first (house rule).
    """
    spark = df.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    part = managed_persist(
        df.repartitionByRange(n, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        cache_key,
    )
    # bounded-output collect (≤ n_partitions rows) runs without AQE:
    # one job instead of one per query stage
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        totals = {
            r["__pid"]: (r["__t"], r["__n"])
            for r in part.groupBy("__pid")
            .agg(
                F.sum(val_col).alias("__t"),
                F.count(val_col).alias("__n"),
            )
            .collect()
        }
    # NULL semantics must match the global window exactly: F.sum over
    # a running frame is NULL only while NO non-null value has been
    # seen yet, then sticks to the last sum through later null rows.
    # So each partition's offset carries BOTH the running total and
    # whether ANY prior partition held a non-null value (__nnb): a
    # NULL local sum resolves to the offset when __nnb, else stays
    # NULL (review r6 — plain __local + __off turned a leading
    # all-null partition's rows NULL even with non-null predecessors).
    running, seen_nonnull = 0, False
    offsets = []
    for pid in sorted(totals):
        t, n_nonnull = totals[pid]
        offsets.append((pid, running, seen_nonnull))
        running += t or 0
        seen_nonnull = seen_nonnull or n_nonnull > 0
    # Type __off from the ENGINE's sum type, not from probing Python
    # values: a DECIMAL val_col collects as decimal.Decimal, and an
    # isinstance(int) probe would silently route its offsets through a
    # double column, losing the exactness (and the bit-identical
    # contract) decimals otherwise keep (ADVICE r6). sum() over
    # integral types is LongType, over decimal is a widened
    # DecimalType, over float is DoubleType — use it verbatim.
    sum_type = part.select(F.sum(val_col)).schema[0].dataType
    # running starts as Python int 0 and stays exact through Decimal
    # accumulation (int + Decimal -> Decimal); coerce each offset to
    # the Python type Spark's schema verifier expects for sum_type.
    conv = (
        decimal.Decimal
        if isinstance(sum_type, DecimalType)
        else (float if isinstance(sum_type, DoubleType) else int)
    )
    offsets = [(p, conv(r), s) for p, r, s in offsets]
    from ._cache import local_relation

    off_df = local_relation(
        spark,
        offsets,
        f"__pid int, __off {sum_type.simpleString()}, __nnb boolean",
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        F.when(
            F.col("__local").isNotNull(), F.col("__local") + F.col("__off")
        )
        .when(F.col("__nnb"), F.col("__off"))
        .otherwise(F.lit(None))
    )
    return (
        part.withColumn("__local", F.sum(val_col).over(w_local))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, cum)
        .drop("__pid", "__local", "__off", "__nnb")
    )


def dsir_log_weights(
    docs: DataFrame,
    target: Column,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public method):
    estimate hashed-unigram bag-of-words models over a TARGET corpus
    and the RAW pool, then score each raw document by its importance
    log-weight  sum_tokens log( p_target(bucket) / p_raw(bucket) ).
    High-weight documents "look like" the target distribution and are
    kept for training; the published method resamples with Gumbel
    noise — this deterministic twin ranks by the weight itself so two
    engines (and two cluster layouts) select the same rows.

    Shape at 100 TB:
      - tokens are exploded map-side; the ONLY shuffle is the
        bucket-count aggregation, whose result is <= ``n_buckets``
        rows (fixed by config — production uses ~10k buckets), with
        map-side partial aggregation collapsing each partition to
        <= n_buckets rows before the exchange;
      - the dense log-likelihood-ratio table is collected (bounded by
        ``n_buckets``, never by data) and folded back in as an array
        LITERAL, so per-document scoring is a pure projection — zero
        doc-keyed shuffles, no join, trivially parallel;
      - the per-document weight is an ORDERED fold over the token
        array (F.aggregate), each term pre-rounded to 10dp, so the
        float sum is bit-identical on any engine that folds in token
        order (the q51/q83 determinism pattern).

    Tokens = the engine's canonical normalization (text.normalize_text:
    lower, strip non-alphanumerics, collapse whitespace) split on
    single spaces; bucket = md5_prefix32(token) % n_buckets — the
    portable hash every deterministic operator here uses, replayable
    in the DuckDB oracle via ext_oracle._h32.

    Returns the RAW-side rows with ``n_tokens`` and ``log_weight``
    (rounded 6dp). Smoothing is add-1 over ``n_buckets``.
    """
    import math

    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9\\s]", ""),
            "\\s+",
            " ",
        )
    )
    toks = F.filter(F.split(norm, " "), lambda t: t != "")
    bucket = lambda c: F.pmod(md5_prefix32(c), F.lit(n_buckets))  # noqa: E731

    with_toks = docs.withColumn("__toks", toks).withColumn(
        "__is_target", target
    )
    # Corpus bucket counts: one tiny agg (<= n_buckets rows out).
    tok = with_toks.select(
        "__is_target", F.explode("__toks").alias("__w")
    ).select("__is_target", bucket(F.col("__w")).alias("__b"))
    counts = {
        r["__b"]: (r["t_n"], r["r_n"])
        for r in tok.groupBy("__b")
        .agg(
            F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("t_n"),
            F.sum(F.when(F.col("__is_target"), 0).otherwise(1)).alias("r_n"),
        )
        .collect()
    }
    t_tot = sum(t for t, _ in counts.values())
    r_tot = sum(r for _, r in counts.values())
    # Dense LLR array indexed by bucket (element_at is 1-based). The
    # 10dp pre-round makes every downstream fold term a shared exact
    # double on both engines; multiplicative HALF_UP (floor(x*m+.5)/m)
    # is the graph._round_half_up form that matches DuckDB's round,
    # NOT Python's banker's rounding.
    m10 = 10.0**10
    llr = [
        math.floor(
            math.log(
                ((counts.get(b, (0, 0))[0] + 1) / (t_tot + n_buckets))
                / ((counts.get(b, (0, 0))[1] + 1) / (r_tot + n_buckets))
            )
            * m10
            + 0.5
        )
        / m10
        for b in range(n_buckets)
    ]
    llr_arr = F.array(*[F.lit(v) for v in llr])
    weight = F.aggregate(
        F.transform(
            F.col("__toks"),
            lambda w: F.element_at(llr_arr, (bucket(w) + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # Final 6dp via the same floor(x*m+0.5)/m form on the ENGINE side
    # (F.round rounds through the shortest-decimal repr and disagrees
    # with DuckDB at half boundaries — graph._round_half_up's note).
    return (
        with_toks.filter(~F.col("__is_target"))
        .withColumn("n_tokens", F.size("__toks").cast("bigint"))
        .withColumn(
            "log_weight",
            F.floor(weight * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        )
        .drop("__toks", "__is_target")
    )
