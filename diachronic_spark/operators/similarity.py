"""Similarity search over array<float> embeddings (SURVEY §2.11 L3).

- ``brute_force_topk``: exact cosine top-k — broadcast the query
  vector(s), expression-only dot product, TakeOrderedAndProject. The
  correctness baseline at any scale (linear scan).
- ``ivf_topk``: IVF-style approximate search — assign vectors to coarse
  cells (here: the fixture's ``label`` column; in production a k-means
  assignment column computed offline), probe only the cell(s) whose
  centroid is nearest the query. Turns a full scan into a partition-
  pruned scan: with cell as a partition column, Catalyst prunes
  untouched cells entirely — the 100 TB path.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cosine_similarity
from ..session import scoped_conf
from ._cache import managed_persist


def brute_force_topk(
    emb: DataFrame, query_vec_id: int, k: int = 5, round_to: int = 4
) -> DataFrame:
    qv = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                cosine_similarity("embedding", "q_embedding"), round_to
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def centroids_by_cell(emb: DataFrame, cell: str = "label", dim: int = 64) -> DataFrame:
    """Per-cell mean vector, computed element-wise: posexplode → avg →
    re-assemble ordered. Two narrow shuffles on tiny keys (cell, pos)."""
    exploded = emb.select(
        F.col(cell).alias("cell"), F.posexplode("embedding").alias("pos", "v")
    )
    means = exploded.groupBy("cell", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("cv")
    )
    return (
        means.groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "cv"))
            ).alias("pcs")
        )
        .select(
            "cell", F.transform("pcs", lambda s: s["cv"]).alias("centroid")
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 5,
    cell: str = "label",
    n_probe: int = 1,
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: search only the n_probe cells nearest the query."""
    cents = centroids_by_cell(emb, cell)
    qv = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_embedding")
    )
    probe_cells = (
        cents.crossJoin(F.broadcast(qv))
        .select(
            "cell",
            cosine_similarity("centroid", "q_embedding").alias("c_sim"),
        )
        .orderBy(F.desc("c_sim"), F.asc("cell"))
        .limit(n_probe)
        .select("cell")
    )
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .join(
            F.broadcast(probe_cells), F.col(cell) == F.col("cell"), "left_semi"
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                cosine_similarity("embedding", "q_embedding"), round_to
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _assigned(v: DataFrame, cents: DataFrame) -> DataFrame:
    """One assignment pass: (vec_id, cell, v) with cell = argmax-cosine
    centroid, ties -> lowest cell.

    The k centroids collapse to ONE (cell-sorted) array row that
    broadcast-crossJoins onto the vectors; per row, argmax is
    array_max over (sim, -cell) structs. Assignment is therefore a
    pure map over the vectors — no fan-out to k rows and no vec_id
    exchange hauling the vector arrays back together (the previous
    crossJoin+max_by shape shuffled every vector once per Lloyd pass;
    at corpus scale that exchange dwarfs the arithmetic). Struct
    ordering (sim desc via max, then -cell) keeps the exact tie-break,
    and the cosine fold is the same sequential HOF — bit-identical
    results, pinned by the eager/lazy/python-replay tests.
    """
    cs = cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cell"), F.col("c")))
        ).alias("cs")
    )
    sims = F.transform(
        "cs",
        lambda e: F.struct(
            cosine_similarity(F.col("v"), e["c"]).alias("sim"),
            (-e["cell"]).alias("nc"),
        ),
    )
    return (
        v.crossJoin(F.broadcast(cs))
        .select(
            "vec_id",
            (-F.array_max(sims)["nc"]).cast("int").alias("cell"),
            "v",
        )
    )


def _mean_cents(assigned: DataFrame, dim: int, round_to: int) -> DataFrame:
    """Element-wise per-cell means: posexplode → avg over (cell, pos)
    → re-assemble ordered (the centroids_by_cell shape).

    Why not ``dim`` parallel avg(v[i]) aggregates in one hash agg?
    Same execution shape, but each Lloyd iteration would contribute a
    64-wide aggregate expression tree and Catalyst ANALYSIS of the
    chained-iteration plan dominated wall time (measured 2.6s → 1.0s
    at sf0.1 for the full 3-iteration fit with this constant-size
    tree). Still the 100 TB shape: avg partials are constant-state and
    map-side-combined, the exchanges carry only k x dim keys, and
    per-iteration 6dp rounding absorbs partial-merge-order float drift
    exactly as it does between Spark, DuckDB, and the Python replay.

    ``dim`` is unused (posexplode derives positions) but kept so the
    eager/lazy drivers share one signature.
    """
    ex = assigned.select("cell", F.posexplode("v").alias("pos", "x"))
    means = ex.groupBy("cell", "pos").agg(
        F.round(F.avg("x"), round_to).alias("m")
    )
    return (
        means.groupBy("cell")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
        )
        .select("cell", F.transform("pm", lambda s: s["m"]).alias("c"))
    )


def _init_cents(v: DataFrame, k: int, round_to: int) -> DataFrame:
    """Deterministic init: the k lowest-id vectors, cell = id rank."""
    return (
        v.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cell"),
            F.transform("v", lambda x: F.round(x, round_to)).alias("c"),
        )
    )


def _assigned_np(v: DataFrame, cent_rows: list) -> DataFrame:
    """Vectorized dual of ``_assigned`` against MATERIALIZED centroid
    rows [(cell, vector), ...]: an Arrow-batched pandas UDF doing the
    same arithmetic in numpy — BIT-IDENTICAL to the HOF fold, because
    ``np.cumsum`` accumulates strictly left-to-right exactly like
    ``F.aggregate``'s sequential fold (pinned empirically: 0 bit
    mismatches over 80k real-corpus cosine pairs, and the eager/lazy
    kmeans equivalence test). Same tie-break (ties → lowest cell via
    first-argmax over ascending-cell rows).

    Why it exists: HOF lambdas are CodegenFallback (interpreted), so
    the O(n·k·dim) assignment map dominates large-k fits — the k∝n
    SemDeDup policy's cost center at corpus scale. The numpy form is
    the same shuffle-free broadcast map (centroids ride the closure,
    k×dim doubles), ~an order of magnitude faster per element.
    """
    rows = sorted(
        ((int(r["cell"]), list(r["c"])) for r in cent_rows)
    )
    cells = np.array([c for c, _ in rows], dtype=np.int32)
    C = np.array([vec for _, vec in rows], dtype=np.float64)
    nc = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])
    # chunk rows so the (chunk, k, dim) product tensor stays ~128 MB
    step = max(1, (1 << 24) // max(1, C.shape[0] * C.shape[1]))

    def assign(col: pd.Series) -> pd.Series:
        V = np.array(col.tolist(), dtype=np.float64)
        if V.size == 0:
            return pd.Series(np.empty(0, dtype=np.int32))
        nv = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
        out = np.empty(V.shape[0], dtype=np.int32)
        for s in range(0, V.shape[0], step):
            P = V[s : s + step, None, :] * C[None, :, :]
            dots = np.cumsum(P, axis=2)[:, :, -1]
            cos = dots / (nv[s : s + step, None] * nc[None, :])
            out[s : s + step] = cells[np.argmax(cos, axis=1)]
        return pd.Series(out)

    assign.__annotations__ = {"col": pd.Series, "return": pd.Series}
    assign_udf = F.pandas_udf(assign, "int")
    return v.select("vec_id", assign_udf("v").alias("cell"), "v")


def cosine_similarity_np(a, b):
    """Vectorized dual of ``functions.cosine_similarity`` for two
    array<double> COLUMNS (pairwise, row by row): the same
    left-to-right fold arithmetic via ``np.cumsum`` — bit-identical
    to the HOF form (same pin as ``_assigned_np``), Arrow-batched.
    Use on candidate-pair filters where the interpreted HOF is the
    hot loop (SemDeDup's within-cell scan)."""

    def cos(sa: pd.Series, sb: pd.Series) -> pd.Series:
        if len(sa) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        A = np.array(sa.tolist(), dtype=np.float64)
        B = np.array(sb.tolist(), dtype=np.float64)
        dots = np.cumsum(A * B, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
        return pd.Series(dots / (na * nb))

    cos.__annotations__ = {
        "sa": pd.Series, "sb": pd.Series, "return": pd.Series,
    }
    return F.pandas_udf(cos, "double")(a, b)


def kmeans(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    round_to: int = 6,
    cache_key: str = "kmeans",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd's k-means over cosine similarity.

    Returns ``(assignment, centroids)`` — ``(vec_id, cell)`` and
    ``(cell, c)``. Replaces the fixture's ``label`` column as the IVF
    coarse quantizer (the SCALE.md round-2 item).

    Determinism contract (oracle-matchable):
    - init = the ``k`` lowest-id vectors, cell = their id rank;
    - assignment = argmax cosine, ties broken by lowest cell;
    - centroids are element-wise means ROUNDED to ``round_to`` decimals
      each iteration — both engines round away their last-ulp
      summation-order drift, so assignments stay identical across
      engines (sims themselves are bit-equal: sequential fold order on
      identical rounded centroid values).

    This variant CHECKPOINTS centroids to the driver each iteration
    (k x dim doubles — bytes) and re-broadcasts them as a literal
    table: lineage never compounds, and a failed iteration retries
    from materialized state — the production shape for corpus-scale
    fits. Assignment runs through the VECTORIZED dual
    (``_assigned_np``, bit-identical to the HOF fold — test-pinned
    against ``kmeans_lazy``): at large k the O(n·k·dim) assignment
    map is the fit's cost center, and interpreted HOF evaluation
    there is the difference between hours and minutes at corpus
    scale. For small/interactive fits prefer ``kmeans_lazy`` (same
    semantics, one scheduling round-trip total).
    """
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # loop working set: one scan per iteration; per-caller key so
    # different corpora don't evict each other (the kmeans_lazy rule)
    v = managed_persist(v, f"{cache_key}.v")
    spark = emb.sparkSession

    # bounded-output fit collects (k x dim doubles per iteration) run
    # without AQE: one job per Lloyd pass instead of one per query
    # stage
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        cent_rows = _init_cents(v, k, round_to).collect()
        for _ in range(n_iter):
            cent_rows = _mean_cents(
                _assigned_np(v, cent_rows), dim, round_to
            ).collect()
    from ._cache import local_relation

    cents = local_relation(
        spark,
        [
            (int(r["cell"]), [float(x) for x in r["c"]])
            for r in cent_rows
        ],
        "cell int, c array<double>",
    )
    return _assigned_np(v, cent_rows).select("vec_id", "cell"), cents


def _round_half_up_np(m: np.ndarray, round_to: int) -> np.ndarray:
    """floor(x·10^r + 0.5)/10^r — pure IEEE arithmetic, matching the
    SQL replay's round() everywhere it can matter (a divergence needs
    a mean to land within one ulp of an exact .5·10^-r boundary;
    per-iteration rounding exists precisely to absorb summation-order
    drift far below that)."""
    p = 10.0 ** round_to
    return np.floor(m * p + 0.5) / p


def _argmax_cosine_rows(
    V: np.ndarray, nv: np.ndarray, C: np.ndarray
) -> np.ndarray:
    """Row index of the argmax-cosine centroid for each vector, ties →
    lowest row. Dot products accumulate via ``np.cumsum`` — the
    vectorized dual of the sequential fold (the ``_assigned_np`` pin),
    so the values are bit-identical to the SQL replay's list_sum fold.
    Chunked so the (chunk, k, dim) product tensor stays ~128 MB."""
    nc = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])
    out = np.empty(V.shape[0], dtype=np.int64)
    step = max(1, (1 << 24) // max(1, C.shape[0] * C.shape[1]))
    for s in range(0, V.shape[0], step):
        P = V[s : s + step, None, :] * C[None, :, :]
        dots = np.cumsum(P, axis=2)[:, :, -1]
        cos = dots / (nv[s : s + step, None] * nc[None, :])
        out[s : s + step] = np.argmax(cos, axis=1)
    return out


def kmeans_two_level(
    emb: DataFrame,
    k: int,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    round_to: int = 6,
    cache_key: str = "kmeans2l",
) -> tuple[DataFrame, int, int]:
    """Hierarchical (two-level / IVF-assisted) k-means assignment:
    every stage is O(n·√k), replacing the flat fit's O(n·k) assignment
    term — the term that dominates once k grows with the corpus (the
    SemDeDup k∝n policy). Returns ``(assignment, k_c, k_f)`` where
    assignment is ``(vec_id, cell)`` and ``cell = gcell·k_f + local``.

    Structure (the FAISS/IMI coarse-quantizer pattern, VERDICT r7
    item 1):

    1. COARSE: fit ``k_c = ceil(√k)`` centroids over the corpus with
       the flat ``kmeans`` (vectorized assignment, checkpointed
       centroids) and assign every vector its coarse cell ``gcell``
       — O(n·√k·dim) per Lloyd pass.
    2. FINE, per coarse cell: fit ``k_f = ceil(k/k_c)`` centroids over
       the cell's OWN members inside one ``applyInPandas`` task —
       deterministic init (the ``k_f`` lowest-id members, unrounded),
       ``n_iter`` Lloyd passes with argmax-cosine assignment (ties →
       lowest cell) and per-iteration means rounded half-up to
       ``round_to`` dp, empty cells dropped. Total fine work is
       Σ_g |g|·k_f = O(n·√k·dim) per pass, and each task's state is
       its own members + k_f×dim centroids — NO k×dim broadcast of
       the full fine codebook ever exists (at k = n/64 that broadcast
       is O(n) bytes, the flat form's hidden scale ceiling).

    A vector's fine candidates are its own coarse cell's centroids
    (probe width 1) — that is the DECLARED assignment policy, exactly
    as k∝n is the declared k policy: the SQL replay derives k_c/k_f
    the same way and restricts the same argmax to the same candidate
    set, so the oracle adjudicates the policy, not an approximation
    of a flat fit. The recall trade (a cross-cell near-dup pair is
    missed) is SemDeDup's own documented trade, now applied
    hierarchically.

    Scale ceiling, stated honestly: one fine task holds one coarse
    cell's members (~n/√k vectors). At n=10⁹/dim 64 that is ~128 MB —
    one healthy task; corpora orders beyond that recurse this same
    construction one level deeper (√k coarse cells of √k sub-cells).

    Determinism: the coarse stage is the test-pinned flat fit; the
    fine stage's arithmetic is the ``np.cumsum`` fold dual
    (bit-identical to the replay's sequential list_sum) over exact
    member vectors, with only the rounded means crossing iterations.
    """
    k_c = max(2, math.ceil(math.sqrt(k)))
    k_f = -(-k // k_c)
    coarse_assign, _ = kmeans(
        emb, k=k_c, n_iter=n_iter, vec_col=vec_col, id_col=id_col,
        dim=dim, round_to=round_to, cache_key=f"{cache_key}.coarse",
    )
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    va = v.join(
        coarse_assign.withColumnRenamed("cell", "gcell"), "vec_id"
    )

    def fit_fine(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        g = int(pdf["gcell"].iloc[0])
        nv = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
        kf_eff = min(k_f, V.shape[0])
        C = V[:kf_eff].copy()  # init: lowest-id members, unrounded
        loc = np.arange(kf_eff, dtype=np.int64)
        for _ in range(n_iter):
            rows = _argmax_cosine_rows(V, nv, C)
            occupied = np.unique(rows)  # ascending → loc stays sorted
            C = np.stack(
                [
                    _round_half_up_np(V[rows == r].mean(axis=0), round_to)
                    for r in occupied
                ]
            )
            loc = loc[occupied]
        rows = _argmax_cosine_rows(V, nv, C)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].values,
                "cell": (g * k_f + loc[rows]).astype(np.int32),
            }
        )

    # downstream consumers (SemDeDup's pair scan + final projection)
    # reference the assignment more than once; without a
    # materialization each reference re-runs the join + fine fits
    assign = managed_persist(
        va.groupBy("gcell").applyInPandas(
            fit_fine, "vec_id long, cell int"
        ),
        f"{cache_key}.assign",
    )
    return assign, k_c, k_f


def kmeans_lazy(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    round_to: int = 6,
    cache_key: str = "kmeans_lazy",
) -> tuple[DataFrame, DataFrame]:
    """Same semantics as ``kmeans`` (identical assignments/centroids —
    test-pinned), but fully LAZY: iterations chain as DataFrame lineage
    and execute as one Catalyst-planned job, paying one scheduling
    round-trip instead of n_iter+2. Per iteration only two narrow
    shuffles (vec_id agg, cell agg) separate the stages.

    ``cache_key``: callers fitting a DIFFERENT corpus (q141's augmented
    embeddings vs q51's raw table) pass their own key — sharing the
    default key would make alternating callers evict each other's
    fitted cache every run (managed_persist swaps on plan change)."""
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    v = managed_persist(v, f"{cache_key}.v")
    cents = _init_cents(v, k, round_to)
    for _ in range(n_iter):
        cents = _mean_cents(_assigned(v, cents), dim, round_to)
    # Both returned frames — and an IVF probe built on them — embed
    # this same iteration subtree. Caching the k-row result makes every
    # consumer after the first a cache hit instead of a full re-fit.
    cents = managed_persist(cents, f"{cache_key}.cents")
    return _assigned(v, cents).select("vec_id", "cell"), cents


def ivf_topk_with_cells(
    emb: DataFrame,
    assign: DataFrame,
    cents: DataFrame,
    query_vec_id: int,
    k: int = 5,
    n_probe: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """IVF probe against an explicit quantizer (``kmeans`` output):
    rank cells by centroid similarity, scan only the top ``n_probe``
    cells' members. With the cell as a partition column the semi join
    becomes partition pruning — the 100 TB path."""
    qv = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_embedding")
    )
    probe = (
        cents.crossJoin(F.broadcast(qv))
        .select("cell", cosine_similarity("c", "q_embedding").alias("c_sim"))
        .orderBy(F.desc("c_sim"), F.asc("cell"))
        .limit(n_probe)
        .select("cell")
    )
    return (
        emb.join(assign, "vec_id")
        .join(F.broadcast(probe), "cell", "left_semi")
        .filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                cosine_similarity("embedding", "q_embedding"), round_to
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


# --- embedding-cosine near-duplicate detection (L2/L3 hybrid) -------------
#
# Random-hyperplane (SRP) LSH: sign(v·r) bits are locality-sensitive for
# cosine — P[bit differs] = angle/pi (Charikar, STOC'02). Banding the
# bits turns all-pairs search into an equi-join on (band, bucket): the
# quadratic candidate space never materializes, only same-bucket pairs.
# At 100 TB the bucket join shuffles on a well-spread key (md5-derived
# bits), and signature extraction is a map-only projection.


def _srp_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG state,
    so the signature of a vector is reproducible across runs/engines."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"srp:{p}:{i}".encode()).hexdigest()[:8], 16)
            / 2**31
            - 1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def with_near_duplicate_vectors(emb: DataFrame, id_below: int = 50) -> DataFrame:
    """Augment embeddings with perturbed copies (vec_id + 100000): a
    deterministic, SQL-replicable analog of dedup.with_near_duplicates
    for the vector domain. Component i gets ((vec_id*64 + i) % 7 - 3) *
    0.005 added — cosine(orig, dup) ≈ 0.997 on unit vectors, while the
    fixture's max unrelated-pair cosine is ~0.51."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("emb"),
    )
    dups = emb.filter(F.col("vec_id") < id_below).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda v, i: v.cast("double")
            + ((F.col("vec_id") * 64 + i) % 7 - 3) * 0.005,
        ).alias("emb"),
    )
    return base.unionByName(dups)


def srp_signature(
    emb: DataFrame,
    vec_col: str = "emb",
    n_planes: int = 32,
    dim: int = 64,
) -> DataFrame:
    """One sign bit per hyperplane, computed map-side: the plane
    components are plan-time literals, so each bit is a fold over
    zip_with(vec, lit_array) — no shuffle, no UDF. Right for small
    plane counts where staying inside codegen beats an Arrow hop; for
    the hundreds of planes banded near-dup needs, use srp_band_keys
    (vectorized matmul) instead."""
    planes = _srp_planes(n_planes, dim)
    bits = [
        (
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[F.lit(c) for c in plane]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0
        )
        .cast("int")
        .alias(f"b{p}")
        for p, plane in enumerate(planes)
    ]
    return emb.select("vec_id", vec_col, *bits)


def srp_band_keys(
    n_planes: int = 384, band_size: int = 16, dim: int = 64
):
    """Arrow-vectorized band-key extraction: one BLAS matmul per batch
    computes every sign bit ((n, dim) @ (dim, n_planes)), then a
    reshape-matmul packs each band's bits into an int64 key. 384 plane
    dots per vector is where the JVM higher-order-function fold loses to
    NumPy by >10x — the deliberate Pandas-UDF exception to the
    built-ins-first rule. Map-only: no shuffle, scales linearly."""
    from pyspark.sql.types import ArrayType, LongType

    P = np.array(_srp_planes(n_planes, dim))
    W = (1 << np.arange(band_size)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(emb: pd.Series) -> pd.Series:
        E = np.vstack(emb.to_numpy())
        bits = (E @ P.T >= 0).astype(np.int64)
        keys = bits.reshape(len(E), -1, band_size) @ W
        return pd.Series(list(keys))

    return band_keys


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    n_planes: int = 384,
    band_size: int = 16,
    dim: int = 64,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) for all pairs with cosine >= threshold.

    SRP band keys → same-(band, bucket) self-join → exact cosine verify.
    Near-dup detection wants a HIGH threshold, which is exactly where
    banded SRP is selective: with 24 bands of 16 bits, a pair at cosine
    0.99 (per-bit agreement 0.955) survives >= 1 band with
    P = 1 - (1 - 0.955^16)^24 ≈ 1 - 1.5e-7, while an unrelated pair
    (agreement ~0.5) collides with P ≈ 24 * 2^-16 ≈ 4e-4 — the
    candidate set stays ~linear in n, not n². Short bands (e.g. 8x4)
    look cheaper but collapse: 4 agreeing bits happen by chance 1/16 of
    the time, regenerating the quadratic pair space. The exact-cosine
    pass makes the output equal to brute force up to that ~1e-7 recall
    gap, which is what justifies a brute-force SQL oracle.
    """
    # persist the signature scan: the self-join references it on BOTH
    # sides, and without a materialization each side re-runs the
    # pandas-UDF matmul over the full corpus — measured as ~2× the
    # query's cost at sf0.1 (the r2→r3 q37 'regression' was exactly
    # this double scan; BENCH r3). One bounded cache entry via
    # managed_persist, same pattern as the k-means centroid loop.
    buckets = managed_persist(
        emb.select(
            "vec_id",
            F.posexplode(srp_band_keys(n_planes, band_size, dim)("emb")).alias(
                "band", "bucket"
            ),
        ),
        "srp.buckets",
    )
    pairs = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bucket"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    za = emb.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    zb = emb.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    return (
        pairs.join(za, "vec_a")
        .join(zb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine_similarity("ea", "eb").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def hard_negatives(
    emb: DataFrame,
    n_anchors: int = 8,
    k: int = 3,
    round_to: int = 4,
    salt_buckets: int = 64,
) -> DataFrame:
    """Hard-negative mining — the contrastive-training data op (public
    precedent: DPR's hard negatives, FaceNet's triplet mining): for
    each ANCHOR vector, the ``k`` most cosine-similar vectors carrying
    a DIFFERENT label. Those near-miss negatives are what make a
    trained embedding model discriminate; random negatives are too
    easy to carry gradient.

    Anchors = the ``n_anchors`` smallest vec_ids (a training batch —
    bounded by config, never by data), broadcast against one corpus
    scan; the dot product is expression-only (JVM codegen).

    Per-anchor top-k at scale: with few anchors a plain window keyed
    by anchor collapses the whole corpus onto n_anchors partitions —
    the classic skew trap. Instead the top-k runs in TWO phases: a
    window over (anchor, salt) keeps k per salt bucket (salt =
    hash(vec_id) % salt_buckets, so phase 1 spreads over
    n_anchors*salt_buckets keys and its output is <= that * k rows),
    then the tiny residue re-ranks per anchor. The salt provably never
    changes the result — each bucket's local top-k is a superset of
    its contribution to the global top-k.

    Ranking is by cosine ROUNDED to ``round_to`` desc then vec_id (the
    q19 ulp guard). Returns (anchor_id, anchor_label, rank, vec_id,
    label, cos_sim) ordered by (anchor_id, rank).
    """
    anchors = (
        emb.orderBy("vec_id")
        .limit(n_anchors)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").alias("__a_emb"),
        )
    )
    cand = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.round(
                cosine_similarity("embedding", "__a_emb"), round_to
            ).alias("cos_sim"),
        )
    )
    w1 = Window.partitionBy("anchor_id", "__salt").orderBy(
        F.desc("cos_sim"), "vec_id"
    )
    w2 = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), "vec_id"
    )
    pruned = (
        cand.withColumn(
            "__salt", F.pmod(F.hash("vec_id"), F.lit(salt_buckets))
        )
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            F.col("rank").cast("bigint").alias("rank"),
            "vec_id",
            "label",
            "cos_sim",
        )
        .orderBy("anchor_id", "rank")
    )


def margin_bitext_mine(
    emb: DataFrame,
    src_label: int = 0,
    tgt_label: int = 1,
    k: int = 4,
    top: int = 20,
) -> DataFrame:
    """Margin-based parallel-corpus mining (Artetxe & Schwenk 2019 —
    the CCMatrix/WikiMatrix method, public): a (source, target) pair
    is a translation candidate not when its cosine is high in absolute
    terms but when it is high RELATIVE to each side's neighborhood —
    margin(x, y) = cos(x, y) / ((sum_NNk(x) + sum_NNk(y)) / 2k),
    where NNk(x) are x's k nearest vectors on the OTHER side. The
    ratio cancels hubness (vectors that are near everything), the
    failure mode absolute-threshold mining hits first.

    Shape: the two sides come from one scan (label partition); the
    candidate pair relation is built once and persisted (it feeds the
    margin numerator AND both neighborhood sums). Per-side kNN sums
    use rank-truncated windows keyed by that side's id. At fixture
    scale candidates are the full bipartite product with the smaller
    side broadcast; at 100 TB the candidate generator swaps for the
    IVF/SRP machinery (q27/q37) with IDENTICAL downstream scoring —
    the margin stage never changes shape.

    Determinism: cosines pre-rounded 6dp HALF_UP, neighborhood sums
    folded in ascending (cos, partner) order (the shared exact-fold
    pattern), margin rounded 6dp, ranking by margin desc then
    (src_id, tgt_id).

    Returns (src_id, tgt_id, cos_sim, margin) — the ``top`` best pairs.
    """
    m6 = F.lit(1e6)
    a = emb.filter(F.col("label") == src_label).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("__ea")
    )
    b = emb.filter(F.col("label") == tgt_label).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("__eb")
    )
    pairs = managed_persist(
        a.crossJoin(F.broadcast(b)).select(
            "src_id",
            "tgt_id",
            (
                F.floor(cosine_similarity("__ea", "__eb") * m6 + F.lit(0.5))
                / m6
            ).alias("c"),
        ),
        "similarity.margin.pairs",
    )

    def _knn_sum(part_col: str, other_col: str, out: str) -> DataFrame:
        w = Window.partitionBy(part_col).orderBy(F.desc("c"), other_col)
        return (
            pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .groupBy(part_col)
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("c", other_col))
                        ),
                        lambda s: s["c"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias(out)
            )
        )

    sx = _knn_sum("src_id", "tgt_id", "__sx")
    sy = _knn_sum("tgt_id", "src_id", "__sy")
    denom = (F.col("__sx") + F.col("__sy")) / F.lit(2.0 * k)
    return (
        pairs.join(sx, "src_id")
        .join(sy, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.col("c").alias("cos_sim"),
            (F.floor(F.col("c") / denom * m6 + F.lit(0.5)) / m6).alias(
                "margin"
            ),
        )
        .orderBy(F.desc("margin"), "src_id", "tgt_id")
        .limit(top)
    )


# --- IVF store at rest: cell as a physical partition column ---------------

def write_ivf_store(
    emb: DataFrame, assign: DataFrame, path: str
) -> None:
    """Materialize an IVF index as a partitioned parquet layout: one
    directory per quantizer cell (``cell=<id>/``). This turns the probe
    step's cell membership semi-join into PARTITION PRUNING — a query
    that probes 2 of 256 cells plans a scan of 2/256ths of the corpus;
    the other 254 directories are never listed into the scan.

    ``assign`` is (vec_id, cell) — a ``kmeans`` fit or any quantizer.
    One shuffle on cell at write time (repartition before partitionBy
    so each cell directory is a few large files, not one shard per
    input partition).
    """
    (
        emb.join(assign, "vec_id")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_store_topk(
    spark,
    path: str,
    cents: DataFrame,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Top-k over a ``write_ivf_store`` layout. The probe cells come
    from ranking the centroid table (k rows — a driver-side collect of
    KB-scale metadata, the same trick as a file-index lookup), and the
    scan filters ``cell IN (...)`` with LITERALS, which is the form
    Spark's datasource can push into partition pruning at PLANNING
    time (check PartitionFilters in the explain output;
    tests/test_layout.py asserts it).

    Scale note (measured on the snapshot store, SCALING_STORE10X):
    a root-path read prunes the SCAN but still pays a distributed
    file-LISTING job over every partition directory before planning —
    O(total cells) per probe. At cell counts where that matters
    (≥ ~10³), read the probe cells as explicit
    ``{path}/cell=<id>`` paths with ``basePath`` instead, exactly as
    ``snapshot.refresh_snapshot_store`` does; the probe list is
    already driver-side metadata.
    """
    from pyspark.sql import functions as F  # local: keep module header slim

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    probe_rows = (
        cents.select(
            "cell", cosine_similarity(F.col("c"), q).alias("c_sim")
        )
        .orderBy(F.desc("c_sim"), F.asc("cell"))
        .limit(n_probe)
        .collect()
    )
    probe_cells = [r["cell"] for r in probe_rows]
    store = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    return (
        store.select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), q), round_to).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4× memory /
    bandwidth reduction that makes billion-vector ANN indexes fit: keep
    ``q_vec`` (int8-range bigints) + one double ``scale`` per vector
    instead of float32s; dequantize on read as ``q / scale``.

    ``scale = 127 / max|x|`` (1.0 for an all-zero vector so the guard
    never divides by zero); ``q_i = floor(x_i * scale + 0.5)``.
    floor(x+0.5) instead of round(): Spark's round() on doubles rounds
    the shortest-decimal rendering (BigDecimal.valueOf) while other
    engines round the binary value, so exact-.5 renderings can diverge
    cross-engine — floor is pure IEEE arithmetic, bit-identical
    everywhere. Expression-only, row-local, no shuffle.
    """
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = F.when(amax == 0, F.lit(1.0)).otherwise(F.lit(127.0) / amax)
    with_scale = emb.withColumn("scale", scale)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x * F.col("scale") + F.lit(0.5)),
    )
    return with_scale.withColumn("q_vec", q).withColumn(
        "dq_vec",
        F.transform(F.col("q_vec"), lambda v: v / F.col("scale")),
    )


def brute_force_topk_pandas(
    emb: DataFrame,
    query: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched numpy variant of `brute_force_topk`: one matmul
    per record batch against the (broadcast-by-closure) query vector.

    This is the vectorized scale path for wide vectors / many queries
    — BLAS does dim-many multiply-adds per row in SIMD, where the HOF
    fold is one codegen loop per row. Per-batch top-k shrinks the
    Python→JVM return to k rows per batch before the global
    TakeOrdered. Summation order differs from the sequential fold
    (BLAS pairwise vs left fold) only below the 4dp rounding used for
    ranking.
    """
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    schema = f"{id_col} long, cos_sim double"

    def score(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].map(np.asarray).values).astype(np.float64)
            cos = (m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn)
            out = pd.DataFrame({id_col: pdf[id_col].values, "cos_sim": np.round(cos, 4)})
            # keep="all" retains every row tied at the kth value: the
            # global (cos desc, id asc) TakeOrdered breaks ties, and a
            # smaller-id tie must not be pruned batch-locally.
            yield out.nlargest(min(k, len(out)), "cos_sim", keep="all")

    return (
        emb.select(id_col, vec_col)
        .mapInPandas(score, schema)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )
