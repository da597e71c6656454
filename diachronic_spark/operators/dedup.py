"""Deduplication operators (SURVEY §2.11 L1/L2): exact, MinHash+LSH,
SimHash, and n-gram Jaccard — all expression-only (no Python UDFs), so
they run JVM-side inside whole-stage codegen and scale linearly.

Hash function: ONE md5 per shingle (first 8 hex chars → 32-bit int),
then k affine rehashes h_i = (h*A_i + i) mod P — the classic universal-
hash minhash family. Engine-portable (the DuckDB oracle computes the
identical signature), deterministic, and 8x cheaper than hashing each
(seed, shingle) pair separately.

Scale design:
- MinHash LSH: signature is k aggregated mins (one shuffle on doc_id),
  banding re-keys by (band, band_hash) — candidate generation never
  compares all pairs. Skew guard: ban trivial bands (all-equal corpus)
  by salting thresholds upstream if needed.
- SimHash: 32-bit signatures; candidate pairs via block pigeonholing
  (hamming <= d ⇒ at least one of d+1 blocks equal), again equi-join
  keyed, never quadratic; block width adapts to the threshold.
- Jaccard: inverted-index self-join on shingles; at 100 TB, block on
  rare shingles or run MinHash first — documented in each query.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions import whitespace_tokens, word_shingles
from ._cache import managed_persist
from ._config import LOCAL_EDGE_THRESHOLD  # noqa: F401  (shared dispatch bound)

N_MINHASH = 8          # signature length
BAND_ROWS = 2          # rows per LSH band -> 4 bands
SIMHASH_BITS = 32

# Affine rehash family for minhash: h_i = (h32 * A[i] + i) mod P.
# A[i] < 2^30 keeps h32 * A[i] < 2^62 — no bigint overflow under ANSI
# mode in Spark, and the identical arithmetic is expressible in the
# DuckDB oracle (ext_oracle.py imports these constants).
MINHASH_P = 2_147_483_647
MINHASH_A = [
    1_000_003, 10_000_019, 65_537, 999_999_937,
    179_424_673, 32_452_843, 982_451_653, 536_870_923,
]


def with_near_duplicates(documents: DataFrame, id_below: int = 50) -> DataFrame:
    """Augment the corpus with deterministic near-duplicates: for every
    doc_id < ``id_below``, a copy (doc_id + 100000) missing its last
    word. Gives dedup queries real positives on the all-distinct
    testdata corpus (FIXTURES.md §2 note on documents).
    """
    dups = (
        documents.filter(F.col("doc_id") < id_below)
        .select("doc_id", whitespace_tokens(F.col("text")).alias("toks"))
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.slice(
                    F.col("toks"),
                    1,
                    F.greatest(F.size("toks") - 1, F.lit(1)),
                ),
            ).alias("text"),
        )
    )
    return documents.select("doc_id", "text").unionByName(dups)


def with_borderline_near_duplicates(
    documents: DataFrame,
    j_targets: tuple[float, ...] = (0.55, 0.60, 0.65, 0.70),
    per_target: int = 40,
) -> DataFrame:
    """Adversarial recall corpus (VERDICT r9 item 7): constructed
    pairs whose shingle Jaccard sits ON the banding S-curve's soft
    shoulder (j ≈ 0.55–0.7, where 4 bands × 2 rows predicts
    P(candidate) = 1-(1-j²)⁴ ≈ 0.76–0.92 — misses are EXPECTED),
    unlike ``with_near_duplicates`` whose drop-one-word pairs all
    land at j ≥ 0.9 where recall is ~certain.

    Construction: a variant keeps the first K words of its source
    and replaces the tail with per-doc junk. With S = N-2 shingles a
    side and s = K-2 shared, J = s/(2S-s); solving for a target j
    gives s = ⌊2jS/(1+j)⌋ — exact, deterministic, no RNG. Variant id
    = source + 200000 + band·10⁴, so measurement groups pairs by
    intended band without re-deriving J."""
    out = documents.select("doc_id", "text")
    base = (
        documents.filter(F.col("doc_id") < per_target)
        .select(
            "doc_id", whitespace_tokens(F.col("text")).alias("toks")
        )
        .filter(F.size("toks") >= 12)
    )
    for t_idx, j in enumerate(j_targets):
        n = F.size("toks")
        s_shared = F.floor(
            F.lit(2.0 * j) * (n - 2) / F.lit(1.0 + j)
        ).cast("int")
        k = s_shared + 2
        junk = F.transform(
            F.sequence(F.lit(1), n - k),
            lambda i: F.concat(
                F.lit(f"zz{t_idx}b"),
                F.col("doc_id").cast("string"),
                F.lit("j"),
                i.cast("string"),
            ),
        )
        variant = base.select(
            (F.col("doc_id") + 200000 + t_idx * 10000).alias(
                "doc_id"
            ),
            F.concat_ws(
                " ", F.concat(F.slice("toks", 1, k), junk)
            ).alias("text"),
        )
        out = out.unionByName(variant)
    return out


def shingle_arrays(corpus: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, distinct-sorted shingle array, set size) — MAP-ONLY.

    The per-doc shingle set is an array column built entirely in one
    projection (tokenize → window → array_distinct → array_sort): no
    explode, no shuffle. Signatures, sizes, and pair verification all
    derive from this one narrow stage — the property that makes minhash
    scale: signature extraction is embarrassingly parallel.

    Tokens are materialized first so the tokenizer runs once per doc,
    not once per shingle position (no CSE across lambda iterations).
    """
    sset = F.array_sort(F.array_distinct(word_shingles("toks", n)))
    return (
        corpus.select(
            "doc_id", whitespace_tokens(F.col("text")).alias("toks")
        )
        .select("doc_id", sset.alias("sset"))
        # hset: the same set as 64-bit hashes. Set intersections and
        # document-frequency stats are injective-map-invariant, so
        # downstream joins ship 8-byte ints instead of n-gram strings
        # (collision risk 2^-64 per pair-union element; zero on the
        # fixtures). The string set stays for the md5 minhash path.
        .withColumn(
            "hset", F.array_sort(F.transform("sset", lambda s: F.xxhash64(s)))
        )
        .withColumn("sz", F.size("sset"))
    )


def minhash_signature(arrs: DataFrame, k: int = N_MINHASH) -> DataFrame:
    """k min-hashes per doc, computed map-side from the shingle array —
    zero shuffles, ONE md5 per shingle.

    The base hash array ``hs`` is emitted as its own projection and
    referenced by all k mins; CollapseProject never inlines a non-cheap
    expression with multiple references, so the md5 pass runs once per
    doc, not k times.
    """
    hs = F.transform(
        "sset",
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
    )
    sig = arrs.select("doc_id", hs.alias("hs"))
    return sig.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    "hs",
                    lambda h: F.pmod(
                        h * MINHASH_A[i] + F.lit(i), F.lit(MINHASH_P)
                    ),
                )
            ).alias(f"h{i}")
            for i in range(k)
        ],
    )


def band_table(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh): the LSH banding of a signature frame — the
    join key space for candidate generation, and the unit the at-rest
    index stores."""
    n_bands = N_MINHASH // BAND_ROWS
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[F.col(f"h{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
                        ).alias("bh"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Band signatures and self-join on (band, band_hash): docs agreeing
    on any band become a candidate pair (doc_a < doc_b)."""
    bands = band_table(sig)
    # The self-join would otherwise evaluate the whole signature subtree
    # twice (once per side) — cache the tiny (n_docs x n_bands) band
    # table so hashing happens exactly once.
    bands = managed_persist(bands, "lsh.bands")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ppjoin_pairs(
    arrs: DataFrame, threshold: float, cache_key: str = "ppjoin"
) -> DataFrame:
    """COMPLETE Jaccard similarity self-join via prefix filtering
    (PPJoin family — Xiao/Wang/Lin/Yu, WWW'08): every pair of docs
    with exact Jaccard >= ``threshold``, guaranteed. This is a
    stronger contract than the repo's other candidate generators —
    rare-shingle blocking (q26) bounds recall by a df cap and MinHash
    LSH (q23) is probabilistic; prefix filtering misses nothing.

    Why it is lossless: order every doc's shingle set by ONE global
    order (ascending document frequency, ties by hash — rarest
    first). J(A,B) >= t requires an overlap of at least
    alpha = ceil(t/(1+t) * (|A|+|B|)) shingles; if two docs share no
    shingle within their first p_X = |X| - ceil(t*|X|) + 1 ordered
    elements, the remaining suffixes are too short to reach alpha.
    So an equi-join on PREFIX shingles only still finds every
    qualifying pair. Rarest-first makes those prefix posting lists
    the shortest available — join fan-out is sum(prefix-df^2), not
    sum(df^2), which is the scale win over a full inverted index.

    A positional upper bound prunes further inside the join
    condition: a pair first co-occurring at positions (pa, pb) can
    overlap at most 1 + min(|A|-pa, |B|-pb) — below alpha it cannot
    qualify. Float thresholds get a 1e-9 slack in the LOSSLESS
    direction (longer prefixes, smaller alpha): false candidates are
    removed by exact verification, false negatives would be a
    completeness bug.

    Shape: one agg for global df, one per-doc window sort, one
    equi-join on the prefix postings, exact verification on
    candidates only (``jaccard_for_pairs``). No driver state.

    ``cache_key``: callers over DIFFERENT corpora (q125's documents vs
    q133's pipeline survivors) pass distinct keys so alternating runs
    don't evict each other's persisted prefix table (ADVICE r5 item 2
    — same contract as kmeans_lazy's cache_key).
    """
    t = float(threshold)
    tok = arrs.select("doc_id", "sz", F.explode("hset").alias("h"))
    dftab = tok.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    prefix_len = (
        F.col("sz") - F.ceil(F.col("sz") * F.lit(t) - F.lit(1e-9)) + 1
    )
    prefix = (
        tok.join(dftab, "h")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "sz", "h", "pos")
    )
    prefix = managed_persist(prefix, f"{cache_key}.prefix")
    a, b = prefix.alias("a"), prefix.alias("b")
    alpha = F.ceil(
        (F.col("a.sz") + F.col("b.sz")) * F.lit(t / (1.0 + t))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ubound >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return jaccard_for_pairs(cand, arrs).filter(
        F.col("jaccard") >= F.lit(t)
    )


def jaccard_for_pairs(pairs: DataFrame, arrs: DataFrame) -> DataFrame:
    """Exact |A∩B| / |A∪B| for the given (doc_a, doc_b) pairs, from the
    per-doc shingle arrays of ``shingle_arrays``.

    The candidate pair set is orders of magnitude smaller than the
    shingle postings, so intersect per-pair shingle ARRAYS (one join per
    side, intersection computed in-expression) instead of re-joining
    exploded posting lists — far fewer shuffles, no hot-shingle skew.
    """
    za = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hset").alias("set_a"),
        F.col("sz").alias("sza"),
    )
    zb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hset").alias("set_b"),
        F.col("sz").alias("szb"),
    )
    icnt = F.size(F.array_intersect("set_a", "set_b"))
    return (
        pairs.join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                icnt / (F.col("sza") + F.col("szb") - icnt)
            ).alias("jaccard"),
        )
    )


def simhash(corpus: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """``bits``-wide SimHash per doc from md5-derived token hashes.

    Token hash = first bits/4 hex chars of md5(token) → ``bits``-bit
    int; each bit votes +1/-1 weighted by occurrence count; sign of the
    vote sets the output bit. Pure expressions: explode → one hash-agg
    on doc_id.

    bits=32 (default) is the oracle-pinned shape; bits=64 is the
    production width (same code; the top bit maps to bigint's sign bit
    via signed conv, and assembly adds LONG_MIN for bit 63 — two's
    complement, no overflow).
    """
    assert bits in (32, 64), "simhash supports 32- or 64-bit signatures"
    # signed target base for 64-bit: values with the top bit set must
    # land in bigint's negative range instead of overflowing to null
    h = F.conv(
        F.substring(F.md5("tok"), 1, bits // 4), 16, -10 if bits == 64 else 10
    ).cast("bigint")
    toks = corpus.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
    ).withColumn("h", h)
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sim = None
    for b in range(bits):
        on = F.lit(-(1 << 63)) if b == 63 else F.lit(1 << b)
        term = F.when(F.col(f"v{b}") > 0, on).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("bigint").alias("simhash"))


def simhash32(corpus: DataFrame) -> DataFrame:
    """The 32-bit oracle-pinned shape (q24/q25)."""
    return simhash(corpus, bits=32)


def simhash_pairs(
    sims: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Candidate pairs with hamming(simhash) <= max_hamming via block
    pigeonholing: distance <= d over d+1 equal blocks ⇒ some block
    matches exactly, so an equi-join on (block_idx, block_value) finds
    every such pair without a quadratic comparison.

    Block count adapts to the threshold: fewer blocks = wider blocks =
    exponentially more buckets = fewer chance collisions. At d=1 over
    32 bits that's 2 blocks x 16 bits: 65536 buckets per block, so the
    candidate set is ~n²/2^17 instead of the n²/32 a fixed 4-bit
    nibble scheme degenerates to.
    """
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    nib = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ni"),
                        F.shiftright(F.col("simhash"), i * block_bits)
                        .bitwiseAND(mask)
                        .alias("nv"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("nb"),
    ).select("doc_id", "simhash", "nb.ni", "nb.nv")
    # Same double-evaluation guard as lsh_candidate_pairs: the upstream
    # simhash agg would run once per join side without the cache.
    nib = managed_persist(nib, "simhash.nib")
    a, b = nib.alias("a"), nib.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ni") == F.col("b.ni"))
            & (F.col("a.nv") == F.col("b.nv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    # at 64 bits the xor already spans the whole bigint — masking with
    # 2^64-1 would overflow; at 32 bits the mask drops sign-extension
    ham = F.bit_count(xor if bits == 64 else xor.bitwiseAND((1 << bits) - 1))
    return cand.select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def rare_shingle_pairs(arrs: DataFrame, max_df: int = 5) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs sharing at least one RARE
    shingle (document frequency <= ``max_df``) — the skew-guarded
    inverted-index blocking shared by the n-gram jaccard join (q26/
    q52) and the containment join (q140).

    Shuffle key is the 8-byte shingle hash; one hash-agg builds each
    posting list, the df cap filters BEFORE the in-expression pair
    expansion, so a hot shingle never materializes its quadratic pair
    set (it's dropped, not expanded — hot shingles carry no dedup
    signal anyway). A hash collision can only merge two posting lists
    (false candidates are removed by the caller's exact verify)."""
    sh = arrs.select("doc_id", F.explode("hset").alias("shash"))
    postings = (
        sh.groupBy("shash")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds").between(2, max_df))
    )
    pair_arr = F.flatten(
        F.transform(
            "ds",
            lambda a, i: F.transform(
                F.slice(
                    "ds",
                    i + F.lit(2),
                    F.greatest(F.size("ds") - i - 1, F.lit(0)),
                ),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    return (
        postings.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def containment_pairs(
    arrs: DataFrame, threshold: float = 0.8, max_df: int = 5
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B|/|A| — catches a
    doc wholly embedded in a larger one (boilerplate-wrapped articles,
    quote expansions, excerpt pages), where symmetric jaccard is only
    ~|A|/|B| and jaccard-LSH (q23) never bands the pair together.

    Candidates come from a shared RARE shingle (df <= ``max_df``), the
    same skew-guarded posting-list expansion as the q26 jaccard path:
    A ⊆ B implies every shingle of A is also B's, so ANY rare shingle
    of A produces the (A, B) candidate — a contained doc is found iff
    it has at least one rare shingle (the documented recall bound; a
    doc made ENTIRELY of corpus-hot shingles needs the span-level
    operator ``duplicated_spans`` instead, and a hot shingle never
    materializes its quadratic pair set). Exact containment is then
    verified in both directions over the full hashed shingle sets,
    candidates only.

    Returns (contained, container, n_shared, containment, jaccard)
    for ordered pairs with containment >= ``threshold``; emitting
    jaccard alongside shows exactly which catches the symmetric
    measure would have missed.
    """
    pairs = rare_shingle_pairs(arrs, max_df)
    a = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hset").alias("ha"),
        F.col("sz").alias("za"),
    )
    b = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hset").alias("hb"),
        F.col("sz").alias("zb"),
    )
    icnt = F.size(F.array_intersect("ha", "hb")).cast("bigint")
    base = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", icnt.alias("icnt"), "za", "zb")
    )
    fwd = base.select(
        F.col("doc_a").alias("contained"),
        F.col("doc_b").alias("container"),
        "icnt",
        F.col("za").alias("zc"),
        F.col("zb").alias("zt"),
    )
    rev = base.select(
        F.col("doc_b").alias("contained"),
        F.col("doc_a").alias("container"),
        "icnt",
        F.col("zb").alias("zc"),
        F.col("za").alias("zt"),
    )
    d = fwd.unionByName(rev)
    return d.filter(F.col("icnt") / F.col("zc") >= threshold).select(
        "contained",
        "container",
        F.col("icnt").alias("n_shared"),
        (F.col("icnt") / F.col("zc")).alias("containment"),
        (
            F.col("icnt") / (F.col("zc") + F.col("zt") - F.col("icnt"))
        ).alias("jaccard"),
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS — the step every
    dedup pipeline needs after LSH: pairs say "a~b, b~c", but dropping
    all-but-one per duplicate CLASS needs the transitive closure
    {a,b,c}. Returns ``(doc_id, component)`` with component = the min
    doc_id reachable — a canonical, deterministic cluster representative
    (the survivor under keep-min dedup).

    Algorithm: min-label propagation to fixpoint. Each iteration is one
    join + one min-aggregate (both on the doc_id key); convergence is
    detected via the monotonically-decreasing label sum, so an
    iteration costs exactly one action and no extra comparison join.
    Labels persist per round and the previous round unpersists —
    lineage stays flat like kmeans().

    Scale: iterations needed = graph diameter. Near-dup graphs are
    star-/clique-like (diameter 2-4), not chains, so the bound is
    small and data-independent in practice; for adversarial chains use
    the alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce"), which is O(log n) rounds of
    the same join+min shape.

    ``edges``: (doc_a, doc_b) undirected pairs. ``nodes``: (doc_id) —
    must cover every endpoint plus any singleton members.
    """
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            edges.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .persist()
    )
    labels = nodes.select(
        F.col("doc_id"), F.col("doc_id").alias("component")
    ).persist()
    prev_sum = labels.agg(F.sum("component")).first()[0]
    for _ in range(max_iter):
        msgs = sym.join(
            labels, sym["src"] == labels["doc_id"]
        ).select(F.col("dst").alias("doc_id"), "component")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .persist()
        )
        cur_sum = new_labels.agg(F.sum("component")).first()[0]
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sym.unpersist()
    return labels


def _components_from_pairs(pairs, nodes: DataFrame) -> DataFrame:
    """Union-find over an in-driver (a, b) pair list, then rejoin the
    distributed node set for singletons. Shared tail of
    :func:`connected_components_local` and :func:`connected_components_auto`.
    """
    spark = nodes.sparkSession
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN label so the root IS the component id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    mapping = [(x, find(x)) for x in sorted(parent)]
    id_field = nodes.schema["doc_id"]
    schema = StructType(
        [id_field, StructField("component", id_field.dataType, True)]
    )
    from ._cache import local_relation

    endpoint_df = local_relation(spark, mapping, schema)
    singles = nodes.join(endpoint_df, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    return endpoint_df.unionByName(singles)


def connected_components_local(
    edges: DataFrame,
    nodes: DataFrame,
) -> DataFrame:
    """Same contract as :func:`connected_components` (component = min
    reachable doc_id), different execution shape: union-find over the
    COLLECTED pair list.

    Driver state is O(edges) — near-dup pair sets are churn-sized, not
    corpus-sized (LSH emits a few pairs per duplicate cluster), so
    even a billion-doc corpus with millions of dup pairs fits. The
    corpus-sized part stays distributed: singleton nodes (no pairs)
    are label==self via a left-anti join against the KB-scale endpoint
    mapping — never collected. The kmeans/pagerank driver-state dual,
    applied to closure; the distributed min-label loop remains for
    edge sets beyond driver memory. Prefer
    :func:`connected_components_auto`, which picks between the two by
    measuring the edge count instead of trusting the caller.
    """
    return _components_from_pairs(
        ((r[0], r[1]) for r in edges.select("doc_a", "doc_b").collect()),
        nodes,
    )


# Auto-dispatch bound, shared with graph.py — see _config.py for the
# sizing rationale (re-exported here for existing importers).


def connected_components_auto(
    edges: DataFrame,
    nodes: DataFrame,
    local_edge_threshold: int = LOCAL_EDGE_THRESHOLD,
    max_iter: int = 20,
) -> DataFrame:
    """Edge-count-dispatched closure: union-find on the driver when the
    pair set is small, distributed min-label propagation otherwise —
    so the 100 TB path can't be accidentally driver-bound by a caller
    picking the wrong dual.

    The probe persists the pair set and counts it in ONE parallel pass
    (not ``limit(n).collect()`` — CollectLimit's incremental 1→4→16…
    partition waves would re-run an expensive LSH pair pipeline several
    times). Either branch then reads pairs from the cache, so the
    upstream pipeline executes exactly once; the cache is dropped
    before returning (the distributed loop materializes its own
    symmetrized copy, the local one has collected).
    """
    pairs = edges.select("doc_a", "doc_b").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        if pairs.count() <= local_edge_threshold:
            return _components_from_pairs(
                ((r[0], r[1]) for r in pairs.collect()), nodes
            )
        return connected_components(pairs, nodes, max_iter=max_iter)
    finally:
        pairs.unpersist()


# --- Incremental dedup against an index at rest (L2, ingest shape) --------
# Batch-vs-corpus is the shape a 100 TB ingestion pipeline actually
# runs: yesterday's corpus is indexed ONCE; each new batch probes the
# index and appends its survivors — the corpus text is never rescanned.
# The reference's analog is its upload-then-skip list (main.py:60-71):
# membership state at rest deciding what new work to admit.


# At-rest index schemas (what write_minhash_index/append_to_minhash_
# index put on disk): data columns in file order, then the band
# partition column. Probes pass these explicitly so planning never
# re-reads footers.
_BANDS_AT_REST = "doc_id bigint, bh string, band int"
_SHINGLES_AT_REST = "doc_id bigint, hset array<bigint>, sz int"


def write_minhash_index(corpus: DataFrame, path: str) -> None:
    """Materialize the LSH index at rest: the band table partitioned by
    ``band`` (a probe's equi-join prunes to the band directories it
    touches — PartitionFilters, the layout.py IVF-store pattern) plus
    per-doc hashed shingle sets + sizes for the exact-verify pass.
    Index size is O(n_docs * (n_bands + shingles)), independent of text
    length; building it is the same map-only signature pass as q23."""
    arrs = shingle_arrays(corpus)
    band_table(minhash_signature(arrs)).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(f"{path}/bands")
    arrs.select("doc_id", "hset", "sz").write.mode("overwrite").parquet(
        f"{path}/shingles"
    )


def duplicated_spans(
    df: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence-level dedup signal (the ExactSubstr complement of
    doc-level dedup, after "Deduplicating Training Data Makes Language
    Models Better"): per document, how many of its ``width``-token
    windows appear verbatim in ANOTHER document. Doc-level LSH misses
    boilerplate and quotations shared across otherwise-distinct docs;
    this catches exactly those.

    Shape: token array materialized once (the O(len^2) inlining trap);
    window hashes are md5 over the joined span — row-local transform,
    one hash per token position. The exchange then carries
    (span-hash, doc) pairs; map-side partials collapse same-doc
    repeats before the shuffle, the cross-doc hash set comes from one
    count-distinct agg, and per-doc counts join back on the 16-byte
    hash. At 100 TB add a stride (hash every k-th position) and a
    df cap on pathological boilerplate hashes — both subsample the
    same pipeline, no new shape. Within-doc-only repeats are NOT
    counted (that is ``repetition_signals``' job).

    Returns (id_col, n_windows, n_dup, dup_span_frac).
    """
    toks = F.col("__toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (width - 1))
    wins = F.transform(
        idx,
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, width))),
    )
    base = df.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.when(n >= width, wins)
        .otherwise(F.array().cast("array<string>"))
        .alias("wins"),
    )
    # the exploded hash table feeds THREE branches (cross-doc set,
    # per-doc totals, dup counts); without a persist the tokenize +
    # per-window md5 pipeline — the dominant cost — runs once per
    # branch (Spark has no cross-branch subplan reuse)
    ex = managed_persist(
        base.select(id_col, F.explode_outer("wins").alias("h")),
        "dedup.spans.ex",
    )
    cross = (
        ex.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    tot = ex.groupBy(id_col).agg(F.count("h").alias("n_windows"))
    dup = (
        ex.join(cross, "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        tot.join(dup, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.when(
                F.col("n_windows") > 0,
                F.coalesce("n_dup", F.lit(0))
                / F.col("n_windows").cast("double"),
            ).otherwise(F.lit(0.0)).alias("dup_span_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    width: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr REMOVAL — the second half of "Deduplicating Training
    Data Makes Language Models Better" (Lee et al. 2022, public method).
    ``duplicated_spans`` only measures the cross-document duplicated-
    window mass; this operator actually rewrites the corpus: every
    token position covered by a non-canonical occurrence of a
    cross-document duplicate window is cut, and each document is
    reassembled from its surviving tokens in order.

    Policy (each clause deterministic and oracle-replayable):
      - window = ``width`` consecutive whitespace tokens, hashed md5
        over the space-joined span (identical to ``duplicated_spans``);
      - a hash qualifies only if it appears in >= 2 DISTINCT documents
        (within-doc repeats are ``repetition_signals``' jurisdiction);
      - the CANONICAL occurrence of a qualifying hash is the global
        minimum (doc_id, position) — its tokens stay; every other
        occurrence marks positions [i, i+width-1] as covered;
      - a token is removed iff covered by ANY non-canonical occurrence
        (a canonical span can still lose tokens to a different
        overlapping duplicate — removal is position-wise, not
        span-wise, exactly as suffix-array cutting behaves);
      - documents shorter than ``width`` tokens pass through unchanged
        (no windows), and reassembly join-normalizes whitespace on
        every path so short and long docs are comparable.

    Scale shape: the window-hash explode is row-local; ONE hash-keyed
    aggregation produces both the distinct-doc count and the canonical
    argmin (min of struct(doc, pos) — no second shuffle for keep-first);
    covered positions collapse to a per-doc set (bounded by the doc's
    own token count, never corpus-scaled) in one doc-keyed shuffle, and
    the cut + reassembly is a pure indexed array filter on the doc row
    — no token explode, no anti-join. Content hashes are uniform so no
    skew salting is needed; at 100 TB add the same stride/df-cap
    subsampling documented on ``duplicated_spans``.

    Returns (id_col, n_tokens, n_removed, cleaned_text).
    """
    toks = F.col("__toks")
    n = F.size(toks)
    base = managed_persist(
        df.select(
            F.col(id_col),
            whitespace_tokens(F.col(text_col)).alias("__toks"),
        ),
        "dedup.rmspans.base",
    )
    # wins feeds BOTH the qualifier agg and the covered-position join;
    # persist so the per-window md5 pipeline (the dominant CPU) runs
    # once (the duplicated_spans precedent).
    wins = managed_persist(
        base.select(
            F.col(id_col),
            F.posexplode(
                F.when(
                    n >= width,
                    F.transform(
                        F.sequence(F.lit(1), n - (width - 1)),
                        lambda i: F.md5(
                            F.concat_ws(" ", F.slice(toks, i, width))
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("p0", "h"),
        ).select(F.col(id_col), (F.col("p0") + 1).alias("i"), "h"),
        "dedup.rmspans.wins",
    )
    # One agg yields BOTH the cross-doc qualifier and the canonical
    # (keep-first) occurrence — argmin via min(struct(doc, pos)).
    dup = (
        wins.groupBy("h")
        .agg(
            F.count_distinct(F.col(id_col)).alias("nd"),
            F.min(F.struct(F.col(id_col).alias("d"), F.col("i").alias("i")))
            .alias("keep"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "keep")
    )
    # Covered positions collapse to ONE per-doc set (bounded by the
    # doc's own token count — row-local state, never corpus-scaled);
    # the cut + reassembly is then a pure indexed array filter on the
    # doc row — no token explode, no anti-join, no collect_list sort.
    cov = (
        wins.join(dup, "h")
        .filter(
            ~(
                (F.col(id_col) == F.col("keep.d"))
                & (F.col("i") == F.col("keep.i"))
            )
        )
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (width - 1))
            ).alias("p"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("p").alias("__cov"))
    )
    empty = F.array().cast("array<int>")
    kept = F.filter(
        toks,
        lambda t, ix: ~F.array_contains(
            F.coalesce(F.col("__cov"), empty), (ix + 1).cast("int")
        ),
    )
    return base.join(cov, id_col, "left").select(
        F.col(id_col),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )


def append_to_minhash_index(
    survivors: DataFrame, path: str, arrs: DataFrame | None = None
) -> None:
    """Append admitted docs' bands + hashed shingle sets to the at-rest
    index — the step that makes ingestion incremental: once a batch's
    survivors are appended, a re-submitted copy of the batch probes the
    index, matches itself at jaccard 1.0, and produces ZERO survivors
    (idempotent admission; test-pinned). Same map-only signature pass
    and band-partitioned layout as ``write_minhash_index``, written in
    append mode — at 100 TB this is a per-batch incremental write, the
    reference's upload-then-skip membership update (main.py:60-71)
    without ever rescanning the corpus.

    ``survivors`` must carry (doc_id, text) with doc_ids disjoint from
    everything already in the index (document contract).

    ``arrs``: optionally the precomputed ``shingle_arrays(survivors)``
    (pre-filtered to the survivor set) — an ingest loop that already
    shingled the batch for its probe passes it here so the signature
    pass isn't recomputed per consumer (q136's per-micro-batch shape).
    """
    if arrs is None:
        arrs = shingle_arrays(survivors)
    else:
        arrs = arrs.join(survivors.select("doc_id"), "doc_id", "left_semi")
    band_table(minhash_signature(arrs)).write.mode("append").partitionBy(
        "band"
    ).parquet(f"{path}/bands")
    arrs.select("doc_id", "hset", "sz").write.mode("append").parquet(
        f"{path}/shingles"
    )


def delete_from_minhash_index(doc_ids: DataFrame, path: str) -> None:
    """Retract documents from the at-rest index WITHOUT rewriting it:
    the doc_ids are appended to a tombstone table the probe
    anti-joins. This is the content-removal / takedown shape at
    100 TB — deletion is an O(deleted) append, the band/shingle data
    stays untouched until ``compact_minhash_index`` folds the
    tombstones in during scheduled maintenance (the same
    tombstone-then-compact lifecycle as log-structured stores).
    A doc deleted and later re-admitted needs a NEW doc_id (the
    tombstone is by id, the usual immutable-ingest contract).
    """
    doc_ids.select("doc_id").write.mode("append").parquet(
        f"{path}/tombstones"
    )


def _index_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The index's tombstone set, or None if nothing was ever deleted.
    Existence is probed through the Hadoop FileSystem API, not
    os.path — the index root may be an object-store URI, and the FS
    resolved from the path handles every scheme Spark itself can read
    (OPTIMIZATION r11: the former probe BUILT a full parquet read and
    caught its PATH_NOT_FOUND AnalysisException — analysis + exception
    construction on every probe of a healthy, tombstone-free index;
    fs.exists is one metadata RPC). Failure semantics are unchanged:
    only not-found maps to None — expired credentials, transient store
    errors, or a corrupt footer on the later read still propagate, so
    a flaky store can never silently resurrect retracted docs."""
    p = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    return spark.read.parquet(f"{path}/tombstones")


def compact_minhash_index(spark: SparkSession, path: str) -> None:
    """Fold tombstones into the physical index: rewrite bands and
    shingles minus the deleted docs, then drop the tombstone table.
    The rewrite materializes to a sibling directory first and swaps —
    overwriting a parquet dir from a plan that reads it would corrupt
    the source mid-scan. The swap parks the old dir aside BEFORE the
    new one moves in and deletes it last, so a crash at any point
    leaves either a complete old or a complete new table on disk
    (plus at worst a recoverable ``__old`` sibling). The swap is
    directory-rename based and therefore LOCAL-FS maintenance; on an
    object store, point the rewrite at a fresh index root and flip
    the reader's pointer instead (renames there are copies, and no
    multi-object commit is atomic). Probe results are identical
    before and after (test-pinned); compaction only reclaims space
    and restores probe-side anti-join-free scans."""
    import shutil as _shutil

    ts = _index_tombstones(spark, path)
    if ts is None:
        return
    ts = F.broadcast(ts.select("doc_id").distinct())
    for sub, part in (("bands", "band"), ("shingles", None)):
        src = spark.read.parquet(f"{path}/{sub}")
        kept = src.join(ts, "doc_id", "left_anti")
        if kept.isEmpty():
            # a full takedown must still leave a READABLE (schema-only)
            # table: with rows, partitionBy writes per-key dirs, but an
            # empty write would emit only _SUCCESS (dynamic partition
            # dirs need rows) and brick every later probe at schema
            # inference. The schema-only file must ALSO keep the
            # partitioned layout: a root-level data file next to later
            # band=N/ appends fails partition discovery ("conflicting
            # directory structures") and would brick every probe after
            # a takedown→append sequence (ADVICE r5 item 1). So the
            # empty case writes one schema-only file (minus the
            # partition column) UNDER a literal key=0 directory —
            # discovery then sees a normal partitioned table whose one
            # partition is empty, and future partitioned appends land
            # as sibling key dirs.
            dst = f"{path}/{sub}__compact"
            if part:
                dst = f"{dst}/{part}=0"
                kept = kept.drop(part)
            kept.repartition(1).write.mode("overwrite").parquet(dst)
        else:
            w = kept.write.mode("overwrite")
            if part:
                w = w.partitionBy(part)
            w.parquet(f"{path}/{sub}__compact")
        _shutil.move(f"{path}/{sub}", f"{path}/{sub}__old")
        _shutil.move(f"{path}/{sub}__compact", f"{path}/{sub}")
        _shutil.rmtree(f"{path}/{sub}__old")
    _shutil.rmtree(f"{path}/tombstones")


def dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    threshold: float = 0.5,
    arrs: DataFrame | None = None,
) -> DataFrame:
    """Annotate a new batch against the at-rest index: for each new doc
    (doc_id, text), the number of LSH candidates the index produced and
    the max exact jaccard among them. ``survived`` (no candidate at or
    above ``threshold``) marks docs safe to admit; appending their
    bands/shingles to the index is what makes ingestion incremental.

    ``arrs``: optionally the precomputed ``shingle_arrays(new_docs)``
    (e.g. a persisted copy an ingest loop shares with its append step
    so the tokenize+shingle+hash pass runs once per batch, not once
    per consumer).

    Shape: the probe shuffles on (band, bh) against the stored band
    table, verification joins hashed shingle sets for CANDIDATES only
    (never all pairs), and the corpus text is never read. doc_id spaces
    must be disjoint between batch and index (document contract).
    ``max_jaccard`` is -1.0 for docs with zero candidates.
    """
    arrs_new = shingle_arrays(new_docs) if arrs is None else arrs
    bands_new = band_table(minhash_signature(arrs_new))
    # the index layout is this module's own (write_minhash_index /
    # append_to_minhash_index), so its schema is KNOWN — passing it
    # skips parquet footer inference at plan time, a per-probe driver
    # cost that an ingest loop (q136: one probe per micro-batch) pays
    # on every batch (OPTIMIZATION r11, guide §6)
    idx_b = spark.read.schema(_BANDS_AT_REST).parquet(
        f"{index_path}/bands"
    )
    ts = _index_tombstones(spark, index_path)
    if ts is not None:
        # retracted docs must not produce candidates (verification
        # only ever joins shingles for candidate ids, so excluding
        # them here excludes them everywhere); tombstone sets are tiny
        # vs the index, so the exclusion is a broadcast anti-join
        ts = F.broadcast(ts.select("doc_id").distinct())
        idx_b = idx_b.join(ts, "doc_id", "left_anti")
    idx_b = idx_b.select(F.col("doc_id").alias("idx_id"), "band", "bh")
    cand = (
        bands_new.withColumnRenamed("doc_id", "new_id")
        .join(idx_b, ["band", "bh"])
        .select("new_id", "idx_id")
        .distinct()
    )
    a = arrs_new.select(
        F.col("doc_id").alias("new_id"),
        F.col("hset").alias("ha"),
        F.col("sz").alias("za"),
    )
    b = spark.read.schema(_SHINGLES_AT_REST).parquet(
        f"{index_path}/shingles"
    ).select(
        F.col("doc_id").alias("idx_id"),
        F.col("hset").alias("hb"),
        F.col("sz").alias("zb"),
    )
    icnt = F.size(F.array_intersect("ha", "hb"))
    scored = (
        cand.join(a, "new_id")
        .join(b, "idx_id")
        .select(
            "new_id",
            (
                icnt.cast("double")
                / (F.col("za") + F.col("zb") - icnt)
            ).alias("j"),
        )
    )
    agg = scored.groupBy("new_id").agg(
        F.count(F.lit(1)).alias("n_cand"), F.max("j").alias("max_j")
    )
    return (
        new_docs.select("doc_id")
        .join(agg, new_docs.doc_id == agg.new_id, "left")
        .select(
            "doc_id",
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
            F.coalesce("max_j", F.lit(-1.0)).alias("max_jaccard"),
            (
                F.col("max_j").isNull()
                | (F.col("max_j") < F.lit(threshold))
            ).alias("survived"),
        )
    )


def paragraph_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style paragraph-level corpus dedup (Wenzek et al. 2020
    §3.1, public method): hash each NORMALIZED paragraph corpus-wide
    and keep only its first occurrence — the standard boilerplate
    remover (cookie banners, subscribe footers, nav text) that exact
    whole-document dedup cannot touch.

    Policy (sources/ccnet_fixture.py documents it as data):
    paragraphs split on newline; normalization = lower + strip
    non-alphanumerics + collapse whitespace + trim; empty-normalizing
    paragraphs are non-content (dropped before dedup, counted
    nowhere); keep-first = min (doc_id, position) per normalized
    form; documents left with zero paragraphs drop out.

    Scale shape (the CCNet design itself): exactly TWO shuffles —
    one hash-partition on md5(normalized paragraph) with a
    partition-local sort for the keep-first window (never a global
    sort), one re-group on the document key to reassemble. The
    within-group state is one row_number; reassembly carries only
    surviving (pos, para) pairs. Paragraph-hash keys are
    content-hashes — uniformly distributed, no skew salting needed;
    a hot boilerplate paragraph's group is large but the window
    computes rank-1 with a streaming sort, not a materialized group.

    Returns (id_col, clean_text, n_paras_in, n_paras_kept) for
    surviving documents.
    """
    paras = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "pos", "para"
            ),
        )
        .withColumn(
            "__norm",
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("para")), "[^a-z0-9\\s]", ""
                    ),
                    "\\s+",
                    " ",
                )
            ),
        )
        .filter(F.col("__norm") != "")
    )
    w = Window.partitionBy(F.md5(F.col("__norm"))).orderBy(id_col, "pos")
    flagged = paras.withColumn("__rn", F.row_number().over(w))
    kept = F.sort_array(
        F.collect_list(
            F.when(
                F.col("__rn") == 1, F.struct(F.col("pos"), F.col("para"))
            )
        )
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_paras_in"),
            kept.alias("__kept"),
        )
        .withColumn("n_paras_kept", F.size("__kept"))
        .filter(F.col("n_paras_kept") > 0)
        .withColumn(
            "clean_text",
            F.concat_ws(
                "\n", F.transform(F.col("__kept"), lambda s: s["para"])
            ),
        )
        .select(
            id_col, "clean_text", "n_paras_in",
            F.col("n_paras_kept").cast("int").alias("n_paras_kept"),
        )
    )
