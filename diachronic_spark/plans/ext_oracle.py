"""DuckDB oracle SQL for the extension queries q23-q100.

The dedup oracles rebuild the exact md5-seeded minhash / simhash
pipeline in SQL (list comprehensions give the same sequential
semantics as Spark's higher-order functions). q32's oracle checks the
mapInPandas feature extraction against pure SQL byte math.
"""

from __future__ import annotations

EXT_ORACLE: dict[str, str] = {}

# Shared corpus/shingle CTE text (word 3-gram shingles, near-dup
# augmentation mirroring operators/dedup.py).
_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(list_slice(words, 1, greatest(len(words) - 1, 1)), ' ') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
        FROM documents WHERE doc_id < 50)
)"""

_SHINGLES = """
tk AS (SELECT doc_id,
              list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
       FROM corpus),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(list_slice(w, i, i + 2), ' ')
                 FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS shingle
  FROM tk
)"""

# One 32-bit base hash per shingle (first 8 md5 hex chars, decoded
# nibble-by-nibble — portable, no hex-cast builtin needed), then the
# same affine rehash family as operators/dedup.py.
from ..operators.dedup import MINHASH_A, MINHASH_P  # noqa: E402

def _h32(col: str) -> str:
    """Portable 32-bit md5-prefix hash of a SQL expression: first 8
    hex chars decoded nibble-by-nibble (no hex-cast builtin needed) —
    the SQL twin of the engine's md5-substring/_base32 hashing. One
    generator for every hashed column, so the decode expression can't
    drift between oracles."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring(md5({col}), {p + 1}, 1))"
        f" - 1) * {16 ** (7 - p)}"
        for p in range(8)
    )


_H32 = _h32("shingle")
_MINHASH_COLS = ", ".join(
    f"min((({_H32}) * {MINHASH_A[i]} + {i}) % {MINHASH_P}) AS h{i}"
    for i in range(8)
)
_BANDS = "\nUNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS bh FROM sig"
    for b in range(4)
)

EXT_ORACLE["q23"] = f"""
WITH {_CORPUS}, {_SHINGLES},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BANDS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS icnt
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
  GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b,
       round(icnt / (za.sz + zb.sz - icnt), 2) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE icnt / (za.sz + zb.sz - icnt) >= 0.5
ORDER BY doc_a, doc_b
"""

_H32TOK = "(" + _h32("tok") + ")"
_VOTES = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(32)
)
_SIMHASH_SUM = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32)
)


def _simhash_sql(corpus_sql: str) -> str:
    return f"""
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            x -> x <> '')) AS tok
  FROM {corpus_sql}),
hashed AS (SELECT doc_id, {_H32TOK} AS h FROM toks),
votes AS (SELECT doc_id, {_VOTES} FROM hashed GROUP BY doc_id),
sims AS (SELECT doc_id, CAST({_SIMHASH_SUM} AS BIGINT) AS simhash
         FROM votes)"""


EXT_ORACLE["q24"] = f"""
WITH {_simhash_sql('documents')}
SELECT doc_id, simhash FROM sims ORDER BY doc_id
"""

_HAMMING = (
    "CAST(list_sum([(xor(sh_a, sh_b) >> b) & 1 "
    "FOR b IN generate_series(0, 31)]) AS INTEGER)"
)

EXT_ORACLE["q25"] = f"""
WITH {_CORPUS}, {_simhash_sql('corpus')},
nib AS (
  SELECT doc_id, simhash, i AS ni, (simhash >> (i * 16)) & 65535 AS nv
  FROM sims, range(0, 2) t(i)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM nib a JOIN nib b
    ON a.ni = b.ni AND a.nv = b.nv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, {_HAMMING} AS hamming
FROM cand
WHERE {_HAMMING} <= 1
ORDER BY doc_a, doc_b
"""

EXT_ORACLE["q26"] = f"""
WITH {_CORPUS}, {_SHINGLES},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 5),
shr AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
  FROM shr sa JOIN shr sb
    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS icnt
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
  GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b,
       round(icnt / (za.sz + zb.sz - icnt), 2) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE icnt / (za.sz + zb.sz - icnt) >= 0.3
ORDER BY doc_a, doc_b
"""

_COS = (
    "list_sum([{a}[i]::DOUBLE * {b}[i]::DOUBLE FOR i IN generate_series(1, 64)])"
    " / (sqrt(list_sum([{a}[i]::DOUBLE * {a}[i]::DOUBLE"
    " FOR i IN generate_series(1, 64)]))"
    " * sqrt(list_sum([{b}[i]::DOUBLE * {b}[i]::DOUBLE"
    " FOR i IN generate_series(1, 64)])))"
)

EXT_ORACLE["q27"] = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
cent AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS c
  FROM embeddings, range(1, 65) t(i)
  GROUP BY label, i),
carr AS (SELECT label, list(c ORDER BY i) AS centroid FROM cent GROUP BY label),
best AS (
  SELECT label FROM carr, q
  ORDER BY {_COS.format(a='centroid', b='qe')} DESC, label ASC
  LIMIT 1)
SELECT vec_id, round({_COS.format(a='embedding', b='qe')}, 4) AS cos_sim
FROM embeddings, q
WHERE label = (SELECT label FROM best) AND vec_id <> 7
ORDER BY cos_sim DESC, vec_id
LIMIT 5
"""

_SW = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "les", "de", "et", "est", "que", "un"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}
_SCORES = ", ".join(
    "len(list_filter(w, x -> list_contains(["
    + ", ".join(f"'{t}'" for t in _SW[lang])
    + f"], x))) AS s_{lang}"
    for lang in _SW
)
_MAXS = "greatest(" + ", ".join(f"s_{la}" for la in _SW) + ")"
_PRED = (
    "CASE "
    + " ".join(f"WHEN s_{la} = m THEN '{la}'" for la in sorted(_SW))
    + " END"
)

EXT_ORACLE["q28"] = f"""
WITH t AS (
  SELECT lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
s AS (SELECT lang, {_SCORES} FROM t),
p AS (SELECT lang, {_MAXS} AS m, * FROM s),
pred AS (SELECT lang, {_PRED} AS predicted_lang FROM p)
SELECT lang, predicted_lang, count(*) AS n
FROM pred GROUP BY lang, predicted_lang
ORDER BY lang, predicted_lang
"""

_ALL_SW = ", ".join(
    f"'{t}'" for ws in _SW.values() for t in ws
)

EXT_ORACLE["q29"] = f"""
WITH t AS (
  SELECT source, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
m AS (
  SELECT source,
         len(w) AS n_words,
         CASE WHEN len(w) > 0
              THEN list_sum(list_transform(w, x -> length(x))) / len(w)::DOUBLE
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                   / length(text)::DOUBLE
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(w) > 0
              THEN len(list_filter(w, x -> list_contains([{_ALL_SW}], x)))
                   / len(w)::DOUBLE
              ELSE 0.0 END AS stopword_ratio
  FROM t)
SELECT source,
       round(avg(n_words), 2)        AS avg_words,
       round(avg(mean_word_len), 2)  AS avg_word_len,
       round(avg(punct_ratio), 2)    AS avg_punct_ratio,
       round(avg(stopword_ratio), 2) AS avg_stopword_ratio,
       CAST(sum(CASE WHEN n_words < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
FROM m GROUP BY source ORDER BY source
"""

EXT_ORACLE["q30"] = """
WITH t AS (
  SELECT lang,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
           AS n_re_tokens
  FROM documents)
SELECT lang,
       CAST(sum(n_ws_tokens) AS BIGINT) AS sum_ws_tokens,
       CAST(sum(n_re_tokens) AS BIGINT) AS sum_re_tokens,
       round(avg(n_re_tokens / n_ws_tokens::DOUBLE), 2) AS avg_re_per_ws
FROM t GROUP BY lang ORDER BY lang
"""

# q31: polynomial rolling-hash fingerprint (Horner fold of code
# points, B=131, P=2^31-1) — replays the identical fold with
# list_reduce over the same code-point slices.
EXT_ORACLE["q31"] = """
WITH c AS (
  SELECT doc_id,
         [ord(x)::BIGINT FOR x IN string_split(text, '')] AS codes,
         greatest(length(text) - 15, 1) AS last_start
  FROM documents)
SELECT doc_id,
       list_min([list_reduce(
                   list_prepend(0::BIGINT, list_slice(codes, i, i + 15)),
                   (acc, ch) -> (acc * 131 + ch) % 2147483647)
                 FOR i IN generate_series(1, last_start, 4)]) AS fp,
       CAST(len(generate_series(1, last_start, 4)) AS INTEGER) AS n_grams
FROM c
ORDER BY doc_id
"""

EXT_ORACLE["q32"] = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       sha256(text) AS sha_hex,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
       CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INTEGER) AS height
FROM documents
ORDER BY doc_id
"""

EXT_ORACLE["q33"] = """
WITH e AS (
  SELECT user_id AS k, ts - INTERVAL 29 YEAR AS ets, event_id, event_type
  FROM events),
o1 AS (
  SELECT k, o_orderdate, o_totalprice FROM (
    SELECT o_custkey AS k, o_orderdate, o_totalprice,
           row_number() OVER (
             PARTITION BY o_custkey, o_orderdate
             ORDER BY o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1),
j AS (
  SELECT e.event_type, e.ets, o1.o_orderdate, o1.o_totalprice
  FROM e ASOF LEFT JOIN o1
    ON e.k = o1.k AND e.ets >= o1.o_orderdate)
SELECT event_type,
       count(*) AS n_events,
       count(o_orderdate) AS n_matched,
       round(avg((epoch_us(ets) - epoch_us(o_orderdate))
                 / 1000000.0 / 86400.0), 2) AS avg_gap_days,
       round(sum(o_totalprice), 2) AS sum_matched_price
FROM j GROUP BY event_type ORDER BY event_type
"""

EXT_ORACLE["q34"] = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY user_id ORDER BY user_id
"""

EXT_ORACLE["q35"] = """
WITH a AS (
  SELECT l_returnflag,
         avg(l_quantity)                                   AS mu,
         avg(l_quantity * l_quantity)                      AS ex2,
         avg(l_quantity * l_quantity * l_quantity)         AS ex3,
         avg(l_quantity * l_quantity * l_quantity * l_quantity) AS ex4,
         stddev_samp(l_quantity)                           AS sd,
         var_samp(l_quantity)                              AS vr,
         quantile_cont(l_quantity, 0.5)                    AS p50,
         quantile_cont(l_quantity, 0.9)                    AS p90
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       round(sd, 2) AS sd_qty,
       round(vr, 2) AS var_qty,
       round((ex3 - 3 * mu * ex2 + 2 * mu * mu * mu)
             / pow(ex2 - mu * mu, 1.5), 2) + 0.0 AS skew_qty,
       round((ex4 - 4 * mu * ex3 + 6 * mu * mu * ex2
              - 3 * mu * mu * mu * mu)
             / pow(ex2 - mu * mu, 2) - 3, 2) + 0.0 AS kurt_qty,
       round(p50, 2) AS p50_qty,
       round(p90, 2) AS p90_qty
FROM a ORDER BY l_returnflag
"""

EXT_ORACLE["q36"] = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*) AS n_items,
       CAST(grouping(l_returnflag, l_linestatus) AS INTEGER) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""

# q37: brute-force cosine pairs over the augmented vector set. The
# Spark side is LSH-accelerated but exact-verified, so brute force is
# the right oracle (recall gap ~1e-7 per true pair; see
# operators/similarity.py::cosine_near_dup_pairs).
EXT_ORACLE["q37"] = """
WITH aug AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(64),
             i -> embedding[i+1]::DOUBLE + ((vec_id*64 + i) % 7 - 3) * 0.005)
  FROM embeddings WHERE vec_id < 50
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.emb, b.emb), 2) + 0.0 AS cos_sim
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.99
ORDER BY vec_a, vec_b
"""

EXT_ORACLE["q38"] = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT s_nationkey FROM supplier WHERE s_acctbal < 0
ORDER BY nationkey
"""

EXT_ORACLE["q39"] = """
WITH r AS (
  SELECT p_brand, p_partkey, p_size,
         rank()         OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS rnk,
         dense_rank()   OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS drnk,
         round(percent_rank() OVER (PARTITION BY p_brand
                                    ORDER BY p_size DESC, p_partkey), 2) + 0.0 AS prnk,
         ntile(4)       OVER (PARTITION BY p_brand
                              ORDER BY p_size DESC, p_partkey) AS quartile
  FROM part)
SELECT * FROM r WHERE rnk <= 5 ORDER BY p_brand, p_partkey
"""

EXT_ORACLE["q40"] = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                        (l_returnflag, l_linestatus))
ORDER BY gid, l_returnflag, l_linestatus
"""

EXT_ORACLE["q41"] = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
           RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS rev_30d
FROM orders
WHERE o_custkey < 200
ORDER BY o_custkey, o_orderkey
"""

EXT_ORACLE["q42"] = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_exact,
       TRUE AS approx_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# q43: identical md5-derived bucket (first 8 hex chars of md5 of the
# doc_id rendered as a string, decoded nibble-wise) mod 10.
_H32_DOCID = _h32("doc_id::VARCHAR")

EXT_ORACLE["q43"] = f"""
WITH s AS (
  SELECT lang,
         CASE WHEN ({_H32_DOCID}) % 10 < 8 THEN 'train'
              WHEN ({_H32_DOCID}) % 10 < 9 THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, lang, count(*) AS n_docs
FROM s GROUP BY split, lang
ORDER BY split, lang
"""

EXT_ORACLE["q44"] = """
WITH n AS (
  SELECT trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
           '\\s+', ' ', 'g')) AS norm_text
  FROM documents),
t AS (
  SELECT unnest(list_filter(string_split(norm_text, ' '), x -> x <> ''))
         AS tok
  FROM n)
SELECT tok, count(*) AS n
FROM t GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
"""

EXT_ORACLE["q45"] = """
WITH d AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_toks
  FROM documents),
c AS (
  SELECT source, n_toks,
         sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_toks
  FROM d)
SELECT source,
       count(DISTINCT ((cum_toks - 1) // 2048)) AS n_bins,
       CAST(sum(n_toks) AS BIGINT) AS total_toks,
       round(sum(n_toks) / (count(DISTINCT ((cum_toks - 1) // 2048)) * 2048.0), 2)
         + 0.0 AS fill_ratio
FROM c GROUP BY source
ORDER BY source
"""

# q46: contamination semantics over raw documents (no augmentation);
# string shingles — the Spark side's xxhash64 set is injective modulo
# 2^-64 collisions (zero on the fixtures).
EXT_ORACLE["q46"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(list_slice(w, i, i + 2), ' ')
                 FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS shingle
  FROM tk),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
hits AS (
  SELECT s.doc_id, count(*) AS n_overlap
  FROM sh s JOIN bench b USING (shingle)
  WHERE s.doc_id >= 10
  GROUP BY s.doc_id)
SELECT h.doc_id, n_overlap,
       round(n_overlap / z.sz, 2) + 0.0 AS overlap_ratio
FROM hits h JOIN sizes z ON z.doc_id = h.doc_id
ORDER BY h.doc_id
"""

EXT_ORACLE["q47"] = """
WITH r AS (
  SELECT p_brand,
         first_value(p_partkey) OVER w AS largest_part,
         last_value(p_partkey)  OVER w AS smallest_part,
         nth_value(p_partkey, 3) OVER w AS third_part,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_size DESC, p_partkey) AS rn
  FROM part
  WINDOW w AS (PARTITION BY p_brand ORDER BY p_size DESC, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
SELECT p_brand, largest_part, smallest_part, third_part
FROM r WHERE rn = 1 ORDER BY p_brand
"""

EXT_ORACLE["q48"] = """
SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5
                   FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
ORDER BY c_custkey
"""

EXT_ORACLE["q49"] = """
SELECT l_returnflag,
       round(exp(avg(ln(l_quantity))), 2) AS geo_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

EXT_ORACLE["q50"] = """
WITH p AS (
  SELECT event_type,
         len(json_keys(props)) AS n_keys,
         CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
         (SELECT sum(CAST(json_extract(props, '$.' || key) AS INTEGER))
          FROM unnest(json_keys(props)) t(key)) AS vals_sum
  FROM events)
SELECT event_type,
       CAST(sum(n_keys) AS BIGINT) AS total_keys,
       count(k_val) AS n_with_k,
       CAST(sum(k_val) AS BIGINT) AS sum_k,
       CAST(sum(vals_sum) AS BIGINT) AS sum_all_vals
FROM p GROUP BY event_type
ORDER BY event_type
"""


def _kmeans_chain(
    v_cte: str, k: int | str, n_iter: int, dim: int, rnd: int
) -> tuple[list[str], str]:
    # ``k`` may be an int literal or a scalar-subquery SQL expression
    # (DuckDB allows LIMIT (SELECT ...)) — it appears ONLY in the
    # init CTE's LIMIT, so a dynamic k needs no other change.
    """Unrolled Lloyd's k-means CTE chain over a ``v(vec_id,
    embedding)`` relation, mirroring operators/similarity.py kmeans()
    CTE-for-CTE — shared by the q51 IVF oracle and the q141 SemDeDup
    oracle (different corpora, identical fit).

    Each iteration is (argmax-cosine assignment, element-wise mean
    rounded to ``rnd`` dp); rounding is what keeps Spark's and DuckDB's
    summation-order float drift from ever flipping an assignment.
    Returns (ctes, final_assignment_cte_name)."""
    ctes = [
        v_cte,
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         [round(embedding[i]::DOUBLE, {rnd}) FOR i IN generate_series(1, {dim})] AS c
  FROM (SELECT vec_id, embedding FROM v ORDER BY vec_id LIMIT {k}))""",
    ]
    for it in range(n_iter):
        cos = _COS.format(a="v.embedding", b=f"c{it}.c")
        ctes.append(f"""a{it} AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c{it}.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos} DESC, c{it}.cell ASC) AS rn
    FROM v, c{it}) WHERE rn = 1)""")
        ctes.append(f"""c{it + 1} AS (
  SELECT cell, list(m ORDER BY i) AS c FROM (
    SELECT a{it}.cell AS cell, i, round(avg(v.embedding[i]::DOUBLE), {rnd}) AS m
    FROM v JOIN a{it} USING (vec_id), range(1, {dim + 1}) t(i)
    GROUP BY a{it}.cell, i)
  GROUP BY cell)""")
    fin = _COS.format(a="v.embedding", b=f"c{n_iter}.c")
    ctes.append(f"""a{n_iter} AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c{n_iter}.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {fin} DESC, c{n_iter}.cell ASC) AS rn
    FROM v, c{n_iter}) WHERE rn = 1)""")
    return ctes, f"a{n_iter}"


def _kmeans_ivf_sql(
    k: int = 8,
    n_iter: int = 3,
    n_probe: int = 2,
    qid: int = 7,
    topk: int = 5,
    dim: int = 64,
    rnd: int = 6,
) -> str:
    """Unrolled k-means (see _kmeans_chain) + the IVF probe, mirroring
    operators/similarity.py ivf_topk_with_cells()."""
    ctes, _ = _kmeans_chain(
        "v AS (SELECT vec_id, embedding FROM embeddings)",
        k, n_iter, dim, rnd,
    )
    ctes.append(f"q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {qid})")
    probe_cos = _COS.format(a=f"c{n_iter}.c", b="qe")
    ctes.append(f"""probe AS (
  SELECT cell FROM c{n_iter}, q
  ORDER BY {probe_cos} DESC, cell ASC LIMIT {n_probe})""")
    out_cos = _COS.format(a="embeddings.embedding", b="qe")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vec_id, round({out_cos}, 4) AS cos_sim
FROM embeddings JOIN a{n_iter} USING (vec_id), q
WHERE cell IN (SELECT cell FROM probe) AND vec_id <> {qid}
ORDER BY cos_sim DESC, vec_id
LIMIT {topk}"""
    )


EXT_ORACLE["q51"] = _kmeans_ivf_sql()

# q52: transitive closure of the q26 pair graph via recursive CTE —
# duplicate-class clustering with min-doc_id representatives.
EXT_ORACLE["q52"] = f"""
WITH RECURSIVE {_CORPUS}, {_SHINGLES},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 5),
shr AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
  FROM shr sa JOIN shr sb
    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS icnt
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
  GROUP BY doc_a, doc_b),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes za ON za.doc_id = doc_a
  JOIN sizes zb ON zb.doc_id = doc_b
  WHERE icnt / (za.sz + zb.sz - icnt) >= 0.3),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
lab AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
SELECT component, count(*) AS n_docs, max(doc_id) AS max_doc
FROM lab GROUP BY component HAVING count(*) >= 2
ORDER BY component
"""

# q53: gaps-and-islands sessionization — identical window rewrite
# (lag gap flag -> running sum), integer-microsecond gap math.
EXT_ORACLE["q53"] = """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) > 21600000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM o)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       count(*) AS n_events,
       date_diff('microsecond', min(ts), max(ts)) AS duration_us,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""

# q54: hourly rollup onto a dense generate_series spine, LOCF via
# last_value IGNORE NULLS; avg rounded before the fill (as in Spark).
EXT_ORACLE["q54"] = """
WITH r AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         count(*) AS n_events,
         ((2 * sum(round(value * 100)::BIGINT) + count(*))
            // (2 * count(*))) / 100.0 AS avg_value
  FROM events GROUP BY 1, 2),
b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM r),
spine AS (
  SELECT et.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM events) et
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
              FROM b) g),
j AS (
  SELECT s.event_type, s.bucket,
         coalesce(r.n_events, 0) AS n_events, r.avg_value
  FROM spine s LEFT JOIN r USING (event_type, bucket))
SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S.%f') AS bucket,
       n_events, avg_value,
       last_value(avg_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM j ORDER BY event_type, 2
"""

# q55: stratified fixed-k sample — identical md5-of-key rank.
EXT_ORACLE["q55"] = """
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
           ORDER BY md5(doc_id::VARCHAR), doc_id) AS sample_rank
  FROM documents)
SELECT lang, sample_rank, doc_id FROM r
WHERE sample_rank <= 20
ORDER BY lang, sample_rank
"""

# q56: smoothed TF-IDF, rank by 6dp-rounded score (ulp guard) then term.
EXT_ORACLE["q56"] = """
WITH tk AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
sc AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((1.0 + nd.n) / (1.0 + dfq.dfc)) + 1.0) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN nd),
r AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
           ORDER BY round(score, 6) DESC, term) AS term_rank
  FROM sc)
SELECT doc_id, term_rank, term, round(score, 2) AS score
FROM r WHERE term_rank <= 3
ORDER BY doc_id, term_rank
"""

# q57: cumulative distinct users via first-seen flags (the standard
# running-COUNT-DISTINCT rewrite), daily grain.
EXT_ORACLE["q57"] = """
WITH f AS (
  SELECT event_id, ts, user_id,
         CASE WHEN row_number() OVER (PARTITION BY user_id
                ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_new
  FROM events),
d AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS n_events,
         count(DISTINCT user_id) AS dau,
         sum(is_new) AS new_users
  FROM f GROUP BY 1)
SELECT day, n_events, dau, CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM d ORDER BY day
"""

# q58: unpivot as the canonical UNION ALL rewrite.
EXT_ORACLE["q58"] = """
WITH a AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         round(sum(l_discount), 2) AS sum_disc
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM a
UNION ALL
SELECT l_returnflag, 'sum_disc', sum_disc FROM a
ORDER BY l_returnflag, metric
"""

# q59: ordered LISTAGG.
EXT_ORACLE["q59"] = """
SELECT n_name,
       count(*) AS n_suppliers,
       string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""

# q60: exact weekly distinct; the sketch estimate's 5%-band membership
# is a fixed fact for fixed data, so the oracle pins it TRUE.
EXT_ORACLE["q60"] = """
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
       count(DISTINCT user_id) AS exact_users,
       true AS est_within_5pct
FROM events
GROUP BY 1 ORDER BY 1
"""

# q61: JSON path access over props; integer-exact average.
EXT_ORACLE["q61"] = """
WITH k AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
       count(k) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       ((200 * sum(k) + count(k)) // (2 * count(k))) / 100.0 AS avg_k
FROM k GROUP BY event_type
ORDER BY event_type
"""

# q62: sliding-window token chunking; chunk_id = (start-1)/stride.
EXT_ORACLE["q62"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'),
                     t -> t <> '') AS toks
  FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks), 1), 24)) AS start
  FROM toks)
SELECT doc_id,
       (start - 1) // 24 AS chunk_id,
       len(list_slice(toks, start, start + 31)) AS chunk_tokens,
       array_to_string(list_slice(toks, start, start + 31), ' ')
         AS chunk_text
FROM s
ORDER BY doc_id, chunk_id
"""

# q63: int8 quantization fidelity. floor(x*s + 0.5) replays Spark's
# quantizer in pure IEEE arithmetic (see quantize_embeddings).
EXT_ORACLE["q63"] = """
WITH scaled AS (
  SELECT vec_id, embedding,
         CASE WHEN amax = 0 THEN 1.0 ELSE 127.0 / amax END AS s
  FROM (SELECT vec_id, embedding,
               list_max([abs(embedding[i]::DOUBLE)
                         FOR i IN generate_series(1, 64)]) AS amax
        FROM embeddings)),
qz AS (
  SELECT vec_id,
         [floor(embedding[i]::DOUBLE * s + 0.5) / s
          FOR i IN generate_series(1, 64)] AS dq
  FROM scaled),
q AS (SELECT dq AS qdq FROM qz WHERE vec_id = 0),
exact5 AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           list_sum([e.embedding[i]::DOUBLE * x.qe[i]::DOUBLE
                     FOR i IN generate_series(1, 64)])
           / (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                             FOR i IN generate_series(1, 64)]))
              * sqrt(list_sum([x.qe[i]::DOUBLE * x.qe[i]::DOUBLE
                               FOR i IN generate_series(1, 64)]))) AS c
    FROM embeddings e,
         (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) x
    WHERE e.vec_id <> 0
    ORDER BY c DESC, e.vec_id LIMIT 5)),
top_q AS (
  SELECT qz.vec_id,
         list_sum([qz.dq[i] * q.qdq[i] FOR i IN generate_series(1, 64)])
         / (sqrt(list_sum([qz.dq[i] * qz.dq[i]
                           FOR i IN generate_series(1, 64)]))
            * sqrt(list_sum([q.qdq[i] * q.qdq[i]
                             FOR i IN generate_series(1, 64)]))) AS cos_q_full
  FROM qz, q WHERE qz.vec_id <> 0
  ORDER BY cos_q_full DESC, qz.vec_id LIMIT 5)
SELECT vec_id,
       round(cos_q_full, 4) AS cos_q,
       vec_id IN (SELECT vec_id FROM exact5) AS in_exact_top5
FROM top_q
ORDER BY cos_q DESC, vec_id
"""

# q64: exact weekly p90 (quantile_cont matches Spark's percentile
# interpolation); the KLL estimate's 5%-band membership is a pinned
# fact for fixed data, like q60's HLL band.
EXT_ORACLE["q64"] = """
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
       round(quantile_cont(value, 0.9), 2) AS p90_exact,
       true AS est_within_5pct
FROM events
GROUP BY 1 ORDER BY 1
"""

# q65: the same recursive SQL semantics Spark runs. Since the r10
# optimization pass Spark executes it in two statements (edge build
# persisted + recursion over the cached view — see ext_queries.q65);
# the oracle keeps the ORIGINAL single-statement form, whose text is
# unchanged from every prior round.
from .ext_queries import Q65_ORACLE_SQL  # noqa: E402

EXT_ORACLE["q65"] = Q65_ORACLE_SQL

# q66: ordered funnel — min-cascade formulation (k joins). Parity with
# the Spark single-shuffle fold pins fold ≡ cascade semantics
# (first step-i event strictly after the stage-(i-1) timestamp).
EXT_ORACLE["q66"] = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
       JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
       JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS step, (SELECT count(*) FROM s1) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT count(*) FROM s3)
) ORDER BY stage
"""

# q67: weekly retention cohorts (both engines truncate weeks to ISO
# Monday; the offset division is exact because both operands are week
# starts).
EXT_ORACLE["q67"] = """
WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
           FROM events GROUP BY user_id)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', cw, date_trunc('week', e.ts)) / 7 AS INT) AS week_offset,
       count(DISTINCT e.user_id) AS n_users
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
ORDER BY 1, 2
"""

# q68: SCD2 change compression + validity intervals.
EXT_ORACLE["q68"] = """
WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
scd AS (
  SELECT user_id, event_type, ts AS vf,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
  FROM chg WHERE prev IS NULL OR prev <> event_type)
SELECT user_id, event_type,
       strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to
FROM scd ORDER BY user_id, vf
"""

# q69: column profile — the oracle is the k-pass UNION ALL form; the
# Spark side computes all four columns' stats in ONE scan + stack().
_PROF_COLS = ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
EXT_ORACLE["q69"] = (
    "SELECT * FROM (\n"
    + "\n  UNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(round(min({c}), 2) AS DOUBLE) AS min_v,
       CAST(round(max({c}), 2) AS DOUBLE) AS max_v FROM lineitem"""
        for c in _PROF_COLS
    )
    + "\n) ORDER BY col_name"
)

# q70: PII injection + redaction audit. Injection CASE mirrors
# operators/text.py::inject_pii verbatim; patterns are in the
# Java-regex ∩ RE2 subset so replace/extract counts agree.
_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}"
_PHONE = "\\b555-[0-9]{4}\\b"
EXT_ORACLE["q70"] = """
WITH inj AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 7 = 0
              THEN text || printf(' contact user%d@example.com or 555-%04d',
                                  doc_id, doc_id % 10000)
              ELSE text END AS text
  FROM documents),
red AS (
  SELECT lang, text,
         len(regexp_extract_all(text, '__EMAIL__')) AS n_emails,
         len(regexp_extract_all(text, '__PHONE__')) AS n_phones,
         regexp_replace(regexp_replace(text, '__EMAIL__', '[EMAIL]', 'g'),
                        '__PHONE__', '[PHONE]', 'g') AS redacted
  FROM inj)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(sum(n_emails) AS BIGINT) AS total_emails,
       CAST(sum(n_phones) AS BIGINT) AS total_phones,
       CAST(sum(length(text) - length(redacted)) AS BIGINT) AS chars_removed
FROM red GROUP BY lang ORDER BY lang
""".replace("__EMAIL__", _EMAIL).replace("__PHONE__", _PHONE)

# q71: point-in-time join — explicit interval-containment form. The
# Spark side is asof_join(latest valid_from <= ts); parity pins that
# those are the same because SCD2 intervals partition each user's
# timeline.
EXT_ORACLE["q71"] = """
WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
scd AS (
  SELECT user_id, event_type AS state, ts AS vf,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
  FROM chg WHERE prev IS NULL OR prev <> event_type),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 97 = 0)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS probe_ts,
       s.state
FROM p JOIN scd s
  ON p.user_id = s.user_id AND p.ts >= s.vf AND (s.vt IS NULL OR p.ts < s.vt)
ORDER BY p.event_id
"""

# q72: trailing 7-row z-score anomalies over exact-cents daily revenue.
EXT_ORACLE["q72"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(round(value * 100)) / 100.0 AS rev
  FROM events GROUP BY 1, 2),
win AS (
  SELECT event_type, day, rev,
         avg(rev) OVER w AS mu,
         stddev_samp(rev) OVER w AS sd
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       round(rev, 2) + 0.0 AS rev,
       round(CASE WHEN sd > 0 THEN (rev - mu) / sd END, 2) + 0.0 AS z,
       abs(CASE WHEN sd > 0 THEN (rev - mu) / sd END) > 2 AS is_anomaly
FROM win ORDER BY event_type, day
"""

# q73/q74: inverted index audit + conjunctive AND-query. Postings are
# built from DISTINCT (doc, token) pairs; q74's intersection oracle is
# the relational HAVING-count form (doc contains BOTH terms).
_POSTINGS = """
pairs AS (
  SELECT DISTINCT doc_id, unnest(list_filter(
           string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
  FROM documents),
postings AS (
  SELECT token, count(*) AS n_docs,
         list(doc_id ORDER BY doc_id) AS docs
  FROM pairs GROUP BY token)
"""
EXT_ORACLE["q73"] = f"""
WITH {_POSTINGS}
SELECT token, n_docs,
       array_to_string(docs[1:5], ',') AS first_docs
FROM postings
ORDER BY n_docs DESC, token
LIMIT 10
"""

EXT_ORACLE["q74"] = f"""
WITH {_POSTINGS},
top2 AS (
  SELECT token, row_number() OVER (ORDER BY n_docs DESC, token) AS rn
  FROM postings
  ORDER BY n_docs DESC, token LIMIT 2),
hits AS (
  SELECT doc_id FROM pairs
  WHERE token IN (SELECT token FROM top2)
  GROUP BY doc_id HAVING count(DISTINCT token) = 2)
SELECT (SELECT token FROM top2 WHERE rn = 1) AS term_a,
       (SELECT token FROM top2 WHERE rn = 2) AS term_b,
       doc_id
FROM hits ORDER BY doc_id
"""

# q75: BPE-ish tokenizer accounting (same regex text both engines;
# leftmost-first alternation agrees between Java regex and RE2).
EXT_ORACLE["q75"] = """
WITH toks AS (
  SELECT lang,
         regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]+') AS t
  FROM documents)
SELECT lang,
       CAST(sum(len(t)) AS BIGINT) AS n_tokens,
       CAST(sum(len(list_distinct(t))) AS BIGINT) AS sum_doc_vocab,
       round(avg(len(t)), 2) + 0.0 AS avg_tokens_per_doc
FROM toks GROUP BY lang ORDER BY lang
"""

# q76: identical semantics to q19 (vectorized pandas path) — same
# oracle text, imported not duplicated.
from .oracle import ORACLE as _BASE_ORACLE  # noqa: E402

EXT_ORACLE["q76"] = _BASE_ORACLE["q19"]

# q77: MERGE semantics as the textbook FULL OUTER JOIN + CASE rewrite.
EXT_ORACLE["q77"] = """
WITH src AS (
  SELECT c_custkey AS k, 'U' AS op,
         round(c_acctbal + 1000, 2) AS s_acctbal,
         NULL AS s_seg
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, 'D', NULL, NULL
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey + 1 + (SELECT max(c_custkey) FROM customer), 'I', 0.0,
         c_mktsegment
  FROM customer WHERE c_custkey % 97 = 0),
merged AS (
  SELECT COALESCE(c.c_custkey, s.k) AS c_custkey,
         CASE WHEN s.op IN ('U','I')
              THEN COALESCE(s.s_acctbal, c.c_acctbal)
              ELSE c.c_acctbal END AS acctbal,
         COALESCE(c.c_mktsegment, s.s_seg) AS seg
  FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.k
  WHERE s.op IS NULL OR s.op <> 'D')
SELECT seg AS c_mktsegment,
       count(*) AS n_rows,
       round(sum(acctbal), 2) + 0.0 AS sum_acctbal
FROM merged GROUP BY seg ORDER BY seg
"""

# q78: A-ES weighted sample — identical md5-derived uniform and score.
_H32_OKEY = _h32("o_orderkey::VARCHAR")

EXT_ORACLE["q78"] = f"""
WITH s AS (
  SELECT o_orderkey, o_totalprice,
         ln(((({_H32_OKEY}) % 1000000) + 0.5) / 1000000.0)
           / o_totalprice * 1000000.0 AS score
  FROM orders)
SELECT o_orderkey,
       round(o_totalprice, 2) + 0.0 AS o_totalprice,
       round(score, 4) + 0.0 AS sample_score
FROM s ORDER BY score DESC, o_orderkey LIMIT 20
"""

# q79: exact rolling median over a trailing 7-row frame; DuckDB's
# windowed median interpolates the even-count mid-pair exactly like
# TS.rolling_median's (a+b)/2.0.
EXT_ORACLE["q79"] = """
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY o_orderdate)
SELECT strftime(d, '%Y-%m-%d') AS d,
       rev_cents,
       median(rev_cents) OVER (
         ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS median_cents
FROM daily ORDER BY d
"""

# q80: count-min sketch — identical md5-nibble base hash + affine
# rehash family (operators/sketches.CM_A/CM_P); the oracle builds the
# global grid directly, pinning merge-of-partials == one-pass build.
from ..operators.sketches import CM_A, CM_P  # noqa: E402

_H32_TOK = " + ".join(
    f"(strpos('0123456789abcdef', substring(md5(tok), {p + 1}, 1)) - 1)"
    f" * {16 ** (7 - p)}"
    for p in range(8)
)
_CM_W = 512
_CM_CELLS = "\n  UNION ALL ".join(
    f"SELECT {j} AS j, ((({_H32_TOK}) * {CM_A[j]} + {j}) % {CM_P}) % {_CM_W}"
    f" AS b FROM tk"
    for j in range(4)
)
_CM_PROBES = "\n  UNION ALL ".join(
    f"SELECT tok, n_exact, {j} AS j,"
    f" ((({_H32_TOK}) * {CM_A[j]} + {j}) % {CM_P}) % {_CM_W} AS b FROM top"
    for j in range(4)
)

EXT_ORACLE["q80"] = f"""
WITH tk AS (
  SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents),
rows_ AS (
  {_CM_CELLS}),
cells AS (SELECT j, b, count(*) AS n FROM rows_ GROUP BY j, b),
top AS (
  SELECT tok, count(*) AS n_exact FROM tk GROUP BY tok
  ORDER BY n_exact DESC, tok LIMIT 20),
probes AS (
  {_CM_PROBES}),
est AS (
  SELECT p.tok, p.n_exact, min(coalesce(c.n, 0)) AS cm_est
  FROM probes p LEFT JOIN cells c USING (j, b)
  GROUP BY p.tok, p.n_exact)
SELECT tok, n_exact, cm_est, cm_est - n_exact AS over_err
FROM est ORDER BY n_exact DESC, tok
"""

# q81: bigram PMI — ranking on integer counts only, PMI as payload.
EXT_ORACLE["q81"] = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
big AS (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2),
bc AS (SELECT a, b, count(*) AS nab FROM big GROUP BY a, b),
uni AS (
  SELECT unnest(t) AS tok FROM toks),
uc AS (SELECT tok, count(*) AS n FROM uni GROUP BY tok),
tot AS (
  SELECT sum(len(t)) AS nt,
         sum(greatest(len(t) - 1, 0)) AS nb
  FROM toks)
SELECT bc.a, bc.b, bc.nab,
       round(log2((bc.nab * tot.nt * tot.nt * 1.0)
                  / (tot.nb * ua.n * ub.n)), 4) + 0.0 AS pmi
FROM bc
JOIN uc ua ON ua.tok = bc.a
JOIN uc ub ON ub.tok = bc.b
CROSS JOIN tot
ORDER BY bc.nab DESC, bc.a, bc.b LIMIT 20
"""

# q82: char-distribution Shannon entropy over the first 512 chars.
EXT_ORACLE["q82"] = """
WITH ch AS (
  SELECT lang,
         [substring(s, i, 1)
          FOR i IN generate_series(1, length(s))] AS chars
  FROM (SELECT lang, lower(substring(text, 1, 512)) AS s FROM documents)),
ent AS (
  SELECT lang,
         CASE WHEN len(chars) = 0 THEN 0.0
              ELSE -list_sum(
                [ (len(list_filter(chars, x -> x = c)) * 1.0 / len(chars))
                   * log2(len(list_filter(chars, x -> x = c)) * 1.0
                          / len(chars))
                  FOR c IN list_distinct(chars)])
         END AS h
  FROM ch)
SELECT lang, count(*) AS n_docs,
       round(avg(h), 2) + 0.0 AS avg_entropy,
       round(min(h), 2) + 0.0 AS min_entropy,
       round(max(h), 2) + 0.0 AS max_entropy
FROM ent GROUP BY lang ORDER BY lang
"""

# q83: PageRank — unrolled iterations, identical 10dp per-iteration
# rounding (the q51 determinism pattern applied to a graph fixpoint).
_PR_ITERS = 5
_PR_D = 0.85
_PR_STEP = """
r{t} AS (
  SELECT n.node,
         round((1 - {d}) / nn.n
               + {d} * (coalesce(c.c, 0) + dg.dang / nn.n), 10) AS pr
  FROM nodes n
  LEFT JOIN (SELECT f.v AS node, sum(r.pr * f.frac) AS c
             FROM frac f JOIN r{p} r ON f.u = r.node
             GROUP BY f.v) c ON c.node = n.node
  CROSS JOIN (SELECT coalesce(sum(r.pr), 0) AS dang
              FROM r{p} r LEFT JOIN outw o ON r.node = o.node
              WHERE o.node IS NULL) dg
  CROSS JOIN nn)"""

_PR_CHAIN = ",".join(
    _PR_STEP.format(t=t, p=t - 1, d=_PR_D) for t in range(1, _PR_ITERS + 1)
)

EXT_ORACLE["q83"] = f"""
WITH e AS (
  SELECT cn.n_name AS u, sn.n_name AS v, count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY 1, 2),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
outw AS (SELECT u AS node, sum(w) AS wout FROM e GROUP BY u),
frac AS (SELECT e.u, e.v, e.w * 1.0 / o.wout AS frac
         FROM e JOIN outw o ON e.u = o.node),
r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
{_PR_CHAIN}
SELECT node AS n_name, floor(pr * 1000000 + 0.5) / 1000000 + 0.0 AS pagerank
FROM r{_PR_ITERS} ORDER BY n_name
"""

# q84: blocked levenshtein self-join (DuckDB levenshtein == Spark's).
EXT_ORACLE["q84"] = """
WITH pairs AS (
  SELECT a.p_brand AS brand,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
   AND abs(length(a.p_name) - length(b.p_name)) <= 4)
SELECT brand, count(*) AS n_pairs, min(dist) AS min_dist,
       round(avg(dist), 2) + 0.0 AS avg_dist
FROM pairs WHERE dist <= 4
GROUP BY brand ORDER BY brand
"""

# q85: full one-pass recompute — pins partial-merge == recompute.
EXT_ORACLE["q85"] = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
       max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

# q86: same checks as direct SQL counts.
EXT_ORACLE["q86"] = """
SELECT 'fk_lineitem_orders' AS check_name,
       (SELECT count(*) FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey
        WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
         AS n_violations
UNION ALL
SELECT 'fk_orders_customer',
       (SELECT count(*) FROM orders o LEFT JOIN customer c
          ON o.o_custkey = c.c_custkey
        WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
UNION ALL
SELECT 'pk_customer_unique',
       (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
UNION ALL
SELECT 'pk_orders_unique',
       (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
UNION ALL
SELECT 'range_discount_0_1',
       (SELECT count(*) FROM lineitem
        WHERE NOT coalesce(l_discount BETWEEN 0.0 AND 1.0, FALSE))
UNION ALL
SELECT 'range_price_nonneg',
       (SELECT count(*) FROM lineitem
        WHERE NOT coalesce(l_extendedprice >= 0, FALSE))
UNION ALL
SELECT 'range_qty_le_40',
       (SELECT count(*) FROM lineitem
        WHERE NOT coalesce(l_quantity <= 40, FALSE))
ORDER BY check_name
"""

# q87: expected diff derived straight from the change-set definition —
# pins diff(merge(t, src)) == src's effective operations.
EXT_ORACLE["q87"] = """
SELECT 'added' AS change_type,
       (SELECT count(*) FROM customer WHERE c_custkey % 97 = 0) AS n
UNION ALL
SELECT 'changed',
       (SELECT count(*) FROM customer WHERE c_custkey % 10 = 0
        AND round(c_acctbal + 1000, 2) <> c_acctbal)
UNION ALL
SELECT 'removed',
       (SELECT count(*) FROM customer WHERE c_custkey % 10 = 1)
ORDER BY change_type
"""

# q88: identical bin arithmetic (same IEEE ops on the same doubles).
EXT_ORACLE["q88"] = """
WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
           FROM orders),
binned AS (
  SELECT least(CAST(floor((o_totalprice - b.lo)
                          / ((b.hi - b.lo) / 20.0)) AS INTEGER), 19) AS bin,
         b.lo AS blo, (b.hi - b.lo) / 20.0 AS w
  FROM orders CROSS JOIN b)
SELECT bin,
       round(blo + bin * w, 2) + 0.0 AS lo,
       round(blo + (bin + 1) * w, 2) + 0.0 AS hi,
       count(*) AS n
FROM binned GROUP BY bin, blo, w ORDER BY bin
"""

# q89: overlap as the plain theta join (nested loop is fine for the
# oracle; the Spark side must NOT plan one — tests/test_plans.py).
EXT_ORACLE["q89"] = """
WITH sess AS (
  SELECT user_id, session_idx,
         min(ts) AS s_start,
         max(ts) + INTERVAL 1 MICROSECOND AS s_end
  FROM (
    SELECT user_id, ts,
           sum(CASE WHEN prev_ts IS NULL
                    OR date_diff('microsecond', prev_ts, ts) > 21600000000
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_idx
    FROM (SELECT user_id, ts, event_id,
                 lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_ts
          FROM events))
  GROUP BY user_id, session_idx),
b AS (SELECT date_trunc('day', min(ts)) AS d0, max(ts) AS d1 FROM events),
windows AS (
  SELECT unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS w_start
  FROM b),
w2 AS (SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end FROM windows),
j AS (
  SELECT s.user_id, w2.w_start
  FROM sess s JOIN w2
    ON s.s_start < w2.w_end AND w2.w_start < s.s_end)
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S.%f') AS w_start,
       count(*) AS n_sessions,
       count(DISTINCT user_id) AS n_users
FROM j GROUP BY w_start ORDER BY w_start
"""

# q90: correlated-subquery distinct over the trailing 7-day date range.
EXT_ORACLE["q90"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id) AS n_1d
  FROM events GROUP BY 1)
SELECT strftime(d, '%Y-%m-%d') AS d, n_1d,
       (SELECT count(DISTINCT user_id) FROM events e
        WHERE CAST(e.ts AS DATE) BETWEEN daily.d - 6 AND daily.d)
         AS n_window
FROM daily ORDER BY d
"""

# q91-q98: the SAME SQL templates as the Spark side (TPCH_SQL),
# formatted with bare table names — byte-identical query text.
from .ext_queries import TPCH_SQL, TPCH_TABLES  # noqa: E402

for _qid, _tpl in TPCH_SQL.items():
    EXT_ORACLE[_qid] = _tpl.format(**{t: t for t in TPCH_TABLES})

# q105: the XML-pipeline end-to-end check — same snapshot SQL shape as
# q21, computed over the raw revision rows of fixtures/wiki_tiny.xml
# (fixtures/wiki_tiny_raw.parquet, tools/make_wiki_tiny_raw.py). The
# Spark side parses the XML itself, so parity here adjudicates the
# Spark-XML scan + document-order explode, not just the dedup.
import os as _os

_TINY_RAW = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))),
    "fixtures", "wiki_tiny_raw.parquet",
)

EXT_ORACLE["q105"] = f"""
WITH f AS (
  SELECT * FROM read_parquet('{_TINY_RAW}')
  WHERE namespace = '0' AND timestamp >= TIMESTAMP '2001-01-15 00:00:00'
),
w AS (
  SELECT *, row_number() OVER (
      PARTITION BY page_id, CAST(timestamp AS DATE)
      ORDER BY timestamp, rev_seq) AS rn
  FROM f)
SELECT namespace, title,
       strftime(timestamp, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       coalesce(text, '') AS text
FROM w WHERE rn = 1
ORDER BY title, ts_s
"""

# q109: the imperative 7z → iterparse → snapshot path computes the
# same snapshot as q105's declarative path; same raw-parquet dual.
EXT_ORACLE["q109"] = EXT_ORACLE["q105"]

# q112: incremental dedup against the at-rest index — full md5-minhash
# banding replay for BOTH corpora (old = documents, new = 50 near-dups
# + 50 reversed-novel docs), banded candidates, exact shingle jaccard,
# -1 sentinel for candidate-free docs.
def _mh_cte(suffix: str, corpus: str) -> str:
    """tk/sh/sig/bnd CTE chain for one corpus (same shingle + minhash
    + banding replay as q23's fragments, suffix-parameterized)."""
    bands = "\nUNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat(h{2*b}, '_', h{2*b+1}) AS bh"
        f" FROM sig{suffix}"
        for b in range(4)
    )
    return f"""
tk{suffix} AS (SELECT doc_id,
              list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
       FROM {corpus}),
sh{suffix} AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(list_slice(w, i, i + 2), ' ')
                 FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS shingle
  FROM tk{suffix}),
sig{suffix} AS (SELECT doc_id, {_MINHASH_COLS} FROM sh{suffix} GROUP BY doc_id),
bnd{suffix} AS ({bands})"""


EXT_ORACLE["q112"] = f"""
WITH old_c AS (SELECT doc_id, text FROM documents),
new_c AS (
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(list_slice(words, 1, greatest(len(words) - 1, 1)), ' ') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
        FROM documents WHERE doc_id < 50)
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_reverse(words), ' ') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
        FROM documents WHERE doc_id >= 50 AND doc_id < 100)
),{_mh_cte('o', 'old_c')},{_mh_cte('n', 'new_c')},
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS idx_id
  FROM bndn n JOIN bndo o ON n.band = o.band AND n.bh = o.bh),
szo AS (SELECT doc_id, count(*) AS sz FROM sho GROUP BY doc_id),
szn AS (SELECT doc_id, count(*) AS sz FROM shn GROUP BY doc_id),
inter AS (
  SELECT new_id, idx_id, count(*) AS icnt
  FROM cand
  JOIN shn sa ON sa.doc_id = new_id
  JOIN sho sb ON sb.doc_id = idx_id AND sa.shingle = sb.shingle
  GROUP BY new_id, idx_id),
j AS (
  SELECT c.new_id,
         coalesce(i.icnt, 0)
           / (za.sz + zb.sz - coalesce(i.icnt, 0)) AS jv
  FROM cand c
  LEFT JOIN inter i ON i.new_id = c.new_id AND i.idx_id = c.idx_id
  JOIN szn za ON za.doc_id = c.new_id
  JOIN szo zb ON zb.doc_id = c.idx_id),
agg AS (
  SELECT new_id, count(*) AS n_cand, max(jv) AS mx
  FROM j GROUP BY new_id)
SELECT n.doc_id,
       coalesce(a.n_cand, 0) AS n_cand,
       round(coalesce(a.mx, -1.0), 2) + 0.0 AS max_jaccard,
       (a.mx IS NULL OR a.mx < 0.5) AS survived
FROM new_c n LEFT JOIN agg a ON a.new_id = n.doc_id
ORDER BY n.doc_id
"""

# q113: the append-back loop — the q112 probe's SURVIVORS are unioned
# into the index (bands + shingles) and the same batch re-probed.
# Self-matches at jaccard 1.0 mean nothing survives the second probe.
EXT_ORACLE["q113"] = f"""
WITH old_c AS (SELECT doc_id, text FROM documents),
new_c AS (
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(list_slice(words, 1, greatest(len(words) - 1, 1)), ' ') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
        FROM documents WHERE doc_id < 50)
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_reverse(words), ' ') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
        FROM documents WHERE doc_id >= 50 AND doc_id < 100)
),{_mh_cte('o', 'old_c')},{_mh_cte('n', 'new_c')},
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS idx_id
  FROM bndn n JOIN bndo o ON n.band = o.band AND n.bh = o.bh),
szo AS (SELECT doc_id, count(*) AS sz FROM sho GROUP BY doc_id),
szn AS (SELECT doc_id, count(*) AS sz FROM shn GROUP BY doc_id),
inter AS (
  SELECT new_id, idx_id, count(*) AS icnt
  FROM cand
  JOIN shn sa ON sa.doc_id = new_id
  JOIN sho sb ON sb.doc_id = idx_id AND sa.shingle = sb.shingle
  GROUP BY new_id, idx_id),
j AS (
  SELECT c.new_id,
         coalesce(i.icnt, 0)
           / (za.sz + zb.sz - coalesce(i.icnt, 0)) AS jv
  FROM cand c
  LEFT JOIN inter i ON i.new_id = c.new_id AND i.idx_id = c.idx_id
  JOIN szn za ON za.doc_id = c.new_id
  JOIN szo zb ON zb.doc_id = c.idx_id),
agg AS (
  SELECT new_id, count(*) AS n_cand, max(jv) AS mx
  FROM j GROUP BY new_id),
surv AS (
  SELECT n.doc_id FROM new_c n LEFT JOIN agg a ON a.new_id = n.doc_id
  WHERE a.mx IS NULL OR a.mx < 0.5),
bndi AS (
  SELECT doc_id, band, bh FROM bndo
  UNION ALL
  SELECT doc_id, band, bh FROM bndn
  WHERE doc_id IN (SELECT doc_id FROM surv)),
shi AS (
  SELECT doc_id, shingle FROM sho
  UNION ALL
  SELECT doc_id, shingle FROM shn
  WHERE doc_id IN (SELECT doc_id FROM surv)),
szi AS (SELECT doc_id, count(*) AS sz FROM shi GROUP BY doc_id),
cand2 AS (
  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
  FROM bndn n JOIN bndi i ON n.band = i.band AND n.bh = i.bh),
inter2 AS (
  SELECT new_id, idx_id, count(*) AS icnt
  FROM cand2
  JOIN shn sa ON sa.doc_id = new_id
  JOIN shi sb ON sb.doc_id = idx_id AND sa.shingle = sb.shingle
  GROUP BY new_id, idx_id),
j2 AS (
  SELECT c.new_id,
         coalesce(i.icnt, 0)
           / (za.sz + zb.sz - coalesce(i.icnt, 0)) AS jv
  FROM cand2 c
  LEFT JOIN inter2 i ON i.new_id = c.new_id AND i.idx_id = c.idx_id
  JOIN szn za ON za.doc_id = c.new_id
  JOIN szi zb ON zb.doc_id = c.idx_id),
agg2 AS (
  SELECT new_id, count(*) AS n_cand, max(jv) AS mx
  FROM j2 GROUP BY new_id)
SELECT n.doc_id,
       coalesce(a.n_cand, 0) AS n_cand,
       round(coalesce(a.mx, -1.0), 2) + 0.0 AS max_jaccard,
       (a.mx IS NULL OR a.mx < 0.5) AS survived
FROM new_c n LEFT JOIN agg2 a ON a.new_id = n.doc_id
ORDER BY n.doc_id
"""

# q114: repetition signals — duplicate-trigram fraction + top-bigram
# fraction, replayed with list comprehensions and an unnest + two-level
# aggregation. Both engines round to 4dp after identical int/int
# double divisions.
EXT_ORACLE["q114"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN [array_to_string(list_slice(w, i, i + 2), ' ')
                    FOR i IN generate_series(1, len(w) - 2)]
              ELSE [] END AS tg,
         CASE WHEN len(w) >= 2
              THEN [array_to_string(list_slice(w, i, i + 1), ' ')
                    FOR i IN generate_series(1, len(w) - 1)]
              ELSE [] END AS bg
  FROM t),
d AS (
  SELECT doc_id,
         CASE WHEN len(tg) > 0
              THEN 1.0 - len(list_distinct(tg)) / CAST(len(tg) AS DOUBLE)
              ELSE 0.0 END AS dtf,
         bg
  FROM g),
e AS (SELECT doc_id, unnest(bg) AS b FROM d),
pc AS (SELECT doc_id, b, count(*) AS c FROM e GROUP BY doc_id, b),
tf AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS tbf
       FROM pc GROUP BY doc_id)
SELECT d.doc_id,
       round(d.dtf, 4) AS dup_trigram_frac,
       round(coalesce(tf.tbf, 0.0), 4) AS top_bigram_frac
FROM d LEFT JOIN tf ON tf.doc_id = d.doc_id
ORDER BY d.doc_id
"""

# q115: mixture sampling to a token budget — the same md5-derived hash
# order as q43's split, a VALUES target table from the module
# constants, and a per-bucket ROWS cumsum cut at the target.
from .ext_queries import Q115_BUDGET, Q115_WEIGHTS  # noqa: E402

_Q115_TOTAL_W = float(sum(Q115_WEIGHTS.values()))
_Q115_TARGETS = ", ".join(
    f"('{b}', {int(Q115_BUDGET * w / _Q115_TOTAL_W)})"
    for b, w in sorted(Q115_WEIGHTS.items())
)

EXT_ORACLE["q115"] = f"""
WITH n AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              AS BIGINT) AS n_tokens,
         ({_H32_DOCID}) AS h
  FROM documents),
t(lang, target_tokens) AS (VALUES {_Q115_TARGETS}),
r AS (
  SELECT n.doc_id, n.lang, n.n_tokens, t.target_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY n.lang ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM n JOIN t ON t.lang = n.lang)
SELECT doc_id, lang, n_tokens, cum_tokens
FROM r WHERE cum_tokens <= target_tokens
ORDER BY doc_id
"""

# q116: bracketed exact percentile == quantile_cont (both engines
# evaluate the identical (1-f)*lo + f*hi interpolation, so the compare
# is bit-level, not rounded).
EXT_ORACLE["q116"] = """
SELECT l_returnflag,
       count(l_extendedprice) AS n,
       quantile_cont(l_extendedprice, 0.9) AS p_exact
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# q118: cross-doc repeated spans — same md5 window hashing replayed
# with a list comprehension; cross set = HAVING count(DISTINCT doc)>=2.
EXT_ORACLE["q118"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
win AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 8
                THEN [md5(array_to_string(list_slice(w, i, i + 7), ' '))
                      FOR i IN generate_series(1, len(w) - 7)]
                ELSE [] END) AS h
  FROM t),
cross_h AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
tot AS (SELECT doc_id, count(*) AS n_windows FROM win GROUP BY doc_id),
dup AS (SELECT doc_id, count(*) AS n_dup
        FROM win JOIN cross_h USING (h) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(t.n_windows, 0) AS n_windows,
       coalesce(u.n_dup, 0) AS n_dup,
       round(CASE WHEN coalesce(t.n_windows, 0) > 0
             THEN coalesce(u.n_dup, 0) / CAST(t.n_windows AS DOUBLE)
             ELSE 0.0 END, 4) AS dup_span_frac
FROM documents d
LEFT JOIN tot t ON t.doc_id = d.doc_id
LEFT JOIN dup u ON u.doc_id = d.doc_id
ORDER BY d.doc_id
"""

# q120: manifest parse + incremental skip over the committed
# dumpstatus fixtures — DuckDB parses the same JSON (json_keys over
# the job's files object) and replays the suffix-match anti-join.
from .ext_queries import MANIFEST_FIXTURE_DIR  # noqa: E402

_MANIFEST_GLOB = _os.path.join(MANIFEST_FIXTURE_DIR, "*.json")

EXT_ORACLE["q120"] = f"""
WITH cand AS (
  SELECT regexp_extract(filename, '([a-z]+)\\.json$', 1) AS wiki,
         unnest(json_keys(content, '$.jobs.metahistory7zdump.files'))
           AS file_name
  FROM read_text('{_MANIFEST_GLOB}')),
done AS (
  SELECT file_name || '.parquet' AS blob_name FROM cand
  WHERE file_name LIKE '%history1%')
SELECT wiki, file_name
FROM cand
WHERE file_name || '.parquet' NOT IN (SELECT blob_name FROM done)
ORDER BY wiki, file_name
"""

# q121: partitioned-sink round trip == the pre-write selection.
EXT_ORACLE["q121"] = """
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS d, value
FROM events WHERE event_type = 'purchase'
ORDER BY event_id
"""

# q122: JSONL + CSV + ORC round trips == the direct parquet selection,
# once per format.
EXT_ORACLE["q122"] = """
SELECT fmt, doc_id, lang, text FROM (
  SELECT 'jsonl' AS fmt, doc_id, lang, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'csv', doc_id, lang, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'orc', doc_id, lang, text FROM documents WHERE doc_id < 200)
ORDER BY fmt, doc_id
"""

# q119: semantic dedup verdicts — brute-force cosine pairs (q37's
# oracle shape) + recursive-CTE min-label closure (q52's oracle
# shape); kept iff the vector IS its component minimum.
EXT_ORACLE["q119"] = """
WITH RECURSIVE aug AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(64),
             i -> embedding[i+1]::DOUBLE + ((vec_id*64 + i) % 7 - 3) * 0.005)
  FROM embeddings WHERE vec_id < 50
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.99),
edges AS (
  SELECT va AS src, vb AS dst FROM pairs
  UNION ALL
  SELECT vb, va FROM pairs),
reach(a, b) AS (
  SELECT vec_id, vec_id FROM aug
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
lab AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)
SELECT vec_id, component, vec_id = component AS kept
FROM lab ORDER BY vec_id
"""

# q108: cogrouped merge-asof vs DuckDB's native ASOF JOIN (same
# pre-dedup of equal-timestamp clicks as the Spark side).
EXT_ORACLE["q108"] = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, ts AS c_ts, event_id AS click_id FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click')
  WHERE rn = 1)
SELECT p.user_id, p.purchase_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       c.click_id,
       strftime(c.c_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.c_ts
ORDER BY p.user_id, p.purchase_id
"""


# q123: the salted join must be indistinguishable from the plain join.
EXT_ORACLE["q123"] = """
SELECT c_mktsegment,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type = 'purchase'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

# q124: the z-order layout pass is lossless — a selective 2-D box over
# the clustered copy equals the same predicate on the raw table.
EXT_ORACLE["q124"] = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
FROM lineitem
WHERE l_partkey <= 200 AND l_suppkey <= 10
ORDER BY l_orderkey, l_linenumber
"""

# q125: COMPLETE exact-Jaccard pairs >= 0.5 via the full inverted
# index (complete by construction — any pair with J > 0 shares a
# shingle), against which the prefix-filtered join must be lossless.
EXT_ORACLE["q125"] = f"""
WITH {_CORPUS}, {_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS icnt
  FROM sh sa JOIN sh sb
    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(icnt / (za.sz + zb.sz - icnt), 2) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = doc_a
JOIN sizes zb ON zb.doc_id = doc_b
WHERE icnt / (za.sz + zb.sz - icnt) >= 0.5
ORDER BY doc_a, doc_b
"""

# q126: rebuild the identical KMV sketches (same md5-nibble 32-bit
# hash, same k smallest) and the SAME estimator arithmetic — exact
# when fewer than k distincts, (k-1)*2^32/h_k otherwise; intersection
# via common-hashes-under-the-union-threshold scaled by the union
# estimate. Every operation is deterministic, so the compare is at
# full float precision.
_H32_USER = _h32("user_id::VARCHAR")

EXT_ORACLE["q126"] = f"""
WITH h AS (SELECT DISTINCT event_type, ({_H32_USER}) AS hv
           FROM events WHERE user_id IS NOT NULL),
r AS (SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h),
sk AS (SELECT event_type, list_sort(list(hv)) AS kmv
       FROM r WHERE rn <= 32 GROUP BY event_type),
base AS (
  SELECT event_type AS set_name,
         CAST(len(kmv) AS BIGINT) AS n_kept,
         CASE WHEN len(kmv) < 32 THEN CAST(len(kmv) AS DOUBLE)
              ELSE 31.0 * 4294967296.0 / CAST(kmv[32] AS DOUBLE)
         END AS est
  FROM sk),
ab AS (SELECT
         (SELECT kmv FROM sk WHERE event_type = 'click') AS ka,
         (SELECT kmv FROM sk WHERE event_type = 'purchase') AS kb),
m AS (SELECT ka, kb,
             list_sort(list_distinct(ka || kb))[1:32] AS merged
      FROM ab),
u AS (SELECT 'click|purchase' AS set_name,
             CAST(len(merged) AS BIGINT) AS n_kept,
             CASE WHEN len(merged) < 32 THEN CAST(len(merged) AS DOUBLE)
                  ELSE 31.0 * 4294967296.0 / CAST(merged[32] AS DOUBLE)
             END AS est
      FROM m),
i AS (SELECT 'click&purchase' AS set_name,
             CAST(len(list_filter(list_intersect(ka, kb),
                                  x -> x <= merged[len(merged)]))
                  AS BIGINT) AS n_kept,
             CAST(len(list_filter(list_intersect(ka, kb),
                                  x -> x <= merged[len(merged)]))
                  AS DOUBLE)
             * (CASE WHEN len(merged) < 32 THEN CAST(len(merged) AS DOUBLE)
                     ELSE 31.0 * 4294967296.0 / CAST(merged[32] AS DOUBLE)
                END)
             / CAST(len(merged) AS DOUBLE) AS est
      FROM m)
SELECT set_name, n_kept, est FROM base
UNION ALL SELECT set_name, n_kept, est FROM u
UNION ALL SELECT set_name, n_kept, est FROM i
ORDER BY set_name
"""

# q127: identical canonicalize-wedge-close triangle enumeration in SQL
# over the same mean-thresholded nation trade graph.
EXT_ORACLE["q127"] = """
WITH e0 AS (
  SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  GROUP BY 1, 2),
hot AS (SELECT src, dst FROM e0 WHERE w > (SELECT avg(w) FROM e0)),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM hot WHERE src <> dst),
wedge AS (SELECT e1.a, e1.b, e2.b AS c
          FROM e e1 JOIN e e2 ON e2.a = e1.b),
tri AS (SELECT w.a, w.b, w.c
        FROM wedge w JOIN e e3 ON e3.a = w.a AND e3.b = w.c),
nodes AS (SELECT a AS node FROM e UNION SELECT b AS node FROM e),
hits AS (SELECT node, count(*) AS n FROM (
           SELECT a AS node FROM tri
           UNION ALL SELECT b AS node FROM tri
           UNION ALL SELECT c AS node FROM tri)
         GROUP BY node)
SELECT nodes.node AS nation,
       CAST(coalesce(hits.n, 0) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN hits USING (node)
ORDER BY nation
"""


# q128: same letter string (ordered string_agg), same regex — RE2 and
# java.util.regex agree on v+cp's leftmost non-overlapping matches
# (greedy run + literal suffix has a unique match per start).
EXT_ORACLE["q128"] = """
WITH s AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), ''
                    ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id)
SELECT user_id,
       CAST(length(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, 'v+cp')) AS BIGINT) AS n_matches,
       coalesce(regexp_extract(s, 'v+cp'), '') AS first_match
FROM s ORDER BY user_id
"""

# q129: drop every third day, densify per-type onto the global day
# spine, lerp interior gaps — the single float division mirrors
# gap_fill_linear exactly (integer cents, integer epoch-day axis).
EXT_ORACLE["q129"] = """
WITH r AS (
  SELECT event_type, date_trunc('day', ts) AS bucket,
         CAST(sum(round(value * 100)::BIGINT) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
obs AS (SELECT * FROM r WHERE day(bucket) % 3 <> 0),
b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM obs),
spine AS (
  SELECT et.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM obs) et
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
              FROM b) g),
j AS (
  SELECT s.event_type, s.bucket, obs.cents,
         datediff('day', DATE '1970-01-01', s.bucket::DATE) AS idx
  FROM spine s LEFT JOIN obs USING (event_type, bucket)),
w AS (
  SELECT *,
         last_value(cents IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         last_value(CASE WHEN cents IS NOT NULL THEN idx END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pi,
         first_value(cents IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN cents IS NOT NULL THEN idx END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ni
  FROM j)
SELECT event_type,
       strftime(bucket, '%Y-%m-%d') AS d,
       cents AS cents_obs,
       CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              CAST(pv AS DOUBLE)
              + CAST((nv - pv) * (idx - pi) AS DOUBLE)
                / CAST((ni - pi) AS DOUBLE)
       END AS est
FROM w ORDER BY event_type, d
"""


# q130: same exact-bigint moment sums, same single-float-division
# slope/intercept/r2 arithmetic (the grouped_ols contract).
EXT_ORACLE["q130"] = """
WITH r AS (
  SELECT event_type, date_trunc('day', ts) AS bucket,
         CAST(sum(round(value * 100)::BIGINT) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
xs AS (
  SELECT event_type, y,
         datediff('day', DATE '1970-01-01', bucket::DATE)
         - min(datediff('day', DATE '1970-01-01', bucket::DATE))
             OVER (PARTITION BY event_type) AS x
  FROM r),
g AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM xs GROUP BY event_type),
d AS (
  SELECT event_type, n,
         n * sxy - sx * sy AS cov_n,
         n * sxx - sx * sx AS var_x,
         n * syy - sy * sy AS var_y,
         sx, sy
  FROM g)
SELECT event_type, n,
       CASE WHEN var_x <> 0
            THEN CAST(cov_n AS DOUBLE) / CAST(var_x AS DOUBLE) END AS slope,
       (CAST(sy AS DOUBLE)
        - (CASE WHEN var_x <> 0
                THEN CAST(cov_n AS DOUBLE) / CAST(var_x AS DOUBLE) END)
          * CAST(sx AS DOUBLE))
       / CAST(n AS DOUBLE) AS intercept,
       CASE WHEN var_x <> 0 AND var_y <> 0
            THEN (CAST(cov_n AS DOUBLE) * CAST(cov_n AS DOUBLE))
                 / (CAST(var_x AS DOUBLE) * CAST(var_y AS DOUBLE))
       END AS r2
FROM d ORDER BY event_type
"""

# q131: identical self-stream window (last preceding non-purchase
# struct), exact microsecond recency test, integer cents totals.
EXT_ORACLE["q131"] = """
WITH o AS (
  SELECT user_id, ts, event_type, value,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN struct_pack(t := ts, et := event_type) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events),
p AS (
  SELECT CASE WHEN touch IS NOT NULL
               AND epoch_us(ts) - epoch_us(touch.t) <= 604800000000
              THEN touch.et ELSE 'none' END AS touch_type,
         value
  FROM o WHERE event_type = 'purchase')
SELECT touch_type,
       count(*) AS n_purchases,
       CAST(sum(round(value * 100)::BIGINT) AS BIGINT) AS cents
FROM p GROUP BY touch_type
ORDER BY touch_type
"""

# q132: same descending-score admission, same exact integer 80% cutoff.
EXT_ORACLE["q132"] = """
WITH s AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS score
  FROM documents),
w AS (
  SELECT doc_id, lang, score,
         CAST(sum(score) OVER (
           PARTITION BY lang ORDER BY score DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(sum(score) OVER (PARTITION BY lang) AS BIGINT) AS total
  FROM s)
SELECT doc_id, lang, score, cum
FROM w WHERE 5 * cum <= 4 * total
ORDER BY doc_id
"""


# q133: the whole curation pipeline replayed in SQL — corpus
# augmentation (near-dup + exact copies), length gate, normalize +
# keep-min exact dedup, COMPLETE Jaccard >= 0.5 pairs among survivors,
# recursive-CTE closure with min-id keepers, md5-hash-order token
# budget. The verdict CASE mirrors the engine's precedence exactly.
EXT_ORACLE["q133"] = f"""
WITH RECURSIVE
nd AS (
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(list_slice(words, 1, greatest(len(words) - 1, 1)),
                         ' ') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                 AS words
        FROM documents WHERE doc_id < 50)),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM nd
  UNION ALL SELECT doc_id + 200000 AS doc_id, text
            FROM documents WHERE doc_id < 25),
t AS (
  SELECT doc_id, text,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM corpus),
nrm AS (
  SELECT *, trim(regexp_replace(
              regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
              '\\s+', ' ', 'g')) AS norm_text
  FROM t),
ex AS (
  SELECT doc_id, n_tok,
         row_number() OVER (PARTITION BY norm_text ORDER BY doc_id) AS rn
  FROM nrm WHERE n_tok >= 20),
surv AS (SELECT doc_id, n_tok FROM ex WHERE rn = 1),
tk AS (SELECT c.doc_id,
              list_filter(string_split_regex(c.text, '\\s+'), x -> x <> '')
                AS w
       FROM corpus c JOIN surv USING (doc_id)),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(list_slice(w, i, i + 2), ' ')
                 FOR i IN generate_series(1, greatest(len(w) - 2, 1))])
           AS shingle
  FROM tk),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS icnt
  FROM sh sa JOIN sh sb
    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes za ON za.doc_id = doc_a
  JOIN sizes zb ON zb.doc_id = doc_b
  WHERE icnt / (za.sz + zb.sz - icnt) >= 0.5),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM surv
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
keep AS (
  SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) = a),
adm AS (
  SELECT doc_id FROM (
    SELECT k.doc_id,
           CAST(sum(s.n_tok) OVER (
             ORDER BY ({_H32_DOCID.replace("doc_id", "k.doc_id")}), k.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum
    FROM keep k JOIN surv s USING (doc_id))
  WHERE cum <= 20000)
SELECT t.doc_id,
       CASE WHEN t.n_tok < 20 THEN 'short'
            WHEN e.rn > 1 THEN 'exact_dup'
            WHEN k.doc_id IS NULL THEN 'near_dup'
            WHEN a.doc_id IS NULL THEN 'sampled_out'
            ELSE 'admitted' END AS verdict
FROM t
LEFT JOIN ex e ON e.doc_id = t.doc_id
LEFT JOIN keep k ON k.doc_id = t.doc_id
LEFT JOIN adm a ON a.doc_id = t.doc_id
ORDER BY t.doc_id
"""


# q135: global trigram count table + per-doc coverage — integers end
# to end, one exact double division at the end.
EXT_ORACLE["q135"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(list_slice(w, i, i + 2), ' ')
                 FOR i IN generate_series(1, greatest(len(w) - 2, 1))])
           AS shingle
  FROM tk),
common AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 5),
cov AS (
  SELECT doc_id, count(*) AS n_covered
  FROM sh JOIN common USING (shingle) GROUP BY doc_id),
sz AS (SELECT doc_id, count(*) AS n_trigrams FROM sh GROUP BY doc_id)
SELECT s.doc_id,
       CAST(s.n_trigrams AS BIGINT) AS n_trigrams,
       CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
       CAST(coalesce(c.n_covered, 0) AS DOUBLE)
         / CAST(s.n_trigrams AS DOUBLE) AS coverage
FROM sz s LEFT JOIN cov c ON c.doc_id = s.doc_id
ORDER BY s.doc_id
"""

# q138: Efraimidis-Spirakis weighted sample — identical md5-derived
# uniform ((h32+1)/2^32), identical ln(u)/w priority, per-lang top-10.
EXT_ORACLE["q138"] = f"""
WITH d AS (
  SELECT doc_id, lang,
         greatest(len(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')), 1) AS n_toks
  FROM documents),
k AS (
  SELECT doc_id, lang, n_toks,
         ln((({_H32_DOCID}) + 1.0) / 4294967296.0) / n_toks AS pri
  FROM d),
r AS (
  SELECT lang, doc_id, n_toks,
         row_number() OVER (PARTITION BY lang ORDER BY pri DESC, doc_id)
           AS rk
  FROM k)
SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, CAST(n_toks AS BIGINT) AS n_toks
FROM r WHERE rk <= 10
ORDER BY lang, rk
"""

# q139: retraction — probe the same near-dup batch (drop-last-word of
# docs 300-324, +700000) against the full corpus (phase 0) and the
# corpus minus the deleted range (phase 1). Reuses the q112 probe CTE
# machinery; phase 1's index CTEs simply exclude the retracted ids.
def _q139_probe(suffix: str, idx_filter: str) -> str:
    """cand/inter/j/agg chain for one probe phase over (bndo/sho
    filtered by ``idx_filter``) vs the batch (bndn/shn)."""
    return f"""
cand{suffix} AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS idx_id
  FROM bndn n JOIN bndo o ON n.band = o.band AND n.bh = o.bh
  WHERE {idx_filter}),
inter{suffix} AS (
  SELECT new_id, idx_id, count(*) AS icnt
  FROM cand{suffix}
  JOIN shn sa ON sa.doc_id = new_id
  JOIN sho sb ON sb.doc_id = idx_id AND sa.shingle = sb.shingle
  GROUP BY new_id, idx_id),
j{suffix} AS (
  SELECT c.new_id,
         coalesce(i.icnt, 0)
           / (za.sz + zb.sz - coalesce(i.icnt, 0)) AS jv
  FROM cand{suffix} c
  LEFT JOIN inter{suffix} i
    ON i.new_id = c.new_id AND i.idx_id = c.idx_id
  JOIN szn za ON za.doc_id = c.new_id
  JOIN szo zb ON zb.doc_id = c.idx_id),
agg{suffix} AS (
  SELECT new_id, count(*) AS n_cand, max(jv) AS mx
  FROM j{suffix} GROUP BY new_id)"""


EXT_ORACLE["q139"] = f"""
WITH old_c AS (SELECT doc_id, text FROM documents),
new_c AS (
  SELECT doc_id + 700000 AS doc_id,
         array_to_string(list_slice(words, 1, greatest(len(words) - 1, 1)), ' ') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
        FROM documents WHERE doc_id >= 300 AND doc_id < 325)
),{_mh_cte('o', 'old_c')},{_mh_cte('n', 'new_c')},
szo AS (SELECT doc_id, count(*) AS sz FROM sho GROUP BY doc_id),
szn AS (SELECT doc_id, count(*) AS sz FROM shn GROUP BY doc_id),
{_q139_probe('1', 'TRUE')},
{_q139_probe('2', 'o.doc_id NOT BETWEEN 300 AND 324')}
SELECT CAST(0 AS INTEGER) AS phase, n.doc_id,
       coalesce(a.n_cand, 0) AS n_cand,
       round(coalesce(a.mx, -1.0), 2) + 0.0 AS max_jaccard,
       (a.mx IS NULL OR a.mx < 0.5) AS survived
FROM new_c n LEFT JOIN agg1 a ON a.new_id = n.doc_id
UNION ALL
SELECT CAST(1 AS INTEGER) AS phase, n.doc_id,
       coalesce(a.n_cand, 0) AS n_cand,
       round(coalesce(a.mx, -1.0), 2) + 0.0 AS max_jaccard,
       (a.mx IS NULL OR a.mx < 0.5) AS survived
FROM new_c n LEFT JOIN agg2 a ON a.new_id = n.doc_id
ORDER BY phase, doc_id
"""

# q140: containment replay — same excerpt-augmented corpus, rare-
# shingle candidates (df <= 5), exact intersection over full sets,
# both directions, containment >= 0.8.
EXT_ORACLE["q140"] = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 800000 AS doc_id,
         array_to_string(list_slice(words, 1, 10), ' ') AS text
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words
        FROM documents WHERE doc_id >= 325 AND doc_id < 350)),
tk AS (SELECT doc_id,
              list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
       FROM corpus),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(list_slice(w, i, i + 2), ' ')
                 FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS shingle
  FROM tk),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 5),
shr AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
  FROM shr sa JOIN shr sb
    ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS icnt
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
  GROUP BY doc_a, doc_b),
dir AS (
  SELECT doc_a AS contained, doc_b AS container, icnt,
         za.sz AS zc, zb.sz AS zt
  FROM inter JOIN sizes za ON za.doc_id = doc_a
             JOIN sizes zb ON zb.doc_id = doc_b
  UNION ALL
  SELECT doc_b, doc_a, icnt, zb.sz, za.sz
  FROM inter JOIN sizes za ON za.doc_id = doc_a
             JOIN sizes zb ON zb.doc_id = doc_b)
SELECT contained, container, CAST(icnt AS BIGINT) AS n_shared,
       round(icnt / zc, 2) + 0.0 AS containment,
       round(icnt / (zc + zt - icnt), 2) + 0.0 AS jaccard
FROM dir
WHERE icnt / zc >= 0.8
ORDER BY contained, container
"""

# q141: SemDeDup replay — the q37 augmented corpus, the q51 unrolled
# k-means fit (shared _kmeans_chain), within-cell pair scan at
# cosine >= 0.95, recursive-CTE transitive closure (q52's), keep-min
# representative per semantic group.
def _semdedup_sql(
    k: int | str = 8, n_iter: int = 3, dim: int = 64, rnd: int = 6,
    thr: float = 0.95,
) -> str:
    # NB the perturbation seed is the NEW id (vec_id + 100000):
    # Spark's lateral-column-alias resolution makes the transform's
    # F.col("vec_id") see the aliased output column, not the input
    # (similarity.py::with_near_duplicate_vectors). q37's oracle seeds
    # from the original id and still matches because its adjudicated
    # output (2dp cosines, 0.99-threshold pairs) is insensitive to
    # which seed perturbs — a k-means FIT is not, so this replay must
    # mirror the engine's actual arithmetic.
    aug = """aug AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(64),
             i -> embedding[i+1]::DOUBLE
                  + (((vec_id + 100000)*64 + i) % 7 - 3) * 0.005)
  FROM embeddings WHERE vec_id < 50)"""
    ctes, fin = _kmeans_chain(
        "v AS (SELECT vec_id, emb AS embedding FROM aug)",
        k, n_iter, dim, rnd,
    )
    ctes.insert(0, aug)
    ctes.append(f"""pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM v a JOIN {fin} xa ON xa.vec_id = a.vec_id
       JOIN v b ON a.vec_id < b.vec_id
       JOIN {fin} xb ON xb.vec_id = b.vec_id AND xb.cell = xa.cell
  WHERE list_cosine_similarity(a.embedding, b.embedding) >= {thr})""")
    ctes.append("""edges AS (
  SELECT va AS src, vb AS dst FROM pairs
  UNION ALL
  SELECT vb AS src, va AS dst FROM pairs)""")
    ctes.append("""reach(a, b) AS (
  SELECT vec_id, vec_id FROM v
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)""")
    ctes.append(
        "lab AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"""
SELECT x.vec_id, CAST(x.cell AS INTEGER) AS cell,
       l.component AS keeper, (l.component = x.vec_id) AS is_kept
FROM {fin} x JOIN lab l ON l.vec_id = x.vec_id
ORDER BY x.vec_id"""
    )


def _semdedup_two_level_sql(
    n_iter: int = 3, dim: int = 64, rnd: int = 6, thr: float = 0.95,
) -> str:
    """q141's round-8 replay: the HIERARCHICAL two-level fit.

    Derives the same three policy constants the engine derives —
    k = max(8, ceil(n/64)), k_c = ceil(√k), k_f = ceil(k/k_c) — from
    the same augmented corpus, replays the coarse fit with the shared
    unrolled chain (_kmeans_chain, k_c as a scalar-subquery LIMIT),
    then unrolls the fine stage: init = the k_f lowest-id members of
    each coarse cell (unrounded), and per iteration an argmax-cosine
    assignment RESTRICTED to the vector's own coarse cell's fine
    centroids (probe width 1 — the declared policy) followed by
    6dp-rounded element-wise means over occupied fine cells. Global
    fine ids are gcell·k_f + local rank, matching the engine exactly.
    Pair scan / closure / keep-min are the r5–r7 tail unchanged, now
    keyed on the fine cell.
    """
    aug = """aug AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(64),
             i -> embedding[i+1]::DOUBLE
                  + (((vec_id + 100000)*64 + i) % 7 - 3) * 0.005)
  FROM embeddings WHERE vec_id < 50)"""
    params = """params AS (
  SELECT k, CAST(CEIL(SQRT(k)) AS BIGINT) AS kc,
         CAST(CEIL(k / CEIL(SQRT(k))) AS BIGINT) AS kf
  FROM (SELECT GREATEST(8, CEIL(count(*) / 64.0))::BIGINT AS k FROM v))"""
    ctes, coarse_fin = _kmeans_chain(
        "v AS (SELECT vec_id, emb AS embedding FROM aug)",
        "(SELECT kc FROM params)", n_iter, dim, rnd,
    )
    ctes.insert(0, aug)
    ctes.insert(2, params)  # after v (params reads v)
    ctes.append(
        f"ac AS (SELECT vec_id, cell AS gcell FROM {coarse_fin})"
    )
    ctes.append("""fi AS (
  SELECT ac.gcell, v.vec_id, v.embedding,
         row_number() OVER (PARTITION BY ac.gcell ORDER BY v.vec_id) AS rn
  FROM v JOIN ac USING (vec_id))""")
    ctes.append("""f0 AS (
  SELECT gcell, CAST(gcell * kf + rn - 1 AS BIGINT) AS fcell,
         embedding AS c
  FROM fi, params WHERE rn <= kf)""")
    ctes.append(
        "m AS (SELECT v.vec_id, v.embedding, ac.gcell"
        " FROM v JOIN ac USING (vec_id))"
    )
    for it in range(n_iter):
        cos = _COS.format(a="m.embedding", b="f.c")
        ctes.append(f"""fa{it} AS (
  SELECT vec_id, fcell FROM (
    SELECT m.vec_id, f.fcell,
           row_number() OVER (PARTITION BY m.vec_id
                              ORDER BY {cos} DESC, f.fcell ASC) AS rn
    FROM m JOIN f{it} f ON f.gcell = m.gcell) WHERE rn = 1)""")
        ctes.append(f"""f{it + 1} AS (
  SELECT fcell, CAST(fcell // kf AS BIGINT) AS gcell,
         list(mm ORDER BY i) AS c
  FROM (
    SELECT fa{it}.fcell AS fcell, i,
           round(avg(v.embedding[i]::DOUBLE), {rnd}) AS mm
    FROM v JOIN fa{it} USING (vec_id), range(1, {dim + 1}) t(i)
    GROUP BY fa{it}.fcell, i), params
  GROUP BY fcell, kf)""")
    fin_cos = _COS.format(a="m.embedding", b="f.c")
    ctes.append(f"""fa{n_iter} AS (
  SELECT vec_id, fcell FROM (
    SELECT m.vec_id, f.fcell,
           row_number() OVER (PARTITION BY m.vec_id
                              ORDER BY {fin_cos} DESC, f.fcell ASC) AS rn
    FROM m JOIN f{n_iter} f ON f.gcell = m.gcell) WHERE rn = 1)""")
    fin = f"fa{n_iter}"
    ctes.append(f"""pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM v a JOIN {fin} xa ON xa.vec_id = a.vec_id
       JOIN v b ON a.vec_id < b.vec_id
       JOIN {fin} xb ON xb.vec_id = b.vec_id AND xb.fcell = xa.fcell
  WHERE list_cosine_similarity(a.embedding, b.embedding) >= {thr})""")
    ctes.append("""edges AS (
  SELECT va AS src, vb AS dst FROM pairs
  UNION ALL
  SELECT vb AS src, va AS dst FROM pairs)""")
    ctes.append("""reach(a, b) AS (
  SELECT vec_id, vec_id FROM v
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)""")
    ctes.append(
        "lab AS (SELECT a AS vec_id, min(b) AS component FROM reach GROUP BY a)"
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"""
SELECT x.vec_id, CAST(x.fcell AS INTEGER) AS cell,
       l.component AS keeper, (l.component = x.vec_id) AS is_kept
FROM {fin} x JOIN lab l ON l.vec_id = x.vec_id
ORDER BY x.vec_id"""
    )


# q141 re-based round 8 to the hierarchical two-level fit (VERDICT r7
# item 1): the replay derives k, k_c = ceil(√k), and k_f = ceil(k/k_c)
# from the corpus exactly as the engine does, so the oracle
# adjudicates the POLICY — including the probe-width-1 candidate
# restriction — at any sf (k/kc/kf = 9/3/3 at the driver corpus,
# 33/6/6 at sf0.1). The r7 flat k∝n replay generator (_semdedup_sql)
# is kept for the scaling tool's retired-reference row.
EXT_ORACLE["q141"] = _semdedup_two_level_sql()

# q142: bigram count-LM replay — same tokenization, corpus bigram/
# unigram counts, vocabulary size, add-one smoothing, per-doc mean.
EXT_ORACLE["q142"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
bg0 AS (
  SELECT doc_id,
         unnest([struct_pack(a := w[i], b := w[i + 1])
                 FOR i IN generate_series(1, len(w) - 1)]) AS p
  FROM tk),
bg AS (SELECT doc_id, p.a AS a, p.b AS b FROM bg0),
tok AS (SELECT unnest(w) AS t FROM tk),
c1 AS (SELECT t, count(*) AS c1 FROM tok GROUP BY t),
vv AS (SELECT count(*) AS v FROM c1),
c2 AS (SELECT a, b, count(*) AS c2 FROM bg GROUP BY a, b),
sc AS (
  SELECT bg.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + vv.v)) AS lp
  FROM bg JOIN c2 USING (a, b)
          JOIN c1 ON c1.t = bg.a, vv)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(lp), 2) + 0.0 AS avg_logp
FROM sc GROUP BY doc_id
ORDER BY doc_id
"""

# q143/q144: real PNG decode adjudication. The oracle side reads the
# INDEPENDENTLY-computed truth table (tools/make_png_fixture.py builds
# it from the raw pixel arrays with plain loop math before encoding —
# the codec under test never touches it), so the hash row is a direct
# decoder-vs-ground-truth check; q144's row additionally pins the
# decode -> nearest-neighbor resize -> re-encode -> decode loop.
from ..sources.png_fixture import TRUTH_PATH as _PNG_TRUTH  # noqa: E402

EXT_ORACLE["q143"] = f"""
SELECT img_id, width, height, channels, pix_sha,
       sum_r, sum_g, sum_b, sum_a
FROM read_parquet('{_PNG_TRUTH}')
ORDER BY img_id
"""

EXT_ORACLE["q144"] = f"""
SELECT img_id, rs_width AS width, rs_height AS height, channels,
       rs_pix_sha AS pix_sha
FROM read_parquet('{_PNG_TRUTH}')
ORDER BY img_id
"""

# q145/q146: real WAV decode adjudication — truth computed from raw
# sample values (loop math), clips written by the stdlib wave module;
# see tools/make_wav_fixture.py.
from ..sources.wav_fixture import TRUTH_PATH as _WAV_TRUTH  # noqa: E402

EXT_ORACLE["q145"] = f"""
SELECT clip_id, sample_rate, n_channels, sample_width, n_frames,
       frames_sha, sumsq_c0, sumsq_c1, zero_cross
FROM read_parquet('{_WAV_TRUTH}')
ORDER BY clip_id
"""

# q149/q150/q151: GIF + BMP decode adjudication. Truth tables are
# loop-math-computed from the raw index/pixel arrays BEFORE container
# assembly (sources/gif_fixture.py truth_rows, bmp_fixture.py
# truth_row); the BMP containers are struct-packed by the fixture
# module, never by the decoder's own encoder, and the GIF decoder was
# validated against third-party-encoded files. q151 selects the
# even-frame subset — the nested array<binary> sampling contract —
# and its pix_sha equality with the GIF truth pins the GIF→PNG→decode
# loop as lossless.
from ..sources.bmp_fixture import TRUTH_PATH as _BMP_TRUTH  # noqa: E402
from ..sources.gif_fixture import FRAME_EVERY_N as _GIF_EVERY  # noqa: E402
from ..sources.gif_fixture import TRUTH_PATH as _GIF_TRUTH  # noqa: E402

EXT_ORACLE["q149"] = f"""
SELECT gif_id, frame_idx, n_frames, screen_w, screen_h,
       "left" AS f_left, "top" AS f_top, width, height, interlaced,
       pix_sha, sum_r, sum_g, sum_b
FROM read_parquet('{_GIF_TRUTH}')
ORDER BY gif_id, frame_idx
"""

EXT_ORACLE["q150"] = f"""
SELECT img_id, width, height, channels, pix_sha, sum_r, sum_g, sum_b
FROM read_parquet('{_BMP_TRUTH}')
ORDER BY img_id
"""

# q154: baseline JPEG decode adjudication — truth decoded from the
# quantized coefficients with pure loop math over the shared cosine
# basis (sources/jpeg_fixture.py truth_row; no bitstream, no numpy,
# no codec), so the green row verifies the whole Huffman/entropy
# layer AND the vectorized IDCT/color math against an independent
# scalar implementation of the pinned decode spec.
from ..sources.jpeg_fixture import TRUTH_PATH as _JPEG_TRUTH  # noqa: E402

EXT_ORACLE["q154"] = f"""
SELECT img_id, width, height, channels, pix_sha, sum_r, sum_g, sum_b
FROM read_parquet('{_JPEG_TRUTH}')
ORDER BY img_id
"""

from ..sources.ico_fixture import TRUTH_PATH as _ICO_TRUTH  # noqa: E402
from ..sources.wav_fixture import G711_TRUTH_PATH as _G711_TRUTH  # noqa: E402

# q160: G.711 A-law/ulaw decode — truth expanded from the code bytes
# with independent pure-Python ITU formulas (loop math, no codec).
EXT_ORACLE["q160"] = f"""
SELECT clip_id, sample_rate, n_channels, sample_width, n_frames,
       frames_sha, sumsq_c0, sumsq_c1, zero_cross
FROM read_parquet('{_G711_TRUTH}')
ORDER BY clip_id
"""

from ..sources.warc_fixture import TRUTH_PATH as _WARC_TRUTH  # noqa: E402
from ..sources.zip_fixture import TRUTH_PATH as _ZIP_TRUTH  # noqa: E402

# q171: HTML → text — truth replays the declared policy over the
# pre-render block structure (plain string ops, fixture-owned
# entity table; no parser in the truth path).
from ..sources.html_fixture import TRUTH_PATH as _HTML_TRUTH  # noqa: E402

EXT_ORACLE["q171"] = f"""
SELECT page_id, text, n_chars
FROM read_parquet('{_HTML_TRUTH}')
ORDER BY page_id
"""

# q170: PDF text extraction — truth is the operation scripts
# replayed by the declared layout policy (no parser/filter/escape
# in the truth path).
from ..sources.pdf_fixture import TRUTH_PATH as _PDF_TRUTH  # noqa: E402

EXT_ORACLE["q170"] = f"""
SELECT doc_id, page_idx, n_pages, text, n_chars
FROM read_parquet('{_PDF_TRUTH}')
ORDER BY doc_id, page_idx
"""

# q169: EXIF camera metadata — truth straight from the metadata
# dicts, never via the JPEG/TIFF parsers under test.
from ..sources.exif_fixture import TRUTH_PATH as _EXIF_TRUTH  # noqa: E402

EXT_ORACLE["q169"] = f"""
SELECT img_id, make, model, orientation, datetime, exif_w, exif_h,
       iso, exposure_num, exposure_den, fnumber_num, fnumber_den
FROM read_parquet('{_EXIF_TRUTH}')
ORDER BY img_id
"""

# q168: frequency-domain audio features — truth spectrum is a
# pure-Python O(N²) loop DFT over the raw pre-encode samples (no
# shared algorithm with the engine's numpy rFFT); boundary-guarded.
from ..sources.spectral_fixture import TRUTH_PATH as _SPEC_TRUTH  # noqa: E402

EXT_ORACLE["q168"] = f"""
SELECT clip_id, sample_rate, n_channels, n_frames, n_fft,
       dominant_bin, dominant_hz, centroid_x10
FROM read_parquet('{_SPEC_TRUTH}')
ORDER BY clip_id
"""

# q167: WebDataset tar-shard ingestion — truth from the sample dicts
# before tar assembly; the pixel sha is over RAW pixels, so the row
# adjudicates the extract→decode composition.
from ..sources.wds_fixture import TRUTH_PATH as _WDS_TRUTH  # noqa: E402

EXT_ORACLE["q167"] = f"""
SELECT shard, sample_idx, key, n_members, cls, caption,
       width, height, channels, pix_sha
FROM read_parquet('{_WDS_TRUTH}')
ORDER BY shard, sample_idx
"""

# q166: ZIP dataset-archive ingestion — truth from the (name, bytes)
# member pairs before archiving (stdlib only, no archive reader).
EXT_ORACLE["q166"] = f"""
SELECT zip_id, entry_idx, name, method, n_bytes, content_sha, text
FROM read_parquet('{_ZIP_TRUTH}')
ORDER BY zip_id, entry_idx
"""

# q165: web-corpus capstone — every stage replayed from the
# pre-assembly WARC truth: text-bearing responses → quality floor →
# exact dedup (GROUP BY text, keep-min key) → the q162 recursive-CTE
# greedy fold at budget 16 over 2 md5 buckets.
EXT_ORACLE["q165"] = f"""
WITH RECURSIVE raw AS (
  SELECT file_id * 100 + rec_idx AS key, text,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS tok
  FROM read_parquet('{_WARC_TRUTH}')
  WHERE rec_type = 'response' AND text IS NOT NULL
), dedup AS (
  SELECT min(key) AS doc_id, min(tok) AS tok
  FROM raw WHERE tok >= 4 GROUP BY text
), d AS (
  SELECT doc_id, tok,
         CAST(({_h32("doc_id::VARCHAR")}) % 2 AS INT) AS bucket,
         row_number() OVER (
           PARTITION BY CAST(({_h32("doc_id::VARCHAR")}) % 2 AS INT)
           ORDER BY doc_id) AS rn
  FROM dedup
), s AS (
  SELECT bucket, rn, doc_id, tok, tok AS acc, CAST(0 AS BIGINT) AS pack
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.tok,
         CASE WHEN s.acc + d.tok > 16 THEN d.tok
              ELSE s.acc + d.tok END,
         CASE WHEN s.acc + d.tok > 16 THEN s.pack + 1
              ELSE s.pack END
  FROM s JOIN d ON d.bucket = s.bucket AND d.rn = s.rn + 1
)
SELECT bucket, pack AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM s GROUP BY bucket, pack ORDER BY bucket, pack
"""

# q164: baseline TIFF decode — truth from the display-pixel formulas
# before container assembly (loop math, no codec).
from ..sources.tiff_fixture import TRUTH_PATH as _TIFF_TRUTH  # noqa: E402

EXT_ORACLE["q164"] = f"""
SELECT img_id, width, height, channels, pix_sha,
       sum_c0 AS sum_r, sum_c1 AS sum_g, sum_c2 AS sum_b,
       sum_c3 AS sum_a
FROM read_parquet('{_TIFF_TRUTH}')
ORDER BY img_id
"""

# q163: WARC web-archive ingestion — truth from the record dicts
# before container assembly (stdlib only, no parser).
EXT_ORACLE["q163"] = f"""
SELECT file_id, rec_idx, rec_type, rec_id, target_uri,
       http_status, mime, content_len, content_sha, text
FROM read_parquet('{_WARC_TRUTH}')
ORDER BY file_id, rec_idx
"""

# q162: exact greedy sequence packing — the suite's first
# sequential-semantics oracle: a RECURSIVE CTE replays the identical
# greedy fold (same md5 bucket, same doc_id order, same
# join-unless-overflow rule) row by row; each iteration advances
# every bucket by one document, so depth = the largest bucket.
EXT_ORACLE["q162"] = f"""
WITH RECURSIVE d AS MATERIALIZED (
  SELECT doc_id, tok, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> '')) AS BIGINT) AS tok,
           CAST(({_h32("doc_id::VARCHAR")}) % 16 AS INT) AS bucket
    FROM documents)
), s AS (
  SELECT bucket, rn, doc_id, tok, tok AS acc, CAST(0 AS BIGINT) AS pack
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.tok,
         CASE WHEN s.acc + d.tok > 512 THEN d.tok
              ELSE s.acc + d.tok END,
         CASE WHEN s.acc + d.tok > 512 THEN s.pack + 1
              ELSE s.pack END
  FROM s JOIN d ON d.bucket = s.bucket AND d.rn = s.rn + 1
)
SELECT bucket, pack AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM s GROUP BY bucket, pack ORDER BY bucket, pack
"""

# q161: AVI/MJPEG video decode — truth is the loop-math decode of
# each frame's quantized coefficient planes (the q154 scheme), never
# the demuxer or JPEG codec; the stride filter mirrors the declared
# frame-sampling policy exactly as q151's does.
from ..sources.avi_fixture import (  # noqa: E402
    TRUTH_PATH as _AVI_TRUTH,
    VIDEO_EVERY_N as _AVI_EVERY,
)

EXT_ORACLE["q161"] = f"""
SELECT video_id, frame_idx, n_frames, fps_num, fps_den,
       width, height, channels, pix_sha, sum_r, sum_g, sum_b
FROM read_parquet('{_AVI_TRUTH}')
WHERE frame_idx % {_AVI_EVERY} = 0
ORDER BY video_id, frame_idx
"""

# q159: ICO/favicon decode — truth from raw RGBA arrays before
# container assembly (loop math, no codec, no numpy).
EXT_ORACLE["q159"] = f"""
SELECT ico_id, width, height, channels, pix_sha,
       sum_r, sum_g, sum_b, sum_a
FROM read_parquet('{_ICO_TRUTH}')
ORDER BY ico_id
"""

# q157: progressive JPEG — the committed SOF2 twins carry the SAME
# quantized coefficients as the baseline fixtures, so the oracle is
# the SAME independent loop-math truth: a green row certifies the
# multi-scan entropy layer reconstructs every coefficient exactly.
EXT_ORACLE["q157"] = EXT_ORACLE["q154"]

EXT_ORACLE["q151"] = f"""
SELECT gif_id, frame_idx, width, height, 3 AS channels,
       pix_sha, sum_r, sum_g, sum_b
FROM read_parquet('{_GIF_TRUTH}')
WHERE frame_idx % {_GIF_EVERY} = 0
ORDER BY gif_id, frame_idx
"""

EXT_ORACLE["q146"] = f"""
SELECT clip_id, dm_sample_rate AS sample_rate,
       1 AS n_channels, dm_n_frames AS n_frames,
       dm_frames_sha AS frames_sha, dm_sumsq AS sumsq
FROM read_parquet('{_WAV_TRUTH}')
ORDER BY clip_id
"""

# q152: incremental snapshot maintenance — the oracle is a FULL
# RECOMPUTE of the W1 daily snapshot over ALL revisions (base ∪
# delta; the q21 replay keeping the maintenance-state columns), while
# the Spark side runs the incremental merge of a base-split state
# with the rev_seq%5 delta batch. Equality IS the refresh-equals-
# recompute contract (argmin associativity over (timestamp, rev_seq)).
from ..sources.wiki_fixture import FIXTURE_PATH as _WIKI_FIX  # noqa: E402

EXT_ORACLE["q152"] = f"""
WITH f AS (
  SELECT * FROM read_parquet('{_WIKI_FIX}')
  WHERE namespace = '0' AND timestamp >= TIMESTAMP '2001-01-15 00:00:00'
),
w AS (
  SELECT *, row_number() OVER (
      PARTITION BY page_id, CAST(timestamp AS DATE)
      ORDER BY timestamp, rev_seq) AS rn
  FROM f)
SELECT page_id, CAST(CAST(timestamp AS DATE) AS VARCHAR) AS day,
       rev_seq, title,
       strftime(timestamp, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       coalesce(text, '') AS text
FROM w WHERE rn = 1
ORDER BY page_id, day
"""

# q155: the STORAGE half of q152 — the Spark side writes the base
# snapshot state partitionBy(day), refreshes ONLY the delta-touched
# day partitions (pruned scan in, dynamic partition overwrite out),
# and returns the store read back from disk; the oracle stays the
# FULL RECOMPUTE, so the green row is refresh ≡ recompute INCLUDING
# the disk round-trip. Untouched-file byte-identity is pinned in
# tests/test_snapshot.py (an IO fact SQL cannot see).
EXT_ORACLE["q155"] = EXT_ORACLE["q152"]

# q156: incremental-agg rollup lifecycle — the Spark side folds four
# event batches into an at-rest state table via three successive
# disk → merge_states → disk refreshes; the oracle is one GROUP BY
# over all events (merge ≡ recompute for algebraic aggregates).
EXT_ORACLE["q156"] = """
SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       count(*) AS state_n,
       round(sum(value), 2) + 0.0 AS sum_value,
       round(min(value), 2) + 0.0 AS min_value,
       round(max(value), 2) + 0.0 AS max_value,
       floor(round(sum(value), 2) / count(*) * 100 + 0.5) / 100.0
         AS avg_value
FROM events
GROUP BY event_type, CAST(ts AS DATE)
ORDER BY event_type, day
"""

# q147: schema-evolution replay — three differently-shaped batches
# union-by-name'd with absent columns NULL, the exact relation the
# mergeSchema scan must produce. n_tok uses the same whitespace
# tokenization as q142's oracle.
EXT_ORACLE["q147"] = """
WITH tok AS (
  SELECT doc_id, lang, text,
         len(list_filter(string_split_regex(text, '\\s+'),
             x -> x <> ''))::BIGINT AS n_tok
  FROM documents)
SELECT * FROM (
  SELECT 1 AS batch, doc_id, text,
         NULL::VARCHAR AS lang, NULL::BIGINT AS n_tok
  FROM tok WHERE doc_id < 100
  UNION ALL
  SELECT 2, doc_id, text, lang, n_tok
  FROM tok WHERE doc_id >= 100 AND doc_id < 200
  UNION ALL
  SELECT 3, doc_id, NULL::VARCHAR, lang, n_tok
  FROM tok WHERE doc_id >= 200 AND doc_id < 300)
ORDER BY batch, doc_id
"""

# q153: the explicit-schema drift scan must produce exactly the
# relation mergeSchema infers — same replay as q147 (the scan path is
# an engine concern, never a semantic one).
EXT_ORACLE["q153"] = EXT_ORACLE["q147"]

# q148: bucketed co-located join == the plain join (bucketing is a
# physical layout, never a semantic change).
EXT_ORACLE["q148"] = """
SELECT o_orderstatus, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

# q172: real BPE token counts. The oracle REPLAYS the greedy BPE
# apply loop (lowest merge rank, then leftmost occurrence, one merge
# per step) as a recursive CTE over the COMMITTED merge table — the
# same file Spark's Arrow encode UDF broadcasts — so both engines
# independently execute the sequential algorithm; the only shared
# artifact is data (fixtures/bpe_merges.parquet, itself pinned to
# the deterministic trainer by tests/test_bpe.py). The composite
# min_by key rank*1e6+i orders by (rank, position); per-word
# recursion depth is bounded by word length.
_BPE_MERGES = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))),
    "fixtures", "bpe_merges.parquet",
)

EXT_ORACLE["q172"] = f"""
WITH RECURSIVE
m AS (SELECT rank, lft, rgt FROM read_parquet('{_BPE_MERGES}')),
words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(regexp_extract_all(
        text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
    FROM documents) u
),
enc(w, it, toks) AS (
  SELECT w, 0, list_transform(generate_series(1, length(w)), i -> w[i])
  FROM words
  UNION ALL
  SELECT w, it + 1,
         toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
  FROM (
    SELECT w, it, toks,
      (SELECT min_by(g.i, m.rank * 1000000 + g.i)
       FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
       JOIN m ON m.lft = toks[g.i] AND m.rgt = toks[g.i + 1]) AS pos
    FROM enc) s
  WHERE pos IS NOT NULL
),
vocab AS (SELECT w, len(max_by(toks, it)) AS n_toks FROM enc GROUP BY w),
doc_words AS (
  SELECT doc_id, w, count(*) AS c FROM (
    SELECT doc_id, unnest(regexp_extract_all(
        text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
    FROM documents) u
  GROUP BY doc_id, w
),
counts AS (
  SELECT doc_id, sum(c) AS n_pretoks, sum(c * n_toks) AS n_tokens
  FROM doc_words JOIN vocab USING (w) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_pretoks, 0) AS BIGINT) AS n_pretoks,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN counts USING (doc_id)
ORDER BY doc_id
"""

# q173: URL canonicalization + canonical-URL keep-first dedup. The
# declared policy (functions.canonical_url's docstring) replayed
# clause-for-clause in DuckDB string functions over the
# pre-assembly truth rows of the messy-URL crawl; first capture via
# a window, multiplicity via count — semantics identical to Spark's
# min_by aggregate.
_WARC_URL_TRUTH = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))),
    "fixtures", "warc_url_truth.parquet",
)


def _canon_url_expr(col: str) -> str:
    """The q173 canonicalization policy as ONE SQL expression — the
    single SQL source of the policy (ADVICE r9: q173 used to inline
    its own copy, leaving two SQL renderings that could drift; every
    canonicalizing oracle now builds from this helper)."""
    u = f"regexp_replace({col}, '#.*$', '')"
    scheme = (
        f"lower(regexp_extract({u}, "
        f"'^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    )
    auth = f"lower(regexp_extract({u}, '^[^:/?#]+://([^/?#]*)', 1))"
    host = (
        f"CASE WHEN {scheme} = 'http' AND {auth} LIKE '%:80' "
        f"THEN substr({auth}, 1, length({auth}) - 3) "
        f"WHEN {scheme} = 'https' AND {auth} LIKE '%:443' "
        f"THEN substr({auth}, 1, length({auth}) - 4) "
        f"ELSE {auth} END"
    )
    rp = (
        f"regexp_replace(regexp_extract({u}, "
        f"'^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/+$', '')"
    )
    path = f"CASE WHEN {rp} = '' THEN '/' ELSE {rp} END"
    qq = f"regexp_extract({u}, '\\?([^#]*)', 1)"
    qs = (
        f"CASE WHEN {qq} = '' THEN '' ELSE '?' || array_to_string("
        f"list_sort(string_split({qq}, '&')), '&') END"
    )
    return (
        f"CASE WHEN {scheme} = '' THEN NULL "
        f"ELSE {scheme} || '://' || {host} || {path} || {qs} END"
    )


EXT_ORACLE["q173"] = f"""
WITH canon AS (
  SELECT file_id, rec_idx, text,
         {_canon_url_expr('raw_uri')} AS url
  FROM read_parquet('{_WARC_URL_TRUTH}')
  WHERE rec_type = 'response'
),
w AS (
  SELECT url, file_id, rec_idx, text,
         row_number() OVER (
           PARTITION BY url ORDER BY file_id, rec_idx) AS rn,
         count(*) OVER (PARTITION BY url) AS n_captures
  FROM canon WHERE url IS NOT NULL
)
SELECT url AS canonical_url,
       CAST(file_id AS BIGINT) AS first_file,
       CAST(rec_idx AS BIGINT) AS first_idx,
       CAST(n_captures AS BIGINT) AS n_captures,
       text AS kept_text
FROM w WHERE rn = 1
ORDER BY canonical_url
"""

# q174: C4 page cleanup. Shared artifact = the corpus rows only
# (sources/c4_fixture.py formatted into a VALUES literal); the rules
# replay independently in DuckDB list/regex functions.
from ..sources.c4_fixture import DOCS as _C4_DOCS


def _sqlstr(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_C4_VALUES = ",\n  ".join(
    f"({i}, {_sqlstr(t)})" for i, t in _C4_DOCS
)

EXT_ORACLE["q174"] = f"""
WITH docs(doc_id, text) AS (VALUES
  {_C4_VALUES}
),
l AS (
  SELECT doc_id, text,
         list_transform(string_split(text, chr(10)),
                        x -> trim(x)) AS lines
  FROM docs
),
k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, x ->
           regexp_matches(x, '[.!?"]$') AND
           len(list_filter(regexp_split_to_array(x, '\\s+'),
                           t -> t <> '')) >= 5) AS kept
  FROM l
),
c AS (
  SELECT doc_id, text, lines, kept,
         array_to_string(kept, chr(10)) AS clean_text,
         len(regexp_extract_all(
           array_to_string(kept, chr(10)), '[.!?]+')) AS n_sentences
  FROM k
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, clean_text,
       CAST(len(lines) AS INT) AS n_lines_in,
       CAST(len(kept) AS INT) AS n_lines_kept,
       CAST(n_sentences AS INT) AS n_sentences
FROM c
WHERE NOT contains(text, '{{') AND NOT contains(text, '}}')
  AND NOT contains(lower(text), 'lorem ipsum')
  AND n_sentences >= 3
ORDER BY doc_id
"""

# q175: real-BPE-budgeted greedy packing — the q172 recursive-CTE
# encode (same committed merge table) composed with the q162
# recursive-CTE greedy fold (budget 256, 16 md5 buckets): two
# sequential replays chained in one oracle.
EXT_ORACLE["q175"] = f"""
WITH RECURSIVE
m AS (SELECT rank, lft, rgt FROM read_parquet('{_BPE_MERGES}')),
words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(regexp_extract_all(
        text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
    FROM documents) u
),
enc(w, it, toks) AS (
  SELECT w, 0, list_transform(generate_series(1, length(w)), i -> w[i])
  FROM words
  UNION ALL
  SELECT w, it + 1,
         toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
  FROM (
    SELECT w, it, toks,
      (SELECT min_by(g.i, m.rank * 1000000 + g.i)
       FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
       JOIN m ON m.lft = toks[g.i] AND m.rgt = toks[g.i + 1]) AS pos
    FROM enc) s
  WHERE pos IS NOT NULL
),
vocab AS MATERIALIZED (SELECT w, len(max_by(toks, it)) AS n_toks FROM enc GROUP BY w),
doc_words AS MATERIALIZED (
  SELECT doc_id, w, count(*) AS c FROM (
    SELECT doc_id, unnest(regexp_extract_all(
        text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
    FROM documents) u
  GROUP BY doc_id, w
),
bpe AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(coalesce(sum(c * n_toks), 0) AS BIGINT) AS tok
  FROM documents d
  LEFT JOIN (SELECT doc_id, c, n_toks
             FROM doc_words JOIN vocab USING (w)) j
    ON d.doc_id = j.doc_id
  GROUP BY d.doc_id
),
d AS MATERIALIZED (
  SELECT doc_id, tok,
         CAST(({_h32("doc_id::VARCHAR")}) % 16 AS INT) AS bucket,
         row_number() OVER (
           PARTITION BY CAST(({_h32("doc_id::VARCHAR")}) % 16 AS INT)
           ORDER BY doc_id) AS rn
  FROM bpe
),
s AS (
  SELECT bucket, rn, doc_id, tok, tok AS acc, CAST(0 AS BIGINT) AS pack
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.tok,
         CASE WHEN s.acc + d.tok > 256 THEN d.tok
              ELSE s.acc + d.tok END,
         CASE WHEN s.acc + d.tok > 256 THEN s.pack + 1
              ELSE s.pack END
  FROM s JOIN d ON d.bucket = s.bucket AND d.rn = s.rn + 1
)
SELECT bucket, pack AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM s GROUP BY bucket, pack ORDER BY bucket, pack
"""

# q176: BPE vocabulary statistics — the q172 recursive-CTE encode
# re-aggregated at TOKEN grain: unnest each word's final token list,
# weight by corpus word frequency, count source-word diversity.
EXT_ORACLE["q176"] = f"""
WITH RECURSIVE
m AS (SELECT rank, lft, rgt FROM read_parquet('{_BPE_MERGES}')),
wc AS (
  SELECT w, count(*) AS wc FROM (
    SELECT unnest(regexp_extract_all(
        text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
    FROM documents) u
  GROUP BY w
),
enc(w, it, toks) AS (
  SELECT w, 0, list_transform(generate_series(1, length(w)), i -> w[i])
  FROM (SELECT w FROM wc) words
  UNION ALL
  SELECT w, it + 1,
         toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
  FROM (
    SELECT w, it, toks,
      (SELECT min_by(g.i, m.rank * 1000000 + g.i)
       FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
       JOIN m ON m.lft = toks[g.i] AND m.rgt = toks[g.i + 1]) AS pos
    FROM enc) s
  WHERE pos IS NOT NULL
),
vocab AS (SELECT w, max_by(toks, it) AS toks FROM enc GROUP BY w),
tok AS (
  SELECT w, unnest(toks) AS token FROM vocab
),
per_word AS (
  SELECT w, token, count(*) AS mult FROM tok GROUP BY w, token
)
SELECT token,
       CAST(sum(mult * wc) AS BIGINT) AS n_occurrences,
       CAST(count(*) AS BIGINT) AS n_source_words
FROM per_word JOIN wc USING (w)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 30
"""

# Byte-level BPE replay infrastructure (q183/q178; VERDICT r9
# item 1) — defined here so the q178 capstone oracle below can
# seed from the same SQL rendering as q183.
_BPE_BYTE_MERGES = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))),
    "fixtures", "bpe_byte_merges.parquet",
)

_RE_UNI_SQL = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"

from ..sources.bpe_fixture import MULTILINGUAL as _MULTILINGUAL  # noqa: E402

_MULTI_VALUES = ",\n  ".join(
    f"({i}, {_sqlstr(t)})" for i, t in _MULTILINGUAL
)

# Reusable CTE block: words(w) -> mapped(w, toks) byte-symbol seeds.
# Rendered as a format-ready fragment so q178/q184's composed
# oracles seed from the same SQL rendering.
_BYTE_SEED_CTES = f"""
printable AS (
  SELECT CAST(b AS INTEGER) AS b,
         ((b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
          OR (b BETWEEN 174 AND 255)) AS pr
  FROM range(256) t(b)
),
bytemap AS (
  SELECT b, CASE WHEN pr THEN chr(b)
    ELSE chr(CAST(256 + (SELECT count(*) FROM printable p2
                         WHERE p2.b < printable.b AND NOT p2.pr)
             AS INTEGER)) END AS ch
  FROM printable
),
hx AS (SELECT w, upper(hex(encode(w))) AS h FROM words),
wb AS (
  SELECT w,
         CAST(i AS INTEGER) AS i,
         CAST((strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1)
              * 16
              + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1
         AS INTEGER) AS b
  FROM hx, LATERAL unnest(generate_series(1, length(h) // 2)) g(i)
),
mapped AS MATERIALIZED (
  SELECT w, list(ch ORDER BY i) AS toks
  FROM wb JOIN bytemap USING (b) GROUP BY w
)"""


# q178: the chained capstone replay — C4 rules (list/regex) feed the
# BYTE-seeded BPE recursive-CTE encode (committed byte-merge table,
# unicode pre-tokenizer — the round-10 currency rewire) feed the
# greedy recursive-CTE fold.
EXT_ORACLE["q178"] = f"""
WITH RECURSIVE
docs(doc_id, text) AS (VALUES
  {_C4_VALUES}
),
l AS (
  SELECT doc_id, text,
         list_transform(string_split(text, chr(10)),
                        x -> trim(x)) AS lines
  FROM docs
),
k AS (
  SELECT doc_id, text,
         list_filter(lines, x ->
           regexp_matches(x, '[.!?"]$') AND
           len(list_filter(regexp_split_to_array(x, '\\s+'),
                           t -> t <> '')) >= 5) AS kept
  FROM l
),
cleaned AS (
  SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text
  FROM k
  WHERE NOT contains(text, '{{') AND NOT contains(text, '}}')
    AND NOT contains(lower(text), 'lorem ipsum')
    AND len(regexp_extract_all(
          array_to_string(kept, chr(10)), '[.!?]+')) >= 3
),
m AS MATERIALIZED (
  SELECT rank, lft, rgt FROM read_parquet('{_BPE_BYTE_MERGES}')),
wc AS (
  SELECT doc_id, w, count(*) AS c FROM (
    SELECT doc_id, unnest(regexp_extract_all(
        clean_text, '{_RE_UNI_SQL}')) AS w
    FROM cleaned) u
  GROUP BY doc_id, w
),
words AS (SELECT DISTINCT w FROM wc),
{_BYTE_SEED_CTES},
enc(w, it, toks) AS (
  SELECT w, 0, toks FROM mapped
  UNION ALL
  SELECT w, it + 1,
         toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
  FROM (
    SELECT w, it, toks,
      (SELECT min_by(g.i, m.rank * 1000000 + g.i)
       FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
       JOIN m ON m.lft = toks[g.i] AND m.rgt = toks[g.i + 1]) AS pos
    FROM enc) s
  WHERE pos IS NOT NULL
),
vocab AS (SELECT w, len(max_by(toks, it)) AS n_toks FROM enc GROUP BY w),
bpe AS (
  SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
         CAST(coalesce(sum(wc.c * vocab.n_toks), 0) AS BIGINT) AS tok
  FROM cleaned c
  LEFT JOIN wc ON wc.doc_id = c.doc_id
  LEFT JOIN vocab ON vocab.w = wc.w
  GROUP BY c.doc_id
),
d AS (
  SELECT doc_id, tok,
         CAST(({_h32("doc_id::VARCHAR")}) % 2 AS INT) AS bucket,
         row_number() OVER (
           PARTITION BY CAST(({_h32("doc_id::VARCHAR")}) % 2 AS INT)
           ORDER BY doc_id) AS rn
  FROM bpe
),
s AS (
  SELECT bucket, rn, doc_id, tok, tok AS acc, CAST(0 AS BIGINT) AS pack
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.tok,
         CASE WHEN s.acc + d.tok > 256 THEN d.tok
              ELSE s.acc + d.tok END,
         CASE WHEN s.acc + d.tok > 256 THEN s.pack + 1
              ELSE s.pack END
  FROM s JOIN d ON d.bucket = s.bucket AND d.rn = s.rn + 1
)
SELECT bucket, pack AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM s GROUP BY bucket, pack ORDER BY bucket, pack
"""

# q179: Bloom-filter URL seen-set. The oracle replays every bit
# decision with the same portable hash (position-SET formulation —
# p present in the seen positions ⟺ the engine's bitmap bit is set,
# by construction), so both the no-false-negative law and each
# deterministic false positive are adjudicated facts.
def _bloom_pos(expr: str, i: int, m: int) -> str:
    return f"(({_h32(f'({expr}) || ' + chr(39) + '#' + str(i) + chr(39))}) % {m})"


EXT_ORACLE["q179"] = f"""
WITH seen AS (
  SELECT 'https://seen.example/p' || CAST(i AS VARCHAR) AS url
  FROM range(200) t(i)
),
probes AS (
  SELECT url FROM seen
  WHERE url IN ('https://seen.example/p0', 'https://seen.example/p50',
                'https://seen.example/p199')
  UNION ALL
  SELECT 'https://new.example/q' || CAST(i AS VARCHAR) FROM range(10) t(i)
),
bits AS (
  SELECT DISTINCT p FROM (
    SELECT {_bloom_pos('url', 0, 256)} AS p FROM seen
    UNION ALL
    SELECT {_bloom_pos('url', 1, 256)} AS p FROM seen)
),
probed AS (
  SELECT url,
         ({_bloom_pos('url', 0, 256)} IN (SELECT p FROM bits)) AND
         ({_bloom_pos('url', 1, 256)} IN (SELECT p FROM bits))
           AS in_bloom,
         url IN (SELECT url FROM seen) AS seen
  FROM probes
)
SELECT url, in_bloom, seen,
       (in_bloom AND NOT seen) AS false_positive
FROM probed
ORDER BY url
"""

# q180: robots.txt compliance — rules replayed from the WARC truth
# rows with the same positional-group window and longest-match
# verdict; candidate urls single-sourced from the fixture module.
from ..sources.warc_fixture import (  # noqa: E402
    ROBOTS_CANDIDATES as _ROBOTS_CANDS,
)

_ROBOTS_VALUES = ", ".join(f"('{u}')" for u in _ROBOTS_CANDS)

EXT_ORACLE["q180"] = f"""
WITH resp AS (
  SELECT lower(regexp_extract(
           target_uri, '^[^:/?#]+://([^/?#]*)', 1)) AS host,
         text
  FROM read_parquet('{_WARC_TRUTH}')
  WHERE rec_type = 'response' AND target_uri LIKE '%robots.txt'
),
lines AS (
  SELECT host, g.ln,
         trim(regexp_replace(parts[g.ln], '\r$', '')) AS line
  FROM (SELECT host, string_split(text, chr(10)) AS parts
        FROM resp) t,
       LATERAL (SELECT unnest(generate_series(1, len(parts)))
                AS ln) g
),
parsed AS (
  SELECT host, ln,
         regexp_extract(line, '(?i)^user-agent:\\s*(\\S+)', 1) AS ua,
         lower(regexp_extract(
           line, '(?i)^(allow|disallow|crawl-delay):', 1)) AS rule,
         trim(regexp_extract(
           line, '(?i)^(?:allow|disallow|crawl-delay):\\s*(\\S*)',
           1)) AS prefix
  FROM lines
),
-- RFC 9309 group runs (round 10): non-group lines drop first (they
-- never break a UA run), a UA line after rules starts a new run,
-- and every UA of a run owns every rule of its group.
kept AS (
  SELECT * FROM parsed
  WHERE ua <> '' OR (rule <> '' AND prefix <> '')
),
runs AS (
  SELECT *,
         CASE WHEN ua <> '' AND NOT coalesce(
                lag(ua <> '') OVER (PARTITION BY host ORDER BY ln),
                FALSE)
              THEN 1 ELSE 0 END AS run_start
  FROM kept
),
rids AS (
  SELECT *, sum(run_start) OVER (PARTITION BY host ORDER BY ln
             ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
),
scoped AS (
  SELECT *, max(CASE WHEN ua <> '' THEN run_id END)
              OVER (PARTITION BY host ORDER BY ln
                    ROWS UNBOUNDED PRECEDING) AS grp
  FROM rids
),
rules AS (
  SELECT s.host, s.rule, s.prefix
  FROM scoped s
  JOIN (SELECT host, run_id AS grp, ua FROM scoped
        WHERE ua <> '') u
    ON u.host = s.host AND u.grp = s.grp
  WHERE u.ua = '*' AND s.rule IN ('allow', 'disallow')
    AND s.prefix <> ''
),
cand(url) AS (VALUES {_ROBOTS_VALUES}),
u AS (
  SELECT url,
         lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1))
           AS host,
         regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
           AS path
  FROM cand
),
j AS (
  SELECT u.url, r.rule, r.prefix,
         (r.prefix IS NOT NULL
          AND starts_with(u.path, r.prefix)) AS hit
  FROM u LEFT JOIN rules r ON r.host = u.host
),
v AS (
  SELECT url,
         max(CASE WHEN hit THEN 1 ELSE 0 END) AS any_hit,
         max_by(rule = 'allow',
                CASE WHEN hit
                     THEN length(prefix) * 2 +
                          CASE WHEN rule = 'allow' THEN 1 ELSE 0 END
                     ELSE -1 END) AS winner_allow
  FROM j GROUP BY url
)
SELECT url, (any_hit = 0 OR winner_allow) AS allowed
FROM v ORDER BY url
"""

# q181: sitemap discovery — the pre-render entry dicts replayed:
# same canonicalization policy (inline-expression twin of q173's CTE
# form), same freshest-lastmod/max-priority/multiplicity aggregate.
_SITEMAP_TRUTH = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__)))),
    "fixtures", "sitemap_truth.parquet",
)


EXT_ORACLE["q181"] = f"""
SELECT kind,
       {_canon_url_expr('loc')} AS url,
       max(lastmod) AS last_seen,
       max(priority) AS priority,
       CAST(count(*) AS BIGINT) AS n_sources
FROM read_parquet('{_SITEMAP_TRUTH}')
GROUP BY kind, url
ORDER BY kind, url
"""

# q182: crawl-chain capstone — the q181 + q180 + q179 replays
# composed: canonical discovery aggregate, window-parsed robots
# rules with the longest-match verdict, and the bloom bit positions
# over the WARC corpus's fetched canonical URLs.
def _bloom_in(expr: str, k: int, m: int) -> str:
    return " AND ".join(
        f"({_bloom_pos(expr, i, m)} IN (SELECT p FROM bits))"
        for i in range(k)
    )


EXT_ORACLE["q182"] = f"""
WITH disc AS (
  SELECT {_canon_url_expr('loc')} AS url,
         max(lastmod) AS last_seen,
         max(priority) AS priority
  FROM read_parquet('{_SITEMAP_TRUTH}')
  WHERE kind = 'url'
  GROUP BY 1
),
resp AS (
  SELECT lower(regexp_extract(
           target_uri, '^[^:/?#]+://([^/?#]*)', 1)) AS host,
         target_uri, text
  FROM read_parquet('{_WARC_TRUTH}')
  WHERE rec_type = 'response'
),
lines AS (
  SELECT host, g.ln,
         trim(regexp_replace(parts[g.ln], '\r$', '')) AS line
  FROM (SELECT host, string_split(text, chr(10)) AS parts
        FROM resp WHERE target_uri LIKE '%robots.txt') t,
       LATERAL (SELECT unnest(generate_series(1, len(parts)))
                AS ln) g
),
parsed AS (
  SELECT host, ln,
         regexp_extract(line, '(?i)^user-agent:\\s*(\\S+)', 1) AS ua,
         lower(regexp_extract(
           line, '(?i)^(allow|disallow|crawl-delay):', 1)) AS rule,
         trim(regexp_extract(
           line, '(?i)^(?:allow|disallow|crawl-delay):\\s*(\\S*)',
           1)) AS prefix
  FROM lines
),
-- RFC 9309 group runs (round 10): non-group lines drop first (they
-- never break a UA run), a UA line after rules starts a new run,
-- and every UA of a run owns every rule of its group.
kept AS (
  SELECT * FROM parsed
  WHERE ua <> '' OR (rule <> '' AND prefix <> '')
),
runs AS (
  SELECT *,
         CASE WHEN ua <> '' AND NOT coalesce(
                lag(ua <> '') OVER (PARTITION BY host ORDER BY ln),
                FALSE)
              THEN 1 ELSE 0 END AS run_start
  FROM kept
),
rids AS (
  SELECT *, sum(run_start) OVER (PARTITION BY host ORDER BY ln
             ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
),
scoped AS (
  SELECT *, max(CASE WHEN ua <> '' THEN run_id END)
              OVER (PARTITION BY host ORDER BY ln
                    ROWS UNBOUNDED PRECEDING) AS grp
  FROM rids
),
rules AS (
  SELECT s.host, s.rule, s.prefix
  FROM scoped s
  JOIN (SELECT host, run_id AS grp, ua FROM scoped
        WHERE ua <> '') u
    ON u.host = s.host AND u.grp = s.grp
  WHERE u.ua = '*' AND s.rule IN ('allow', 'disallow')
    AND s.prefix <> ''
),
u AS (
  SELECT url,
         lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1))
           AS host,
         regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
           AS path
  FROM disc
),
j AS (
  SELECT u.url, r.rule, r.prefix,
         (r.prefix IS NOT NULL
          AND starts_with(u.path, r.prefix)) AS hit
  FROM u LEFT JOIN rules r ON r.host = u.host
),
verdict AS (
  SELECT url,
         max(CASE WHEN hit THEN 1 ELSE 0 END) AS any_hit,
         max_by(rule = 'allow',
                CASE WHEN hit
                     THEN length(prefix) * 2 +
                          CASE WHEN rule = 'allow' THEN 1 ELSE 0 END
                     ELSE -1 END) AS winner_allow
  FROM j GROUP BY url
),
seen AS (
  -- ADVICE r9: a NULL canonical url (non-URI target) would put a
  -- NULL in the bits set, flipping the IN probes to NULL under SQL
  -- three-valued logic; mirror the Spark side's isNotNull filter.
  SELECT DISTINCT url FROM (
    SELECT {_canon_url_expr('target_uri')} AS url FROM resp)
  WHERE url IS NOT NULL
),
bits AS (
  SELECT DISTINCT p FROM (
    SELECT {_bloom_pos('url', 0, 256)} AS p FROM seen
    UNION ALL
    SELECT {_bloom_pos('url', 1, 256)} AS p FROM seen
    UNION ALL
    SELECT {_bloom_pos('url', 2, 256)} AS p FROM seen)
  WHERE p IS NOT NULL
)
SELECT d.url, d.last_seen, d.priority,
       (v.any_hit = 0 OR v.winner_allow) AS allowed,
       ({_bloom_in('d.url', 3, 256)}) AS already_fetched,
       ((v.any_hit = 0 OR v.winner_allow)
        AND NOT ({_bloom_in('d.url', 3, 256)})) AS fetch
FROM disc d JOIN verdict v ON v.url = d.url
ORDER BY d.url
"""

# q183: BYTE-level BPE token counts. Fully independent replay: the
# GPT-2 byte↔unicode table is derived from the PUBLISHED rule in
# pure SQL (printable latin-1 identity, others chr(256+n) in byte
# order — no shared mapping artifact); each word's UTF-8 bytes come
# from hex(encode(w)) two hex chars at a time; the greedy fold is
# the q172 recursive CTE seeded with the byte symbols and the
# committed BYTE merge table. `m`/`mapped` are MATERIALIZED — the
# recursive member re-evaluates referenced CTE subtrees per level
# otherwise (the q162 lesson).
EXT_ORACLE["q183"] = f"""
WITH RECURSIVE
m AS MATERIALIZED (
  SELECT rank, lft, rgt FROM read_parquet('{_BPE_BYTE_MERGES}')),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES
  {_MULTI_VALUES}) t(doc_id, text)
),
words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(regexp_extract_all(
        text, '{_RE_UNI_SQL}')) AS w
    FROM corpus) u
),
{_BYTE_SEED_CTES},
enc(w, it, toks) AS (
  SELECT w, 0, toks FROM mapped
  UNION ALL
  SELECT w, it + 1,
         toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
  FROM (
    SELECT w, it, toks,
      (SELECT min_by(g.i, m.rank * 1000000 + g.i)
       FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
       JOIN m ON m.lft = toks[g.i] AND m.rgt = toks[g.i + 1]) AS pos
    FROM enc) s
  WHERE pos IS NOT NULL
),
vocab AS (SELECT w, len(max_by(toks, it)) AS n_toks FROM enc GROUP BY w),
doc_words AS (
  SELECT doc_id, w, count(*) AS c FROM (
    SELECT doc_id, unnest(regexp_extract_all(
        text, '{_RE_UNI_SQL}')) AS w
    FROM corpus) u
  GROUP BY doc_id, w
),
counts AS (
  SELECT doc_id, sum(c) AS n_pretoks, sum(c * n_toks) AS n_tokens
  FROM doc_words JOIN vocab USING (w) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_pretoks, 0) AS BIGINT) AS n_pretoks,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens
FROM corpus d LEFT JOIN counts USING (doc_id)
ORDER BY doc_id
"""

# q184: packed training-shard sink round-trip — the q178 chain
# replay extended with per-doc token LISTS: positions kept through
# the lateral unnest, per-word final lists from the recursive
# encode, docs flattened in id order per pack — the exact relation
# the re-read shards must reproduce (the sink's OUTPUT is the
# compared relation, q121's precedent).
EXT_ORACLE["q184"] = f"""
WITH RECURSIVE
docs(doc_id, text) AS (VALUES
  {_C4_VALUES}
),
l AS (
  SELECT doc_id, text,
         list_transform(string_split(text, chr(10)),
                        x -> trim(x)) AS lines
  FROM docs
),
k AS (
  SELECT doc_id, text,
         list_filter(lines, x ->
           regexp_matches(x, '[.!?"]$') AND
           len(list_filter(regexp_split_to_array(x, '\\s+'),
                           t -> t <> '')) >= 5) AS kept
  FROM l
),
cleaned AS (
  SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text
  FROM k
  WHERE NOT contains(text, '{{') AND NOT contains(text, '}}')
    AND NOT contains(lower(text), 'lorem ipsum')
    AND len(regexp_extract_all(
          array_to_string(kept, chr(10)), '[.!?]+')) >= 3
),
m AS MATERIALIZED (
  SELECT rank, lft, rgt FROM read_parquet('{_BPE_BYTE_MERGES}')),
wc AS (
  SELECT doc_id, w, count(*) AS c FROM (
    SELECT doc_id, unnest(regexp_extract_all(
        clean_text, '{_RE_UNI_SQL}')) AS w
    FROM cleaned) u
  GROUP BY doc_id, w
),
words AS (SELECT DISTINCT w FROM wc),
{_BYTE_SEED_CTES},
enc(w, it, toks) AS (
  SELECT w, 0, toks FROM mapped
  UNION ALL
  SELECT w, it + 1,
         toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
  FROM (
    SELECT w, it, toks,
      (SELECT min_by(g.i, m.rank * 1000000 + g.i)
       FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
       JOIN m ON m.lft = toks[g.i] AND m.rgt = toks[g.i + 1]) AS pos
    FROM enc) s
  WHERE pos IS NOT NULL
),
vocab AS (SELECT w, max_by(toks, it) AS wtoks,
                 len(max_by(toks, it)) AS n_toks FROM enc GROUP BY w),
posd AS (
  SELECT doc_id, CAST(g.i AS INTEGER) AS pos, tl[g.i] AS w
  FROM (SELECT doc_id, regexp_extract_all(
          clean_text, '{_RE_UNI_SQL}') AS tl FROM cleaned) t,
       LATERAL unnest(generate_series(1, len(tl))) g(i)
),
doc_toks AS (
  SELECT doc_id, flatten(list(v.wtoks ORDER BY pos)) AS tokens
  FROM posd JOIN vocab v USING (w) GROUP BY doc_id
),
bpe AS (
  SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
         CAST(coalesce(sum(wc.c * vocab.n_toks), 0) AS BIGINT) AS tok
  FROM cleaned c
  LEFT JOIN wc ON wc.doc_id = c.doc_id
  LEFT JOIN vocab ON vocab.w = wc.w
  GROUP BY c.doc_id
),
d AS (
  SELECT doc_id, tok,
         CAST(({_h32("doc_id::VARCHAR")}) % 2 AS INT) AS bucket,
         row_number() OVER (
           PARTITION BY CAST(({_h32("doc_id::VARCHAR")}) % 2 AS INT)
           ORDER BY doc_id) AS rn
  FROM bpe
),
s AS (
  SELECT bucket, rn, doc_id, tok, tok AS acc, CAST(0 AS BIGINT) AS pack
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.tok,
         CASE WHEN s.acc + d.tok > 256 THEN d.tok
              ELSE s.acc + d.tok END,
         CASE WHEN s.acc + d.tok > 256 THEN s.pack + 1
              ELSE s.pack END
  FROM s JOIN d ON d.bucket = s.bucket AND d.rn = s.rn + 1
)
SELECT bucket, pack AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS pack_tokens,
       array_to_string(
         flatten(list(dt.tokens ORDER BY s.doc_id)),
         chr(10)) AS tokens_text
FROM s JOIN doc_toks dt USING (doc_id)
GROUP BY bucket, pack ORDER BY bucket, pack
"""

# q185: sharded-bitmap Bloom == one-row Bloom — a physical layout is
# never a semantic change (the q148/q153 precedent): same urls, same
# (k=2, m=256), same md5 bit positions, so the q179 replay IS the
# oracle.
EXT_ORACLE["q185"] = EXT_ORACLE["q179"]

# q186: RFC 9309 UA group selection + Crawl-delay — the full window
# replay over the same VALUES rows: group runs via lag + running
# sum (non-group lines dropped first, so they never break runs),
# stacked-UA membership via the (host, run) join, most-specific
# token via QUALIFY row_number (spec desc, ua desc — the operator's
# deterministic tie-break), the q180 longest-match verdict, and the
# chosen group's max crawl-delay.
from ..sources.robots_fixture import (  # noqa: E402
    CRAWLER_UAS as _CRAWLER_UAS,
    ROBOTS_BODIES as _ROBOTS_BODIES,
    ROBOTS_UA_CANDIDATES as _ROBOTS_UA_CANDS,
)

_RB_VALUES = ",\n  ".join(
    f"({_sqlstr(u)}, {_sqlstr(t)})" for u, t in _ROBOTS_BODIES
)
_RC_VALUES = ", ".join(f"({_sqlstr(u)})" for u in _ROBOTS_UA_CANDS)
_CU_VALUES = ", ".join(f"({_sqlstr(u)})" for u in _CRAWLER_UAS)

# Shared robots-group parse replay (bodies -> RFC 9309 groups):
# the window chain from line split through stacked-UA-run group
# assembly, single-sourced for q186/q187/q195 (the ADVICE r9
# canon-URL regime applied to the robots policy). Expects a
# preceding CTE `resp(host, text)`.
_ROBOTS_GROUPS_CHAIN = """lines AS (
  SELECT host, g.ln,
         trim(regexp_replace(parts[g.ln], '\r$', '')) AS line
  FROM (SELECT host, string_split(text, chr(10)) AS parts
        FROM resp) t,
       LATERAL (SELECT unnest(generate_series(1, len(parts)))
                AS ln) g
),
parsed AS (
  SELECT host, ln,
         lower(regexp_extract(
           line, '(?i)^user-agent:\\s*(\\S+)', 1)) AS ua,
         lower(regexp_extract(
           line, '(?i)^(allow|disallow|crawl-delay):', 1)) AS rule,
         trim(regexp_extract(
           line, '(?i)^(?:allow|disallow|crawl-delay):\\s*(\\S*)',
           1)) AS value
  FROM lines
),
kept AS (
  SELECT * FROM parsed
  WHERE ua <> '' OR (rule <> '' AND value <> '')
),
runs AS (
  SELECT *,
         CASE WHEN ua <> '' AND NOT coalesce(
                lag(ua <> '') OVER (PARTITION BY host ORDER BY ln),
                FALSE)
              THEN 1 ELSE 0 END AS run_start
  FROM kept
),
rids AS (
  SELECT *, sum(run_start) OVER (PARTITION BY host ORDER BY ln
             ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
),
scoped AS (
  SELECT *, max(CASE WHEN ua <> '' THEN run_id END)
              OVER (PARTITION BY host ORDER BY ln
                    ROWS UNBOUNDED PRECEDING) AS grp
  FROM rids
),
uas AS (SELECT host, run_id AS grp, ua FROM scoped WHERE ua <> ''),
rls AS (
  SELECT host, grp, rule, value FROM scoped
  WHERE rule <> '' AND value <> '' AND grp IS NOT NULL
),
grps AS (
  SELECT u.host, u.ua, r.rule, r.value
  FROM uas u JOIN rls r USING (host, grp)
),"""

EXT_ORACLE["q186"] = f"""
WITH bodies(target_uri, text) AS (VALUES
  {_RB_VALUES}
),
resp AS (
  SELECT lower(regexp_extract(
           target_uri, '^[^:/?#]+://([^/?#]*)', 1)) AS host, text
  FROM bodies
),
{_ROBOTS_GROUPS_CHAIN}
crawlers(cua) AS (VALUES {_CU_VALUES}),
matching AS (
  SELECT c.cua, g.host, g.ua, g.rule, g.value,
         CASE WHEN g.ua = '*' THEN 0 ELSE length(g.ua) END AS spec
  FROM crawlers c
  JOIN grps g ON g.ua = '*' OR starts_with(c.cua, g.ua)
),
chosen AS (
  SELECT cua, host, ua FROM (
    SELECT DISTINCT cua, host, ua, spec FROM matching) t
  QUALIFY row_number() OVER (
    PARTITION BY cua, host ORDER BY spec DESC, ua DESC) = 1
),
applicable AS (
  SELECT m.* FROM matching m JOIN chosen USING (cua, host, ua)
),
delays AS (
  SELECT cua, host, max(TRY_CAST(value AS BIGINT)) AS crawl_delay
  FROM applicable WHERE rule = 'crawl-delay' GROUP BY cua, host
),
cand(url) AS (VALUES {_RC_VALUES}),
u AS (
  SELECT c.cua, cand.url,
         lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1))
           AS host,
         regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
           AS path
  FROM cand CROSS JOIN crawlers c
),
j AS (
  SELECT u.cua, u.url, a.rule, a.value AS prefix,
         (a.value IS NOT NULL
          AND starts_with(u.path, a.value)) AS hit
  FROM u LEFT JOIN applicable a
    ON a.cua = u.cua AND a.host = u.host
   AND a.rule IN ('allow', 'disallow')
),
v AS (
  SELECT cua, url,
         max(CASE WHEN hit THEN 1 ELSE 0 END) AS any_hit,
         max_by(rule = 'allow',
                CASE WHEN hit
                     THEN length(prefix) * 2 +
                          CASE WHEN rule = 'allow' THEN 1 ELSE 0 END
                     ELSE -1 END) AS winner_allow
  FROM j GROUP BY cua, url
)
SELECT v.cua AS ua, v.url,
       (v.any_hit = 0 OR v.winner_allow) AS allowed,
       d.crawl_delay
FROM v
LEFT JOIN delays d
  ON d.cua = v.cua
 AND d.host = lower(regexp_extract(
       v.url, '^[^:/?#]+://([^/?#]*)', 1))
ORDER BY ua, url
"""

# q187: politeness scheduler — the q186 group/selection replay for
# examplebot composed with the per-host slot window: allowed urls
# rank by (priority DESC NULLS LAST, url), slot = rank-1,
# fetch_at_s = slot × coalesce(chosen-group crawl-delay, 1).
from ..sources.robots_fixture import FRONTIER as _FRONTIER  # noqa: E402

_FR_VALUES = ", ".join(
    f"({_sqlstr(u)}, {'NULL' if p is None else p})"
    for u, p in _FRONTIER
)

EXT_ORACLE["q187"] = f"""
WITH bodies(target_uri, text) AS (VALUES
  {_RB_VALUES}
),
resp AS (
  SELECT lower(regexp_extract(
           target_uri, '^[^:/?#]+://([^/?#]*)', 1)) AS host, text
  FROM bodies
),
{_ROBOTS_GROUPS_CHAIN}
matching AS (
  SELECT g.host, g.ua, g.rule, g.value,
         CASE WHEN g.ua = '*' THEN 0 ELSE length(g.ua) END AS spec
  FROM grps g WHERE g.ua = '*' OR starts_with('examplebot', g.ua)
),
chosen AS (
  SELECT host, ua FROM (
    SELECT DISTINCT host, ua, spec FROM matching) t
  QUALIFY row_number() OVER (
    PARTITION BY host ORDER BY spec DESC, ua DESC) = 1
),
applicable AS (
  SELECT m.* FROM matching m JOIN chosen USING (host, ua)
),
delays AS (
  SELECT host, max(TRY_CAST(value AS BIGINT)) AS crawl_delay
  FROM applicable WHERE rule = 'crawl-delay' GROUP BY host
),
frontier(url, priority) AS (VALUES {_FR_VALUES}),
u AS (
  SELECT url, priority,
         lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1))
           AS host,
         regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
           AS path
  FROM frontier
),
j AS (
  SELECT u.url, a.rule, a.value AS prefix,
         (a.value IS NOT NULL
          AND starts_with(u.path, a.value)) AS hit
  FROM u LEFT JOIN applicable a
    ON a.host = u.host AND a.rule IN ('allow', 'disallow')
),
v AS (
  SELECT url,
         max(CASE WHEN hit THEN 1 ELSE 0 END) AS any_hit,
         max_by(rule = 'allow',
                CASE WHEN hit
                     THEN length(prefix) * 2 +
                          CASE WHEN rule = 'allow' THEN 1 ELSE 0 END
                     ELSE -1 END) AS winner_allow
  FROM j GROUP BY url
),
gated AS (
  SELECT u.url, u.priority, u.host
  FROM u JOIN v ON v.url = u.url
  WHERE v.any_hit = 0 OR v.winner_allow
),
slotted AS (
  SELECT url, host,
         CAST(row_number() OVER (
           PARTITION BY host
           ORDER BY priority DESC NULLS LAST, url) - 1
         AS BIGINT) AS slot
  FROM gated
)
SELECT s.url, s.host, s.slot,
       CAST(s.slot * coalesce(d.crawl_delay, 1) AS BIGINT)
         AS fetch_at_s
FROM slotted s LEFT JOIN delays d ON d.host = s.host
ORDER BY s.host, s.slot
"""

# q188: WDS token-shard round trip — the tar layout is a physical
# representation of q184's relation (the q148/q153/q185 precedent),
# plus the key rendered by the writer's %04d-%08d rule.
EXT_ORACLE["q188"] = f"""
SELECT printf('%04d-%08d', bucket, pack_id) AS key, *
FROM ({EXT_ORACLE["q184"]}) t
ORDER BY bucket, pack_id
"""

# q189: incremental frontier lifecycle — bit-OR merge is exactly
# recompute (OR is associative/commutative/idempotent), so the
# union-of-batches state equals the one-shot build and q179's bit
# replay IS the oracle (same urls, k=2, m=256; the duplicate batch-1
# re-merge must be invisible).
EXT_ORACLE["q189"] = EXT_ORACLE["q179"]

# q190: DSIR importance resampling — the full replay: normalize/
# tokenize exactly like q44, md5-prefix bucket via _h32, add-1
# smoothed bucket models, dense 256-entry LLR list, token-ORDERED
# left fold seeded with 0.0 (list_prepend) so the double association
# matches F.aggregate's init-first fold, and the multiplicative
# HALF_UP floor(x*m+0.5)/m at both 10dp (terms) and 6dp (final) —
# the q83 rounding form, shared with the Python-side literal build.
_H32_W = _h32("w")
EXT_ORACLE["q190"] = f"""
WITH norm AS (
  SELECT doc_id, lang,
         list_filter(string_split(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
           '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
  FROM documents),
tok AS (
  SELECT lang = 'en' AS is_t, ({_H32_W}) % 256 AS b
  FROM (SELECT lang, unnest(toks) AS w FROM norm)),
cnt AS (
  SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_n,
         sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS r_n
  FROM tok GROUP BY b),
tot AS (SELECT sum(t_n) AS t_tot, sum(r_n) AS r_tot FROM cnt),
dense AS (
  SELECT g.b,
         floor(ln(((coalesce(c.t_n, 0) + 1) / (t.t_tot + 256.0)) /
                  ((coalesce(c.r_n, 0) + 1) / (t.r_tot + 256.0)))
               * 1e10 + 0.5) / 1e10 AS llr
  FROM generate_series(0, 255) AS g(b)
  LEFT JOIN cnt c ON c.b = g.b CROSS JOIN tot t),
lr AS (SELECT list(llr ORDER BY b) AS l FROM dense),
scored AS (
  SELECT n.doc_id, n.lang,
         CAST(len(n.toks) AS BIGINT) AS n_tokens,
         floor(list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(n.toks,
                 w -> lr.l[(({_H32_W}) % 256) + 1])),
             (a, x) -> a + x) * 1e6 + 0.5) / 1e6 AS log_weight
  FROM norm n CROSS JOIN lr
  WHERE n.lang <> 'en')
SELECT doc_id, lang, n_tokens, log_weight
FROM scored
ORDER BY log_weight DESC, doc_id
LIMIT 25
"""

# q191: CCNet paragraph dedup — full window/list replay: split on
# chr(10) with positions via list_zip(lines, generate_series),
# house normalization, keep-first row_number over (doc_id, pos) per
# normalized form (partitioning by the norm string = the same
# equivalence classes as the engine's md5 key), reassembly via
# string_agg ORDER BY pos, emptied documents dropped.
from ..sources.ccnet_fixture import DOCS as _CC_DOCS

_CC_VALUES = ",\n  ".join(
    f"({i}, {_sqlstr(t)})" for i, t in _CC_DOCS
)

EXT_ORACLE["q191"] = f"""
WITH docs(doc_id, text) AS (VALUES
  {_CC_VALUES}
),
z AS (
  SELECT doc_id,
         unnest(list_zip(string_split(text, chr(10)),
                         generate_series(1, len(string_split(text,
                                                chr(10)))))) AS zp
  FROM docs),
p AS (
  SELECT doc_id, CAST(zp[2] AS INT) - 1 AS pos, zp[1] AS para,
         trim(regexp_replace(regexp_replace(lower(zp[1]),
              '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS norm
  FROM z),
f AS (
  SELECT doc_id, pos, para,
         row_number() OVER (
           PARTITION BY norm ORDER BY doc_id, pos) AS rn
  FROM p WHERE norm <> ''),
a AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_paras_in,
         CAST(count(*) FILTER (rn = 1) AS INT) AS n_paras_kept,
         string_agg(para, chr(10) ORDER BY pos)
           FILTER (rn = 1) AS clean_text
  FROM f GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, clean_text,
       n_paras_in, n_paras_kept
FROM a WHERE n_paras_kept > 0
ORDER BY doc_id
"""

# q192: crawl link-graph PageRank — full replay over the pre-assembly
# truth rows: the same two href regexes, the declared resolution
# CASE, _canon_url_expr on both endpoints, host self-loop drop, then
# the q83 unrolled-PR chain verbatim (same CTE names e/nodes/nn/
# outw/frac/r0, same 10dp per-iteration round, same 6dp final).
from ..sources.linkgraph_fixture import TRUTH_PATH as _LINKGRAPH_TRUTH

_HREF_DQ_SQL = _sqlstr('(?i)<a\\s[^>]*?href\\s*=\\s*"([^"]*)"')
_HREF_SQ_SQL = _sqlstr("(?i)<a\\s[^>]*?href\\s*=\\s*'([^']*)'")
_HOST_OF = "regexp_extract({0}, '^[^:/?#]+://([^/?#]*)', 1)"

EXT_ORACLE["q192"] = f"""
WITH resp AS (
  SELECT {_canon_url_expr('raw_uri')} AS src, text
  FROM read_parquet('{_LINKGRAPH_TRUTH}')
  WHERE rec_type = 'response' AND mime = 'text/html'),
h AS (
  SELECT src,
         regexp_extract(src, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
         {_HOST_OF.format('src')} AS host,
         unnest(list_concat(
           regexp_extract_all(text, {_HREF_DQ_SQL}, 1),
           regexp_extract_all(text, {_HREF_SQ_SQL}, 1))) AS href
  FROM resp WHERE src IS NOT NULL),
rsv AS (
  SELECT host AS src_host,
         CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
              WHEN href LIKE '//%' THEN scheme || ':' || href
              WHEN href LIKE '/%' THEN scheme || '://' || host || href
              ELSE NULL END AS dst_raw
  FROM h),
d AS MATERIALIZED (
  SELECT src_host, {_canon_url_expr('dst_raw')} AS dst FROM rsv),
e AS MATERIALIZED (
  SELECT src_host AS u, {_HOST_OF.format('dst')} AS v, count(*) AS w
  FROM d
  WHERE dst IS NOT NULL AND src_host <> {_HOST_OF.format('dst')}
  GROUP BY 1, 2),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
outw AS (SELECT u AS node, sum(w) AS wout FROM e GROUP BY u),
frac AS (SELECT e.u, e.v, e.w * 1.0 / o.wout AS frac
         FROM e JOIN outw o ON e.u = o.node),
r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
{_PR_CHAIN}
SELECT node AS host,
       floor(pr * 1000000 + 0.5) / 1000000 + 0.0 AS pagerank
FROM r{_PR_ITERS} ORDER BY host
"""

# q193: anchor-text aggregation — same truth-side replay as q192 for
# the href scope/resolution, with the two-group anchor regexes
# (href, inner html) zipped per quote style, markup strip +
# whitespace collapse on the text, empties dropped, then per-target
# DISTINCT-sorted string_agg.
_ANCH_DQ_SQL = _sqlstr('(?i)<a\\s[^>]*?href\\s*=\\s*"([^"]*)"[^>]*>(.*?)</a>')
_ANCH_SQ_SQL = _sqlstr("(?i)<a\\s[^>]*?href\\s*=\\s*'([^']*)'[^>]*>(.*?)</a>")

EXT_ORACLE["q193"] = f"""
WITH resp AS (
  SELECT {_canon_url_expr('raw_uri')} AS src, text
  FROM read_parquet('{_LINKGRAPH_TRUTH}')
  WHERE rec_type = 'response' AND mime = 'text/html'),
z AS (
  SELECT src,
         regexp_extract(src, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
         {_HOST_OF.format('src')} AS host,
         unnest(list_concat(
           list_zip(regexp_extract_all(text, {_ANCH_DQ_SQL}, 1),
                    regexp_extract_all(text, {_ANCH_DQ_SQL}, 2)),
           list_zip(regexp_extract_all(text, {_ANCH_SQ_SQL}, 1),
                    regexp_extract_all(text, {_ANCH_SQ_SQL}, 2)))) AS a
  FROM resp WHERE src IS NOT NULL),
rsv AS (
  SELECT src,
         CASE WHEN regexp_matches(a[1], '(?i)^https?://') THEN a[1]
              WHEN a[1] LIKE '//%' THEN scheme || ':' || a[1]
              WHEN a[1] LIKE '/%' THEN scheme || '://' || host || a[1]
              ELSE NULL END AS dst_raw,
         trim(regexp_replace(regexp_replace(a[2], '<[^>]*>', '', 'g'),
              '\\s+', ' ', 'g')) AS anchor_text
  FROM z),
d AS (
  SELECT src, {_canon_url_expr('dst_raw')} AS dst, anchor_text
  FROM rsv)
SELECT dst,
       CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(count(DISTINCT src) AS BIGINT) AS n_src_pages,
       string_agg(DISTINCT anchor_text, '|' ORDER BY anchor_text)
         AS anchor_texts
FROM d
WHERE dst IS NOT NULL AND anchor_text <> ''
GROUP BY dst
ORDER BY dst
"""

# q194: quality-classifier training — 5 unrolled GD iterations (the
# q83 pattern applied to model training). Per iteration: margins as
# 0.0-prepended ordered folds over relative-frequency features,
# hard-sigmoid clamp, per-doc gradient terms quantized to the 1e-9
# integer grid (exact BIGINT sums), 10dp multiplicative-HALF_UP
# weight update; final pass scores the training set with the learned
# weights. feat is MATERIALIZED (the q162 lesson: it is referenced
# by every iteration).
from ..sources.classifier_fixture import DOCS as _CLS_DOCS

_CLS_VALUES = ",\n  ".join(
    f"({i}, {_sqlstr(t)}, {y})" for i, t, y in _CLS_DOCS
)

_LR_DIM = 17  # 16 md5 buckets + bias
_LR_RATE = "4.0"
_LR_STEP = """
m{t} AS (
  SELECT y, x,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, {dim}), i ->
             w.w[i] * x[i])), (a, b) -> a + b) AS margin
  FROM feat CROSS JOIN w{p} w),
e{t} AS (
  SELECT x, y - greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
         0.25 * margin + 0.5)) AS err
  FROM m{t}),
g{t} AS (
  SELECT gi.i,
         sum(CAST(floor(x[gi.i] * err * 1e9 + 0.5) AS BIGINT)) AS s
  FROM e{t} CROSS JOIN gi GROUP BY gi.i),
w{t} AS (
  SELECT list(floor((w.w[g.i] + {lr} * (CAST(g.s AS DOUBLE) / nn.nd / 1e9))
              * 1e10 + 0.5) / 1e10 ORDER BY g.i) AS w
  FROM g{t} g CROSS JOIN w{p} w CROSS JOIN nn)"""

_LR_ITERS = 5
_LR_CHAIN = ",".join(
    _LR_STEP.format(t=t, p=t - 1, dim=_LR_DIM, lr=_LR_RATE)
    for t in range(1, _LR_ITERS + 1)
)

EXT_ORACLE["q194"] = f"""
WITH docs(doc_id, text, label) AS (VALUES
  {_CLS_VALUES}
),
norm AS (
  SELECT label,
         list_filter(string_split(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
           '\\s+', ' ', 'g')), ' '), t -> t <> '') AS toks
  FROM docs),
feat AS MATERIALIZED (
  SELECT CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END AS y,
         list_append(list_transform(generate_series(0, 15), b ->
           CAST(len(list_filter(bt, v -> v = b)) AS DOUBLE)
             / greatest(len(bt), 1)), CAST(1.0 AS DOUBLE)) AS x
  FROM (SELECT label,
               list_transform(toks, w -> ({_H32_W}) % 16) AS bt
        FROM norm)),
nn AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd FROM feat),
gi AS (SELECT unnest(generate_series(1, {_LR_DIM})) AS i),
w0 AS (SELECT list_transform(generate_series(1, {_LR_DIM}),
              i -> CAST(0.0 AS DOUBLE)) AS w),
{_LR_CHAIN},
mf AS (
  SELECT y,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, {_LR_DIM}), i ->
             w.w[i] * x[i])), (a, b) -> a + b) AS margin
  FROM feat CROSS JOIN w{_LR_ITERS} w),
nc AS (
  SELECT CAST(sum(CASE WHEN (margin >= 0) = (y = 1.0) THEN 1 ELSE 0 END)
         AS BIGINT) AS c
  FROM mf)
SELECT CASE WHEN gi.i <= 16
            THEN 'b' || lpad(CAST(gi.i - 1 AS VARCHAR), 2, '0')
            ELSE 'bias' END AS feature,
       w.w[gi.i] AS weight,
       nc.c AS n_correct,
       CAST(nn.n AS BIGINT) AS n_docs
FROM gi CROSS JOIN w{_LR_ITERS} w CROSS JOIN nc CROSS JOIN nn
ORDER BY feature
"""

# q195: crawl-scheduler capstone — the q192 link/PR replay + the
# shared robots-group chain (rankbot's single-UA selection, the q187
# tail) + the per-host slot window, composed into one statement over
# the linkgraph truth rows.
EXT_ORACLE["q195"] = f"""
WITH pg AS (
  SELECT {_canon_url_expr('raw_uri')} AS src, text
  FROM read_parquet('{_LINKGRAPH_TRUTH}')
  WHERE rec_type = 'response' AND mime = 'text/html'),
h AS (
  SELECT src,
         regexp_extract(src, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
         {_HOST_OF.format('src')} AS host,
         unnest(list_concat(
           regexp_extract_all(text, {_HREF_DQ_SQL}, 1),
           regexp_extract_all(text, {_HREF_SQ_SQL}, 1))) AS href
  FROM pg WHERE src IS NOT NULL),
rsv AS (
  SELECT host AS src_host,
         CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
              WHEN href LIKE '//%' THEN scheme || ':' || href
              WHEN href LIKE '/%' THEN scheme || '://' || host || href
              ELSE NULL END AS dst_raw
  FROM h),
d AS MATERIALIZED (
  SELECT src_host, {_canon_url_expr('dst_raw')} AS dst FROM rsv),
e AS MATERIALIZED (
  SELECT src_host AS u, {_HOST_OF.format('dst')} AS v, count(*) AS w
  FROM d
  WHERE dst IS NOT NULL AND src_host <> {_HOST_OF.format('dst')}
  GROUP BY 1, 2),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
outw AS (SELECT u AS node, sum(w) AS wout FROM e GROUP BY u),
frac AS (SELECT e.u, e.v, e.w * 1.0 / o.wout AS frac
         FROM e JOIN outw o ON e.u = o.node),
r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
{_PR_CHAIN},
pr6 AS (
  SELECT node AS host,
         floor(pr * 1000000 + 0.5) / 1000000 + 0.0 AS priority
  FROM r{_PR_ITERS}),
resp AS (
  SELECT lower(regexp_extract(
           raw_uri, '^[^:/?#]+://([^/?#]*)', 1)) AS host, text
  FROM read_parquet('{_LINKGRAPH_TRUTH}')
  WHERE rec_type = 'response' AND raw_uri LIKE '%/robots.txt'),
{_ROBOTS_GROUPS_CHAIN}
matching AS (
  SELECT g.host, g.ua, g.rule, g.value,
         CASE WHEN g.ua = '*' THEN 0 ELSE length(g.ua) END AS spec
  FROM grps g WHERE g.ua = '*' OR starts_with('rankbot', g.ua)
),
chosen AS (
  SELECT host, ua FROM (
    SELECT DISTINCT host, ua, spec FROM matching) t
  QUALIFY row_number() OVER (
    PARTITION BY host ORDER BY spec DESC, ua DESC) = 1
),
applicable AS (
  SELECT m.* FROM matching m JOIN chosen USING (host, ua)
),
delays AS (
  SELECT host, max(TRY_CAST(value AS BIGINT)) AS crawl_delay
  FROM applicable WHERE rule = 'crawl-delay' GROUP BY host
),
cand AS (SELECT DISTINCT dst AS url FROM d WHERE dst IS NOT NULL),
u AS (
  SELECT url,
         lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1))
           AS host,
         regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
           AS path
  FROM cand
),
j AS (
  SELECT u.url, a.rule, a.value AS prefix,
         (a.value IS NOT NULL
          AND starts_with(u.path, a.value)) AS hit
  FROM u LEFT JOIN applicable a
    ON a.host = u.host AND a.rule IN ('allow', 'disallow')
),
v AS (
  SELECT url,
         max(CASE WHEN hit THEN 1 ELSE 0 END) AS any_hit,
         max_by(rule = 'allow',
                CASE WHEN hit
                     THEN length(prefix) * 2 +
                          CASE WHEN rule = 'allow' THEN 1 ELSE 0 END
                     ELSE -1 END) AS winner_allow
  FROM j GROUP BY url
),
gated AS (
  SELECT u.url, u.host
  FROM u JOIN v ON v.url = u.url
  WHERE v.any_hit = 0 OR v.winner_allow
),
fr AS (
  SELECT g.url, g.host, p.priority
  FROM gated g LEFT JOIN pr6 p USING (host)
),
slotted AS (
  SELECT url, host, priority,
         CAST(row_number() OVER (
           PARTITION BY host
           ORDER BY priority DESC NULLS LAST, url) - 1
         AS BIGINT) AS slot
  FROM fr
)
SELECT s.url, s.host, s.slot,
       CAST(s.slot * coalesce(dl.crawl_delay, 1) AS BIGINT)
         AS fetch_at_s,
       s.priority
FROM slotted s LEFT JOIN delays dl ON dl.host = s.host
ORDER BY s.host, s.slot
"""

# q196: tokenizer fertility per language — the q183 recursive
# byte-BPE replay re-aggregated at lang grain, plus byte mass
# (strlen = UTF-8 bytes in DuckDB) and the two HALF_UP ratios.
EXT_ORACLE["q196"] = f"""
WITH RECURSIVE
m AS MATERIALIZED (
  SELECT rank, lft, rgt FROM read_parquet('{_BPE_BYTE_MERGES}')),
corpus AS (SELECT doc_id, lang, text FROM documents),
words AS (
  SELECT DISTINCT w FROM (
    SELECT unnest(regexp_extract_all(
        text, '{_RE_UNI_SQL}')) AS w
    FROM corpus) u
),
{_BYTE_SEED_CTES},
enc(w, it, toks) AS (
  SELECT w, 0, toks FROM mapped
  UNION ALL
  SELECT w, it + 1,
         toks[1:pos-1] || [toks[pos] || toks[pos+1]] || toks[pos+2:]
  FROM (
    SELECT w, it, toks,
      (SELECT min_by(g.i, m.rank * 1000000 + g.i)
       FROM (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
       JOIN m ON m.lft = toks[g.i] AND m.rgt = toks[g.i + 1]) AS pos
    FROM enc) s
  WHERE pos IS NOT NULL
),
vocab AS (SELECT w, len(max_by(toks, it)) AS n_toks FROM enc GROUP BY w),
doc_words AS (
  SELECT doc_id, lang, w, count(*) AS c FROM (
    SELECT doc_id, lang, unnest(regexp_extract_all(
        text, '{_RE_UNI_SQL}')) AS w
    FROM corpus) u
  GROUP BY doc_id, lang, w
),
counts AS (
  SELECT doc_id, lang,
         sum(c) AS n_pretoks,
         sum(c * n_toks) AS n_tokens,
         sum(c * strlen(w)) AS n_bytes
  FROM doc_words JOIN vocab USING (w) GROUP BY doc_id, lang
),
by_lang AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_pretoks) AS BIGINT) AS n_pretokens,
         CAST(sum(n_tokens) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(n_bytes) AS BIGINT) AS n_bytes
  FROM counts GROUP BY lang
)
SELECT lang, n_docs, n_pretokens, n_bpe_tokens, n_bytes,
       floor(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_pretokens AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS fertility,
       floor(CAST(n_bytes AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS bytes_per_token
FROM by_lang
ORDER BY lang
"""

# q197 (streaming classifier gate): the q194 training chain with
# doc_id/label carried through the feature relation, re-scored per
# document with the final weights, gated at margin >= 0 — the
# batch replay the drained stream must equal. Registered by
# streaming_queries.STREAM_ORACLE (q197 is a streaming query).
Q197_STREAM_ORACLE = f"""
WITH docs(doc_id, text, label) AS (VALUES
  {_CLS_VALUES}
),
norm AS (
  SELECT doc_id, label,
         list_filter(string_split(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
           '\\s+', ' ', 'g')), ' '), t -> t <> '') AS toks
  FROM docs),
feat AS MATERIALIZED (
  SELECT doc_id, label,
         CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END AS y,
         list_append(list_transform(generate_series(0, 15), b ->
           CAST(len(list_filter(bt, v -> v = b)) AS DOUBLE)
             / greatest(len(bt), 1)), CAST(1.0 AS DOUBLE)) AS x
  FROM (SELECT doc_id, label,
               list_transform(toks, w -> ({_H32_W}) % 16) AS bt
        FROM norm)),
nn AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd FROM feat),
gi AS (SELECT unnest(generate_series(1, {_LR_DIM})) AS i),
w0 AS (SELECT list_transform(generate_series(1, {_LR_DIM}),
              i -> CAST(0.0 AS DOUBLE)) AS w),
{_LR_CHAIN},
mf AS (
  SELECT doc_id, label,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, {_LR_DIM}), i ->
             w.w[i] * x[i])), (a, b) -> a + b) AS margin
  FROM feat CROSS JOIN w{_LR_ITERS} w)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(label AS INT) AS label,
       floor(margin * 1e6 + 0.5) / 1e6 + 0.0 AS margin
FROM mf WHERE margin >= 0
ORDER BY doc_id
"""

# q198: curation funnel — the q23 aug-corpus/minhash replay gated
# stage by stage: quality band, LSH candidates + exact jaccard >=
# 0.5 (smaller doc_id survives), then the greedy longest-first
# token-budget window (1/3 of surviving mass). _SHINGLES is re-based
# onto the quality survivors by CTE rename (single-sourced text).
_SHINGLES2 = _SHINGLES.replace("FROM corpus", "FROM corpus2")

EXT_ORACLE["q198"] = f"""
WITH {_CORPUS},
s1 AS (
  SELECT doc_id, text,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
              x -> x <> '')) AS BIGINT) AS ntok
  FROM corpus),
s2 AS (SELECT * FROM s1 WHERE ntok BETWEEN 30 AND 90),
corpus2 AS (SELECT doc_id, text FROM s2),
{_SHINGLES2},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BANDS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS icnt
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle
  GROUP BY doc_a, doc_b),
dropd AS (
  SELECT DISTINCT doc_b
  FROM inter
  JOIN sizes za ON za.doc_id = doc_a
  JOIN sizes zb ON zb.doc_id = doc_b
  WHERE icnt / (za.sz + zb.sz - icnt) >= 0.5),
s3 AS (
  SELECT s2.* FROM s2
  LEFT JOIN dropd ON s2.doc_id = dropd.doc_b
  WHERE dropd.doc_b IS NULL),
tot AS (SELECT CAST(floor(sum(ntok) / 3) AS BIGINT) AS budget FROM s3),
cums AS (
  SELECT doc_id, ntok,
         sum(ntok) OVER (ORDER BY ntok DESC, doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM s3),
s4 AS (SELECT c.* FROM cums c CROSS JOIN tot WHERE c.cum <= tot.budget)
SELECT CAST(1 AS INT) AS stage_idx, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens FROM s1
UNION ALL
SELECT CAST(2 AS INT), 'quality', CAST(count(*) AS BIGINT),
       CAST(sum(ntok) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS INT), 'near_dedup', CAST(count(*) AS BIGINT),
       CAST(sum(ntok) AS BIGINT) FROM s3
UNION ALL
SELECT CAST(4 AS INT), 'token_budget', CAST(count(*) AS BIGINT),
       CAST(sum(ntok) AS BIGINT) FROM s4
ORDER BY stage_idx
"""

# q199: ExactSubstr span removal — full replay of the removal policy:
# the q118 window hashing, the >= 2-distinct-docs qualifier, canonical
# occurrence = rn 1 over (doc_id, i) per hash (the same equivalence as
# the engine's min(struct(doc, pos)) argmin), covered positions
# exploded from every non-canonical occurrence, tokens anti-joined by
# (doc, pos) and reassembled with string_agg ORDER BY pos. Parallel
# unnests zip positionally (DuckDB semantics), so token/position pairs
# line up with posexplode's.
EXT_ORACLE["q199"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
win AS (
  SELECT doc_id, i,
         md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS h
  FROM t, LATERAL unnest(generate_series(1, len(w) - 7)) AS g(i)
  WHERE len(w) >= 8),
qual AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
occ AS (
  SELECT win.doc_id, win.i,
         row_number() OVER (PARTITION BY win.h
                            ORDER BY win.doc_id, win.i) AS rn
  FROM win JOIN qual USING (h)),
cov AS (
  SELECT DISTINCT doc_id, p FROM (
    SELECT doc_id, unnest(generate_series(i, i + 7)) AS p
    FROM occ WHERE rn > 1)),
tokpos AS (
  SELECT doc_id, unnest(w) AS tok,
         unnest(generate_series(1, len(w))) AS p
  FROM t),
kept AS (
  SELECT tp.doc_id, tp.p, tp.tok
  FROM tokpos tp
  LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
  WHERE cov.doc_id IS NULL),
reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS cleaned_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.w) AS BIGINT) AS n_tokens,
       CAST(len(t.w) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(r.cleaned_text, '') AS cleaned_text
FROM t LEFT JOIN reb r ON r.doc_id = t.doc_id
ORDER BY t.doc_id
"""

# q200: Okapi BM25 — full replay: lowercased whitespace tokens, tf /
# df from the same relations, query = df ranks 11-13 (DESC, ties by
# term), avgdl as the explicit exact-integer sum(dl)/N division,
# per-term contributions with the IDENTICAL association
# (ln(1 + (N - df + 0.5)/(df + 0.5)) * (tf * 2.2) / (tf + 1.2 * (0.25
# + 0.75 * dl / avgdl))) pre-rounded 10dp HALF_UP, term-ordered left
# fold seeded 0.0 (matches F.aggregate), final 6dp HALF_UP, rank by
# score DESC then doc_id.
EXT_ORACLE["q200"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS w
  FROM documents),
lens AS (SELECT doc_id, len(w) AS dl FROM tk),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS term FROM tk)
  GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q AS (
  SELECT term, df FROM (
    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn
    FROM dfq)
  WHERE rn > 10 AND rn <= 13),
st AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM lens),
sc AS (
  SELECT tf.doc_id, tf.term, lens.dl,
         floor((ln(1.0 + (st.n_docs - q.df + 0.5) / (q.df + 0.5))
                * (tf.tf * 2.2)
                / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / st.avgdl)))
               * 1e10 + 0.5) / 1e10 AS c
  FROM tf
  JOIN q USING (term)
  JOIN lens ON lens.doc_id = tf.doc_id
  CROSS JOIN st),
agg AS (
  SELECT doc_id, any_value(dl) AS dl,
         floor(list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(
                 list_sort(list({'term': term, 'c': c})),
                 s -> s.c)),
             (a, x) -> a + x) * 1e6 + 0.5) / 1e6 AS score
  FROM sc GROUP BY doc_id)
SELECT doc_id, CAST(dl AS BIGINT) AS dl, score + 0.0 AS score
FROM agg
ORDER BY score DESC, doc_id
LIMIT 10
"""

# q201: hard-negative mining — full replay: the 8 smallest-vec_id
# anchors, cosine against every different-label vector (the q19 list-
# comprehension dot product, 4dp round), rank per anchor by rounded
# cosine DESC then vec_id — the single-window form the engine's salted
# two-phase top-k provably equals.
EXT_ORACLE["q201"] = """
WITH a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS ae
  FROM embeddings ORDER BY vec_id LIMIT 8),
c AS (
  SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
         round(
           list_sum([e.embedding[i]::DOUBLE * a.ae[i]::DOUBLE
                     FOR i IN generate_series(1, 64)])
           / (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
                             FOR i IN generate_series(1, 64)]))
              * sqrt(list_sum([a.ae[i]::DOUBLE * a.ae[i]::DOUBLE
                               FOR i IN generate_series(1, 64)]))), 4)
           AS cos_sim
  FROM embeddings e, a
  WHERE e.label <> a.anchor_label),
r AS (
  SELECT anchor_id, anchor_label, vec_id, label, cos_sim,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM c)
SELECT anchor_id, anchor_label, CAST(rank AS BIGINT) AS rank,
       vec_id, label, cos_sim
FROM r WHERE rank <= 3
ORDER BY anchor_id, rank
"""


# q202: temperature rebalancing — rate-table replay (10dp HALF_UP
# p^alpha terms summed in sorted-language order via the list fold,
# the same q/r rounding chain as the engine's driver-side build),
# then the per-doc copy count k = floor(r) + (u < frac(r)) with the
# house md5-uniform; no explode needed — sum(k) is the emitted-row
# count and count(k>=1) the docs used.
_H32_DOC = _h32("doc_id::VARCHAR")
EXT_ORACLE["q202"] = f"""
WITH nl AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM nl),
pa AS (
  SELECT lang, n_docs,
         floor(pow(n_docs / CAST(t.n AS DOUBLE), 0.3) * 1e10 + 0.5) / 1e10
           AS pa
  FROM nl CROSS JOIN tot t),
sp AS (
  SELECT list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list({{'lang': lang, 'pa': pa}})),
                            x -> x.pa)),
           (a, b) -> a + b) AS spa
  FROM pa),
rt AS (
  SELECT lang, n_docs,
         floor((floor(pa / sp.spa * 1e10 + 0.5) / 1e10) * t.n / n_docs
               * 1e10 + 0.5) / 1e10 AS rate
  FROM pa CROSS JOIN sp CROSS JOIN tot t),
perdoc AS (
  SELECT d.lang, d.doc_id, r.n_docs, r.rate,
         CAST(floor(r.rate) AS BIGINT)
         + CASE WHEN ((({_H32_DOC}) % 1000000) + 0.5) / 1000000.0
                     < r.rate - floor(r.rate)
                THEN 1 ELSE 0 END AS k
  FROM documents d JOIN rt r USING (lang))
SELECT lang,
       CAST(any_value(n_docs) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN k >= 1 THEN doc_id END) AS BIGINT)
         AS n_docs_used,
       CAST(sum(k) AS BIGINT) AS n_sampled,
       floor(any_value(rate) * 1e6 + 0.5) / 1e6 AS rate
FROM perdoc
GROUP BY lang
ORDER BY lang
"""

# q203: margin-based bitext mining — full replay: 6dp HALF_UP cosines
# over the label-0 x label-1 product (the q19 dot-product idiom), per-
# side k-NN rank windows (cos DESC, partner id), neighborhood sums as
# ascending (cos, partner) list folds seeded 0.0 (matches the engine's
# array_sort+aggregate), margin = cos / ((sx + sy) / 2k) rounded 6dp,
# top-20 by margin DESC then (src_id, tgt_id).
EXT_ORACLE["q203"] = """
WITH a AS (SELECT vec_id AS src_id, embedding AS ea FROM embeddings
           WHERE label = 0),
b AS (SELECT vec_id AS tgt_id, embedding AS eb FROM embeddings
      WHERE label = 1),
pairs AS (
  SELECT src_id, tgt_id,
         floor(
           (list_sum([ea[i]::DOUBLE * eb[i]::DOUBLE
                      FOR i IN generate_series(1, 64)])
            / (sqrt(list_sum([ea[i]::DOUBLE * ea[i]::DOUBLE
                              FOR i IN generate_series(1, 64)]))
               * sqrt(list_sum([eb[i]::DOUBLE * eb[i]::DOUBLE
                                FOR i IN generate_series(1, 64)]))))
           * 1e6 + 0.5) / 1e6 AS c
  FROM a, b),
rx AS (
  SELECT src_id, c, tgt_id,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY c DESC, tgt_id) AS rn
  FROM pairs),
sx AS (
  SELECT src_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list({'c': c, 'id': tgt_id})),
                            s -> s.c)),
           (acc, x) -> acc + x) AS sxv
  FROM rx WHERE rn <= 4 GROUP BY src_id),
ry AS (
  SELECT tgt_id, c, src_id,
         row_number() OVER (PARTITION BY tgt_id
                            ORDER BY c DESC, src_id) AS rn
  FROM pairs),
sy AS (
  SELECT tgt_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list({'c': c, 'id': src_id})),
                            s -> s.c)),
           (acc, x) -> acc + x) AS syv
  FROM ry WHERE rn <= 4 GROUP BY tgt_id)
SELECT p.src_id, p.tgt_id, p.c AS cos_sim,
       floor(p.c / ((sx.sxv + sy.syv) / 8.0) * 1e6 + 0.5) / 1e6 AS margin
FROM pairs p
JOIN sx ON sx.src_id = p.src_id
JOIN sy ON sy.tgt_id = p.tgt_id
ORDER BY margin DESC, p.src_id, p.tgt_id
LIMIT 20
"""

# q204: classifier evaluation — the q194 training chain verbatim
# (same _CLS_VALUES/feat/gradient/weight CTEs), the learned w5 then
# scores the HELD-OUT eval split (classifier_fixture.EVAL_DOCS — the
# identical-text opposite-label pair and the two hard inversions keep
# accuracy/AUC strictly inside (0,1)); margins at distinct-value
# grain: cumq = negatives strictly below each margin,
# 2*AUC*np*nq = sum p*(2*cumq) + p*q (ties at 1/2), exact integers
# until the final 6dp-rounded divisions; confusion at the deployed
# margin >= 0 gate.
from ..sources.classifier_fixture import EVAL_DOCS as _CLS_EVAL_DOCS

_CLS_EVAL_VALUES = ",\n  ".join(
    f"({i}, {_sqlstr(t)}, {y})" for i, t, y in _CLS_EVAL_DOCS
)

EXT_ORACLE["q204"] = f"""
WITH docs(doc_id, text, label) AS (VALUES
  {_CLS_VALUES}
),
evals(doc_id, text, label) AS (VALUES
  {_CLS_EVAL_VALUES}
),
norm AS (
  SELECT label,
         list_filter(string_split(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
           '\\s+', ' ', 'g')), ' '), t -> t <> '') AS toks
  FROM docs),
feat AS MATERIALIZED (
  SELECT CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END AS y,
         list_append(list_transform(generate_series(0, 15), b ->
           CAST(len(list_filter(bt, v -> v = b)) AS DOUBLE)
             / greatest(len(bt), 1)), CAST(1.0 AS DOUBLE)) AS x
  FROM (SELECT label,
               list_transform(toks, w -> ({_H32_W}) % 16) AS bt
        FROM norm)),
nn AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd FROM feat),
gi AS (SELECT unnest(generate_series(1, {_LR_DIM})) AS i),
w0 AS (SELECT list_transform(generate_series(1, {_LR_DIM}),
              i -> CAST(0.0 AS DOUBLE)) AS w),
{_LR_CHAIN},
norme AS (
  SELECT label,
         list_filter(string_split(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
           '\\s+', ' ', 'g')), ' '), t -> t <> '') AS toks
  FROM evals),
feate AS (
  SELECT CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END AS y,
         list_append(list_transform(generate_series(0, 15), b ->
           CAST(len(list_filter(bt, v -> v = b)) AS DOUBLE)
             / greatest(len(bt), 1)), CAST(1.0 AS DOUBLE)) AS x
  FROM (SELECT label,
               list_transform(toks, w -> ({_H32_W}) % 16) AS bt
        FROM norme)),
mf AS (
  SELECT y,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, {_LR_DIM}), i ->
             w.w[i] * x[i])), (a, b) -> a + b) AS margin
  FROM feate CROSS JOIN w{_LR_ITERS} w),
g AS (
  SELECT margin,
         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS q
  FROM mf GROUP BY margin),
c AS (
  SELECT p, q,
         CAST(sum(q) OVER (ORDER BY margin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) - q AS cumq
  FROM g),
st AS (
  SELECT CAST(sum(p * (2 * cumq) + p * q) AS BIGINT) AS numer2,
         CAST(sum(p) AS BIGINT) AS n_pos,
         CAST(sum(q) AS BIGINT) AS n_neg
  FROM c),
conf AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN y = 1.0 AND margin >= 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN y = 0.0 AND margin >= 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN y = 0.0 AND margin < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn,
         CAST(sum(CASE WHEN y = 1.0 AND margin < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn
  FROM mf)
SELECT n_docs, n_pos, n_neg, tp, fp, tn, fn,
       floor(CAST(tp + tn AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
         AS accuracy,
       floor(CAST(numer2 AS DOUBLE) / (2.0 * n_pos * n_neg) * 1e6 + 0.5)
         / 1e6 AS auc
FROM conf CROSS JOIN st
"""


# q205: fuzzy decontamination — the q23 signature/band chain with the
# candidate join SIDE-SPLIT (train doc_id >= 50 x eval doc_id < 50)
# instead of the self-join's doc_a < doc_b, exact shingle-intersection
# Jaccard >= 0.5 adjudicating the LSH candidates.
EXT_ORACLE["q205"] = f"""
WITH {_CORPUS}, {_SHINGLES},
sig AS (SELECT doc_id, {_MINHASH_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BANDS}),
cand AS (
  SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS eval_doc
  FROM bands t JOIN bands e
    ON t.band = e.band AND t.bh = e.bh
  WHERE t.doc_id >= 50 AND e.doc_id < 50),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT train_doc, eval_doc, count(*) AS icnt
  FROM cand
  JOIN sh sa ON sa.doc_id = train_doc
  JOIN sh sb ON sb.doc_id = eval_doc AND sa.shingle = sb.shingle
  GROUP BY train_doc, eval_doc)
SELECT train_doc, eval_doc,
       round(icnt / (za.sz + zb.sz - icnt), 2) AS jaccard
FROM inter
JOIN sizes za ON za.doc_id = train_doc
JOIN sizes zb ON zb.doc_id = eval_doc
WHERE icnt / (za.sz + zb.sz - icnt) >= 0.5
ORDER BY train_doc, eval_doc
"""
