"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship multi-way star join (Q3) at sf0.001;
``queries``/``oracle_sql`` expose the full declared set from
SURVEY.md §2.12 plus the LLM-data-pipeline extension operators.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from diachronic_spark.plans import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q3"](spark, "/root/testdata/sf0.001")


# Driver-adjudication ledger (ADVICE r2: explicit sets, not numeric
# tiers). The per-round correctness check caps at ~50 queries taken in
# registry order, so ordering IS the verification scheduler:
#   1. never checked by any round's driver;
#   2. changed since their last green row (stale evidence);
#   3. previously-passed queries, least-recently-adjudicated first —
#      so regressions in old greens rotate back through the cap.
# Update these sets each round from CORRECTNESS_r{N}.json.
_ADJUDICATED_ROUND: dict[str, int] = {
    # round 1 checked q1-q50 (all green)
    **{f"q{i}": 1 for i in range(1, 51)},
    # round 2 checked q51-q95 and q101-q105 (all green)
    **{f"q{i}": 2 for i in range(51, 96)},
    **{f"q{i}": 2 for i in range(101, 106)},
    # round 3 re-checked q1-q36, the stale q21/q45/q50, q96-q100, and
    # the new q106-q112 (all green; CORRECTNESS_r03.json)
    **{f"q{i}": 3 for i in range(1, 37)},
    **{"q45": 3, "q50": 3},
    **{f"q{i}": 3 for i in range(96, 101)},
    **{f"q{i}": 3 for i in range(106, 113)},
    # round 4 checked the ten new q113-q122, the stale q37/q51, and
    # the rotation tail q38-q44/q46-q49/q52-q78 — all green except
    # q115 (type-aware hash: Spark INT vs DuckDB BIGINT, values equal;
    # CORRECTNESS_r04.json). Both sides now cast to bigint.
    **{f"q{i}": 4 for i in range(113, 123)},
    **{"q37": 4, "q51": 4},
    **{f"q{i}": 4 for i in range(38, 45)},
    **{f"q{i}": 4 for i in range(46, 50)},
    **{f"q{i}": 4 for i in range(52, 79)},
    # round 5 checked the 20 new q123-q142, the r5-stale 8
    # (q26/q52/q110/q112/q113/q115/q117/q122), and the rotation tail
    # q79-q95 + q101-q105 — CORRECTNESS_r05.json: 50/50 green. The
    # r5-era stale set is retired by those green rows.
    **{f"q{i}": 5 for i in range(123, 143)},
    **{"q26": 5, "q52": 5, "q110": 5, "q112": 5, "q113": 5,
       "q115": 5, "q117": 5, "q122": 5},
    **{f"q{i}": 5 for i in range(79, 96)},
    **{f"q{i}": 5 for i in range(101, 106)},
    # round 6 checked the new q143-q148, the r6-stale 6
    # (q117/q125/q133/q136/q139/q141), and the rotation tail
    # q1-q25/q27-q36/q45/q50/q96 — CORRECTNESS_r06.json: 50/50 green.
    **{f"q{i}": 6 for i in range(143, 149)},
    **{"q117": 6, "q125": 6, "q133": 6, "q136": 6, "q139": 6,
       "q141": 6},
    **{f"q{i}": 6 for i in range(1, 26)},
    **{f"q{i}": 6 for i in range(27, 37)},
    **{"q45": 6, "q50": 6, "q96": 6},
    # round 7 checked the six new q149-q154, the r7-stale 3
    # (q136/q141/q147), and the rotation tail q37-q44/q46-q49/
    # q51/q53-q71/q97-q100/q106-q109/q111 — CORRECTNESS_r07.json:
    # 50/50 green. The r7-era stale set is retired by those rows.
    **{f"q{i}": 7 for i in range(149, 155)},
    **{"q136": 7, "q141": 7, "q147": 7},
    **{f"q{i}": 7 for i in range(37, 45)},
    **{f"q{i}": 7 for i in range(46, 50)},
    **{"q51": 7},
    **{f"q{i}": 7 for i in range(53, 72)},
    **{f"q{i}": 7 for i in range(97, 101)},
    **{f"q{i}": 7 for i in range(106, 110)},
    **{"q111": 7},
    # round 8 checked the seventeen new q155-q171, the r8-stale 5
    # (q136/q141/q150/q151/q154), and the rotation tail q26/q52/
    # q72-q91/q114/q116/q118-q121 — CORRECTNESS_r08.json: 50/50
    # green. The r8-era stale set is retired by those rows.
    **{f"q{i}": 8 for i in range(155, 172)},
    **{"q136": 8, "q141": 8, "q150": 8, "q151": 8, "q154": 8},
    **{"q26": 8, "q52": 8},
    **{f"q{i}": 8 for i in range(72, 92)},
    **{"q114": 8, "q116": 8},
    **{f"q{i}": 8 for i in range(118, 122)},
    # round 9 checked the eleven new q172-q182, the r9-stale 4
    # (q162/q166/q169/q170), and the rotation tail q1-q6/q92-q95/
    # q101-q105/q110/q112/q113/q115/q122-q124/q126-q132/q134/q135/
    # q137/q138/q140/q142 — CORRECTNESS_r09.json: 50/50 green. The
    # r9-era stale set is retired by those rows.
    **{f"q{i}": 9 for i in range(172, 183)},
    **{"q162": 9, "q166": 9, "q169": 9, "q170": 9},
    **{f"q{i}": 9 for i in range(1, 7)},
    **{f"q{i}": 9 for i in range(92, 96)},
    **{f"q{i}": 9 for i in range(101, 106)},
    **{"q110": 9, "q112": 9, "q113": 9, "q115": 9},
    **{f"q{i}": 9 for i in range(122, 125)},
    **{f"q{i}": 9 for i in range(126, 133)},
    **{"q134": 9, "q135": 9, "q137": 9, "q138": 9, "q140": 9,
       "q142": 9},
    # round 10 checked q7-q25 and q162-q205 (CORRECTNESS_r10.json):
    # 48/50 green. q184/q188 could NOT be adjudicated (their tokens
    # array column broke the driver's canonicalizer — VERDICT r10
    # item 1); they stay out of this dict so they rank tier 0 and
    # front the round-11 sample, now returning a scalar tokens_text.
    **{f"q{i}": 10 for i in range(7, 26)},
    **{"q162": 10, "q172": 10, "q173": 10, "q175": 10, "q176": 10,
       "q178": 10, "q180": 10, "q182": 10},
    **{f"q{i}": 10 for i in range(183, 206) if i not in (184, 188)},
    # round 11 checked q184/q188 (first rows, scalar tokens_text), the
    # r11-stale q117/q133/q139/q148, and the rotation tail q27-q51/
    # q53-q65/q96/q125/q143-q146 — CORRECTNESS_r11.json: 50/50 green.
    **{f"q{i}": 11 for i in range(27, 52)},
    **{f"q{i}": 11 for i in range(53, 66)},
    **{f"q{i}": 11 for i in range(143, 147)},
    **{"q96": 11, "q117": 11, "q125": 11, "q133": 11, "q139": 11,
       "q148": 11, "q184": 11, "q188": 11},
}
# New this round (tier 0, never adjudicated): q183 (BYTE-level BPE
# token counts — GPT-2 byte↔unicode table derived from the published
# rule on BOTH engines, UTF-8 byte seeds via hex(encode), committed
# byte-merge fixture, multilingual in-memory supplement), q184
# (packed training-shard sink round trip — write_packed_shards'
# at-rest bucket=<k>/ parquet re-read as the adjudicated relation),
# q185 (SHARDED Bloom frontier — segment-keyed bitmap rows,
# equi-join probe, hash-matches q179's oracle bit-for-bit), q186
# (RFC 9309 user-agent group selection + Crawl-delay — stacked UA
# runs, most-specific-token choice, full window replay), q187
# (politeness scheduler — allowed frontier urls serialize per
# host at the chosen group's crawl-delay; slot window replayed),
# q188 (WDS token-shard sink round trip — the tar twin of q184,
# token mass verified at scan, key rule replayed in the oracle),
# q189 (incremental Bloom-frontier lifecycle — per-batch sharded
# bitmaps bit-OR into the at-rest state, duplicate re-merge a
# no-op; merge ≡ recompute, q179's bit replay as the oracle),
# q190 (DSIR importance resampling — hashed-unigram target/raw
# models, dense LLR array literal, token-ordered fold, zero
# doc-keyed shuffles; full list_reduce replay in the oracle),
# q191 (CCNet paragraph-level corpus dedup — normalized paragraphs
# hashed corpus-wide, keep-first (doc_id, pos), dedicated
# multi-paragraph fixture; window+string_agg replay), q192 (crawl
# link graph — anchor extraction + canonical resolution from the
# linkgraph WARC fixture, host-level weighted edges, PageRank; the
# q83 unrolled-PR chain over the regex+canon replay), q193
# (anchor-text aggregation per canonical link target — the
# query/document training-pair signal; DISTINCT-sorted string_agg
# replay), q194 (quality-classifier TRAINING — distributed GD over
# hashed features on the prose-vs-spam fixture; integer-quantized
# exact gradients, hard-sigmoid, 5 unrolled-CTE iterations in the
# oracle), q195 (crawl-scheduler capstone — links -> host PageRank
# priority -> RFC 9309 gate for rankbot (specific group overrides a
# closed `*`) -> per-host politeness slots; ONE composed oracle over
# the linkgraph truth: q192 replay + shared robots chain + q187
# slot window), q196 (tokenizer fertility/compression per language
# — the q183 byte-BPE replay re-aggregated at lang grain with
# strlen byte mass), q197 (STREAMING classifier gate — q194's
# trained weights deployed as a stateless micro-batch projection,
# gated at margin >= 0; stream equals the batch training+scoring
# replay bit-exactly), q198 (curation-funnel report — raw ->
# quality band -> LSH near-dedup -> greedy token-budget fill over
# the aug corpus; the two-phase global_running_sum carries the
# budget stage, no single-partition window), q199 (ExactSubstr span
# REMOVAL — the apply half of Lee et al. 2022: cross-doc duplicate
# windows cut position-wise, global-min (doc_id, pos) occurrence
# canonical, per-doc covered-set + indexed array filter reassembly;
# full window replay in the oracle), q200 (Okapi BM25 ranked
# retrieval — mid-df data-driven query terms, saturation + length
# normalization, term-ordered 10dp fold, broadcast query/stats,
# TakeOrdered top-k; full relational replay in the oracle), q201
# (hard-negative mining — per-anchor top-3 different-label cosine
# neighbors via the salted two-phase window, anchors broadcast;
# single-window replay in the oracle), q202 (temperature-based
# multilingual rebalancing — XLM-R alpha=0.3 exponential smoothing:
# per-language rates q_l*N/n_l, deterministic floor(r)+Bernoulli
# copies via the house md5-uniform, upsample and downsample in one
# pass; rate-fold + per-doc-k replay in the oracle), q203
# (margin-based bitext mining — Artetxe & Schwenk ratio-margin over
# the label-0/label-1 embedding sides, per-side k-NN windows over a
# persisted candidate relation; full window+fold replay), q204
# (classifier evaluation — exact rank-sum AUC over a held-out eval
# split with forced ties and label inversions, confusion at the
# deployed margin>=0 gate; training-chain + margin-grain replay),
# q205 (FUZZY benchmark decontamination — MinHash-LSH (train, eval)
# candidates with eval bands broadcast, exact Jaccard >= 0.5; the
# q23 chain side-split in the oracle).
# Changed since their last driver row (round-10 edits): q162/q175
# (pack_sequences_greedy gained return_assignments; expression path
# unchanged), q172/q176 (bpe encode plumbing gained byte_level/
# pretoken_re parameters; char-level path expression-identical),
# q173 (oracle rebuilt from the shared _canon_url_expr helper),
# q178 (capstone currency REWIRED to byte-level BPE — code and
# oracle), q180/q182 (parse_robots now the RFC group-run projection;
# oracles replay the group-run windows).
# Round-9 note (retired by CORRECTNESS_r09's green rows): q172 (real BPE token
# counts — committed merge table, Arrow vocab encode, recursive-CTE
# apply-loop oracle), q173 (URL canonicalization + canonical-URL
# keep-first dedup over the messy-URL crawl), q174 (C4 rule-based
# page cleanup over the dedicated prose corpus), q175 (greedy
# packing under the REAL BPE token budget — the q172+q162 composed
# oracle), q176 (BPE vocabulary statistics — token frequencies +
# source-word diversity under the real tokenizer), q177 (STREAMING
# canonical-URL keep-first dedup — complete-mode min_by argmin,
# deterministic under any arrival order; equals the q173 replay),
# q178 (text-pipeline capstone: C4 cleanup -> real-BPE token counts
# -> greedy packing, the chain replayed as one composed oracle),
# q179 (Bloom-filter URL seen-set — crawl-frontier dedup; bitmap
# bit-OR build + map-side probe; FPs deterministic and adjudicated),
# q180 (robots.txt compliance — RFC 9309 star-group longest-match
# over the committed WARC robots bodies, window-parsed, no Python),
# q181 (sitemap.xml discovery — native Spark XML source, rowTag
# routing, gzipped shards, freshest-lastmod canonical dedup),
# q182 (crawl-chain capstone: discovery -> robots -> frontier in
# one plan, the q181+q180+q179 replays composed into one oracle).
# Changed since their last driver row (round-9 edits): ADVICE r8 —
# q166's ZIP scan now labels bzip2/lzma members correctly (and
# raises on out-of-scope methods); q169's EXIF marker walk skips
# 0xFF fill runs and treats TEM as standalone; q170's PDF extractor
# resolves inherited /Resources through the page tree and guards
# stream-less ObjStm dicts. Fixture outputs unchanged; scan paths
# touched. q162: pack_sequences_greedy gained the tokens_col hook
# (q175); the default whitespace path is expression-identical but
# the function was edited.
# Changed since their last driver row: the round-11 optimization edits
# not re-checked in round 11 (q117/q133/q139/q148 were, green, and left
# the set; q133 is back below), and q109, whose snapshot_from_dumps parse now runs one file
# per task and rejects pages without their own <id>; its .7z stream
# now decodes in bounded pieces read in linear time through the stdlib
# reader only (the 7z-binary branch is gone), and revision timestamps
# must match YYYY-MM-DDTHH:MM:SSZ (parsed with fromisoformat instead
# of strptime).
# q21 and q105 run daily_snapshot, now written through the shared
# winner rule in operators/snapshot.py (q109/q121/q152/q155/q158,
# also on the rewritten snapshot paths, are listed already).
# Session state scoped (session.scoped_conf / scoped_sql): q40, q48,
# q65 and q91-q100 bind their tables as scoped_sql arguments instead
# of fixed-name temp views; the stream drains (q101-q104, q106, q107,
# q110, q134, q137, q177, q197) set their confs through scoped_conf
# and drop their sink view; the driver loops of the classifier
# (q194/q197/q204), k-means (q141) and global_running_sum (q133/q198/
# q204) and read_partitions (q121/q155/q158) run under scoped_conf.
# Scratch dirs through plans/_scratch (one owner, one exit hook): every
# query that reaches it, found by tracing calls while running all 205 —
# q101-q104, q106, q107, q110, q111, q112, q113, q117, q121, q122,
# q124, q134, q136, q137, q139, q147, q148, q153, q155, q156, q158,
# q177, q184, q188, q189, q197. q117, q122, q139, q147, q148, q153,
# q184 and q188 join; the rest were listed. The set is now 55, more
# than the ~50 queries a correctness round samples, so a round can
# leave a stale query unchecked: the case for computing this set from
# code fingerprints (ROADMAP direction 10).
_STALE: tuple[str, ...] = (
    "q21", "q40", "q48", "q65", "q80",
    *(f"q{i}" for i in range(91, 101)),
    "q101", "q102", "q103", "q104", "q105", "q106", "q107", "q109",
    "q110", "q111", "q112", "q113", "q117", "q121", "q122", "q124",
    "q133", "q134", "q136", "q137", "q139", "q141", "q147", "q148",
    "q152", "q153", "q155", "q156", "q158", "q177", "q184", "q186",
    "q187", "q188", "q189", "q194", "q195", "q197", "q198", "q204",
)


def _priority_order(keys: list[str]) -> list[str]:
    def qnum(k: str) -> int:
        try:
            return int(k.lstrip("q"))
        except ValueError:
            return 0

    def rank(k: str) -> tuple:
        never = k not in _ADJUDICATED_ROUND
        stale = k in _STALE
        last_round = _ADJUDICATED_ROUND.get(k, 0)
        # never-checked (0) < stale (1) < oldest-green-first (2+round)
        tier = 0 if never else (1 if stale else 2 + last_round)
        return (tier, qnum(k))

    return sorted(keys, key=rank)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {k: QUERIES[k] for k in _priority_order(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (q21 reads the committed
    fixtures/wiki_revisions.parquet on both engines)."""
    return {k: ORACLE[k] for k in _priority_order(list(ORACLE))}
