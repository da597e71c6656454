"""Seeded synthetic inputs for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical files. The program under test only ever sees the
files written here, never the generator's in-memory rows; those rows
are kept by the benchmark to compute the expected outputs.

Generated files are cached under ``<cache>/<kind>-s<seed>-<size>/`` so
that the slow part (LZMA packing of the dumps) is paid once per seed
and size, and never inside a timed region or ``setup_s``.

- ``wiki_dumps``: a MediaWiki revision-history export split into
  several ``.7z`` (LZMA2) files, packed with the package's own
  ``sources.sevenzip.write_7z``. Pages mix namespaces, same-day edit
  bursts, pre-epoch revisions and deleted (NULL) text; timestamps are
  sorted within each page, as in real dumps.
- ``store_revisions``: flat revision rows (the parser's output schema)
  for the snapshot-store workload: one base history and a sequence of
  delta batches skewed toward recent days.
- ``query_tables``: the ten star-schema tables the declared query
  plans read (same schemas and value domains as the repo's testdata).
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import random
import subprocess
import sys
from dataclasses import dataclass
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEDIAWIKI_NS = "http://www.mediawiki.org/xml/export-0.10/"

# syllable-built vocabulary: deterministic, no data files needed
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "qu", "ar",
        "el", "on", "is", "ut", "ba", "de", "fi", "go", "hu"]
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:5]]

# namespace mix: mostly articles, plus talk/user/project/category pages
_NAMESPACES = ["0"] * 7 + ["1", "2", "4", "14"]


# --------------------------------------------------------------------------
# wiki dumps


@dataclass(frozen=True)
class DumpSize:
    files: int = 8
    revs_per_file: int = 1400    # exact, so every seed has the same volume
    revs_per_page: int = 14      # mean; geometric spread
    words_per_rev: int = 420     # ~2.9 KB of text per revision

    @property
    def tag(self) -> str:
        return (f"f{self.files}r{self.revs_per_file}p{self.revs_per_page}"
                f"w{self.words_per_rev}")


def _page(rng: random.Random, page_id: int, size: DumpSize, max_revs: int):
    """One page: (page_id, ns, title, [(timestamp, text|None), ...]) with
    timestamps strictly sorted within the page."""
    ns = rng.choice(_NAMESPACES)
    title = f"{'' if ns == '0' else 'NS' + ns + ':'}Page {page_id}"
    n_revs = min(max_revs, int(rng.expovariate(1 / size.revs_per_page)) + 1)
    # first edit anywhere from before the epoch to 2019, so some pages
    # have pre-epoch history and some are entirely after it
    ts = dt.datetime(2000, 6, 1) + dt.timedelta(
        seconds=rng.randrange(0, 19 * 365 * 86400))
    words = rng.choices(VOCAB, k=size.words_per_rev)
    revs = []
    for k in range(n_revs):
        if k:
            if rng.random() < 0.35:   # same-day burst
                ts += dt.timedelta(seconds=rng.randrange(1, 3 * 3600))
            else:
                ts += dt.timedelta(seconds=rng.randrange(3600, 40 * 86400))
        for _ in range(rng.randrange(1, 6)):  # a small edit per revision
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        text = None if rng.random() < 0.03 else " ".join(words)
        revs.append((ts, text))
    return page_id, ns, title, revs


def _page_xml(page) -> str:
    page_id, ns, title, revs = page
    parts = [f"<page><title>{escape(title)}</title><ns>{ns}</ns>"
             f"<id>{page_id}</id>"]
    for k, (ts, text) in enumerate(revs):
        body = ('<text deleted="deleted" />' if text is None
                else f'<text xml:space="preserve">{escape(text)}</text>')
        parts.append(f"<revision><id>{page_id * 1000 + k}</id>"
                     f"<timestamp>{ts:%Y-%m-%dT%H:%M:%S}Z</timestamp>"
                     f"{body}</revision>")
    parts.append("</page>")
    return "".join(parts)


def _dump_file_pages(seed: int, size: DumpSize, index: int) -> list:
    rng = random.Random(f"wiki-{seed}-{index}")
    pages, left = [], size.revs_per_file
    page_id = index * size.revs_per_file + 1   # ids unique across files
    while left:
        pages.append(_page(rng, page_id, size, left))
        left -= len(pages[-1][3])
        page_id += 1
    return pages


def _write_dump_file(seed: int, size: DumpSize, index: int, path: str) -> None:
    from diachronic_spark.sources.sevenzip import write_7z

    pages = _dump_file_pages(seed, size, index)
    xml = (f'<mediawiki xmlns="{MEDIAWIKI_NS}">'
           + "".join(_page_xml(p) for p in pages)
           + "</mediawiki>").encode("utf-8")
    tmp = path + ".tmp"
    write_7z(tmp, os.path.basename(path)[:-3] + ".xml", xml, codec="lzma2")
    os.replace(tmp, path)
    with open(path + ".xml_bytes", "w") as f:
        f.write(str(len(xml)))


def dump_rows(seed: int, size: DumpSize):
    """The generator's own revision rows, page by page, in document
    order: ``[(page_id, ns, title, [(ts, text), ...]), ...]``."""
    for i in range(size.files):
        yield from _dump_file_pages(seed, size, i)


def wiki_dumps(cache: str, seed: int, size: DumpSize, workers: int) -> dict:
    """Paths and volume of the seeded ``.7z`` dump set (cached)."""
    d = os.path.join(cache, f"wiki-s{seed}-{size.tag}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    os.makedirs(d, exist_ok=True)
    paths = [os.path.join(d, f"dump-{i:02d}.7z") for i in range(size.files)]
    # LZMA packing is CPU-bound and independent per file: one child
    # process per file, at most `workers` at a time, each waited for
    todo = list(range(size.files))
    while todo:
        batch, todo = todo[:max(1, workers)], todo[max(1, workers):]
        procs = [subprocess.Popen(
            [sys.executable, "-m", "perfbench.gen", str(seed),
             json.dumps(dataclasses.asdict(size)), str(i), paths[i]])
            for i in batch]
        for proc in procs:
            if proc.wait() != 0:
                raise RuntimeError(f"packing dump file failed: {proc.args}")
    xml_bytes = []
    for p in paths:
        with open(p + ".xml_bytes") as f:
            xml_bytes.append(int(f.read()))
    revisions = sum(len(p[3]) for p in dump_rows(seed, size))
    meta = {"paths": paths, "xml_bytes": sum(xml_bytes),
            "packed_bytes": sum(os.path.getsize(p) for p in paths),
            "revisions": revisions}
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


# --------------------------------------------------------------------------
# snapshot-store revisions

REVISION_SCHEMA = pa.schema([
    ("page_id", pa.int64()), ("rev_seq", pa.int32()),
    ("namespace", pa.string()), ("title", pa.string()),
    ("timestamp", pa.timestamp("us")), ("text", pa.string()),
])

STORE_START = dt.datetime(2021, 1, 1)


@dataclass(frozen=True)
class StoreSize:
    pages: int = 10_000
    days: int = 500
    base_revisions: int = 200_000
    delta_revisions: int = 2_000


class StoreRevisions:
    """Base history plus an endless, seeded sequence of delta batches.

    ``rev_seq`` continues per page across batches (document order), so
    it is unique per (page, day) over all batches, as the store's
    argmin tie-break requires. Delta timestamps are skewed toward the
    end of the store's range: most hit the last two weeks, a few land
    on old days, and the range grows by a day every four deltas.
    """

    OLD_EDITS = 10

    def __init__(self, seed: int, size: StoreSize):
        self.size = size
        self._rng = np.random.default_rng([seed, 7])
        self._next_seq = np.zeros(size.pages, dtype=np.int64)

    def _batch(self, n: int, day_offsets: np.ndarray) -> pa.Table:
        rng = self._rng
        pages = rng.integers(0, self.size.pages, n)
        secs = day_offsets * 86400 + rng.integers(0, 86400, n)
        order = np.lexsort((secs, pages))
        pages, secs = pages[order], secs[order]
        # rev_seq: running per-page counter continuing from earlier batches
        first = np.r_[True, pages[1:] != pages[:-1]]
        run_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
        seq = self._next_seq[pages] + (np.arange(n) - run_start)
        np.add.at(self._next_seq, pages, 1)
        ns = np.where(rng.random(n) < 0.9, "0", "1")
        words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), (n, 4))]
        text = [" ".join(w) for w in words.tolist()]
        null = rng.random(n) < 0.02
        ts = (np.datetime64(STORE_START, "us")
              + secs.astype("timedelta64[s]").astype("timedelta64[us]"))
        return pa.table({
            "page_id": pa.array(pages, pa.int64()),
            "rev_seq": pa.array(seq, pa.int32()),
            "namespace": pa.array(ns),
            "title": pa.array([f"Page {p}" for p in pages.tolist()]),
            "timestamp": pa.array(ts, pa.timestamp("us")),
            "text": pa.array(text, mask=null),
        }, schema=REVISION_SCHEMA)

    def base(self) -> pa.Table:
        n = self.size.base_revisions
        return self._batch(n, self._rng.integers(0, self.size.days, n))

    def delta(self, k: int) -> pa.Table:
        """The k-th delta (call in order 0, 1, 2, ... after ``base``)."""
        n, rng = self.size.delta_revisions, self._rng
        last = self.size.days - 1 + k // 4   # the range grows slowly
        # a fixed number of late edits to old days keeps the count of
        # touched partitions, and so the work per refresh, even
        recent = last - np.floor(rng.exponential(4.0, n - self.OLD_EDITS))
        old = rng.integers(0, last + 1, self.OLD_EDITS)
        day = np.r_[recent.astype(np.int64), old]
        return self._batch(n, np.maximum(day, 0))


def write_table(table: pa.Table, path: str) -> str:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


# --------------------------------------------------------------------------
# star-schema query tables


@dataclass(frozen=True)
class TableSize:
    scale: float = 0.02   # lineitem = 6M x scale rows, like the testdata

    @property
    def tag(self) -> str:
        return f"sf{self.scale:g}"


def _query_table_data(seed: int, size: TableSize) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 11])
    sf = size.scale
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def day_ts(start, n_days, n):
        return (np.datetime64(start, "us")
                + (rng.integers(0, n_days, n) * 86400).astype(
                    "timedelta64[s]").astype("timedelta64[us]"))

    def pick(values, n):
        return np.asarray(values)[rng.integers(0, len(values), n)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    noun = ["ring", "bolt", "plate", "gear", "nut", "pipe", "rod", "cap"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(pick(adj, n_part), " "),
                              pick(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part)
                               .astype(str)),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1
                                  + rng.integers(0, 2, n_part) * 0.05, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(day_ts("1995-01-01", 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(day_ts("1995-01-02", 2498, n_li),
                               pa.timestamp("us"))})
    # events: January 2024, µs timestamps never exactly on midnight
    ev_us = np.sort(rng.integers(1, 30 * 86400 * 10**6, n_ev))
    ev_us[ev_us % (86400 * 10**6) == 0] += 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ev_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev),
                            pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup",
                            "view"], n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_ev)]})
    words = np.asarray(VOCAB[:64])
    lens = rng.integers(8, 90, n_doc)
    toks = words[rng.integers(0, len(words), (n_doc, 90))].tolist()
    texts = [" ".join(row[:n]) for row, n in zip(toks, lens.tolist())]
    for i in range(0, n_doc, 600):   # a few exact duplicates
        texts[i] = texts[(i * 7 + 3) % n_doc]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(["de", "en", "es", "fr", "zh"], n_doc),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def query_tables(cache: str, seed: int, size: TableSize) -> str:
    """Directory of ``<table>.parquet`` files (cached)."""
    d = os.path.join(cache, f"tables-s{seed}-{size.tag}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    for name, table in _query_table_data(seed, size).items():
        write_table(table, os.path.join(d, f"{name}.parquet"))
    open(done, "w").close()
    return d


if __name__ == "__main__":
    # one dump file: <seed> <DumpSize as JSON> <index> <path>
    _write_dump_file(int(sys.argv[1]), DumpSize(**json.loads(sys.argv[2])),
                     int(sys.argv[3]), sys.argv[4])
