"""Wiki revision-history XML ingestion (SURVEY §2.1 S4/S5).

The reference pipes ``7z e -so`` into a SAX iterparse loop
(/root/reference/main.py:172-175) one process per dump file. The Spark
form distributes the same work two ways:

1. ``read_pages_xml``: Spark's built-in XML source (rowTag="page") —
   declarative, whole files split across executors, columns pruned at
   the scan. Preferred when dumps are in a Spark-readable codec
   (bz2/zstd/plain; Wikimedia also publishes .bz2 dumps).

2. ``parse_dump_files``: a work-queue DataFrame of file paths fanned
   out via ``mapInPandas`` — each task streams one file through an
   incremental XML parse (same lxml-style event loop, constant
   memory). This is the path for codecs Spark can't read (7z): where
   the reference pipes ``7z e -so``, the task streams the archive
   through the stdlib 7z reader (sources/sevenzip.py, CRC-checked), so
   no executor needs p7zip; plain/bz2/gz use Python codecs.

Both yield the flat revision schema (page_id, rev_seq, namespace,
title, timestamp, text) feeding operators.snapshot.daily_snapshot.
"""

from __future__ import annotations

import bz2
import datetime as dt
import gzip
import io
import re
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WIKI_REVISIONS
from .sevenzip import open_7z_stream

# MediaWiki export namespace (reference diachronic/conf.yml:6).
MEDIAWIKI_NS = "http://www.mediawiki.org/xml/export-0.10/"

REVISION_SQL_SCHEMA = (
    "page_id bigint, rev_seq int, namespace string, title string, "
    "timestamp timestamp, text string"
)


# The one timestamp form MediaWiki exports (UTC, whole seconds, "Z").
_TS_RE = re.compile(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ", re.ASCII)


def _parse_timestamp(text: str) -> dt.datetime:
    """Naive UTC datetime of a dump ``<timestamp>``; the reference
    strips the ``Z`` and parses the seconds (main.py:153). Any other
    form raises ``ValueError`` naming it."""
    if _TS_RE.fullmatch(text) is None:
        raise ValueError(
            f"revision timestamp {text!r} is not YYYY-MM-DDTHH:MM:SSZ"
        )
    return dt.datetime.fromisoformat(text[:-1])


PAGE_XML_SCHEMA = (
    "title string, ns string, id long, "
    "revision array<struct<id: long, timestamp: string, text: string>>"
)


def read_pages_xml(spark: SparkSession, path: str) -> DataFrame:
    """Declarative XML scan: one row per <page>, revisions exploded in
    document order (posexplode preserves it — required because the
    snapshot dedup is order-sensitive, SURVEY §1.2).

    Explicit schema (timestamps kept as strings and parsed with the
    reference's exact format, main.py:153) — never infer at scale.
    """
    pages = (
        spark.read.format("xml")
        .option("rowTag", "page")
        .schema(PAGE_XML_SCHEMA)
        .load(path)
    )
    rev = F.posexplode("revision").alias("rev_seq", "rev")
    exploded = pages.select(
        F.col("id").cast("long").alias("page_id"),
        F.col("ns").cast("string").alias("namespace"),
        F.col("title").cast("string").alias("title"),
        rev,
    )
    return exploded.select(
        "page_id",
        F.col("rev_seq").cast("int"),
        "namespace",
        "title",
        # reference main.py:153: strip trailing Z, parse seconds
        F.to_timestamp(
            F.regexp_replace(F.col("rev.timestamp").cast("string"), "Z$", ""),
            "yyyy-MM-dd'T'HH:mm:ss",
        ).alias("timestamp"),
        F.col("rev.text").cast("string").alias("text"),
    )


def _open_stream(path: str):
    """Decompressed byte stream for one dump file.

    7z: the pure-stdlib container reader (sources/sevenzip.py — lzma/bz2
    codecs, streaming, CRC-verified) in place of the reference's
    ``7z e -so`` pipe (main.py:173), so a corrupt archive fails with
    its path and no executor needs p7zip. bz2/gz: Python codecs;
    anything else: raw bytes.
    """
    if path.endswith(".7z"):
        return open_7z_stream(path)
    if path.endswith(".bz2"):
        return bz2.open(path, "rb")
    if path.endswith(".gz"):
        return gzip.open(path, "rb")
    return io.open(path, "rb")


def iterparse_revisions(stream) -> Iterator[tuple]:
    """Incremental end-tag event loop over one dump stream.

    Mirrors the reference's dispatch (main.py:135-161) but emits EVERY
    revision row flat (page_id, rev_seq, ns, title, ts, text) — the
    filter/dedup lives downstream in the declarative snapshot operator,
    where Catalyst can push predicates and fuse.
    Uses stdlib ElementTree iterparse (lxml-compatible API) with
    element.clear() for O(page) memory, like main.py:161,170. A page's
    rows are emitted at ``</page>``, keyed by the page's own ``<id>``
    (cleared revisions do not hide the page's direct children); a page
    without one raises ``ValueError``, since no per-file stand-in is
    unique across files.
    """
    import xml.etree.ElementTree as ET

    ns = f"{{{MEDIAWIKI_NS}}}"
    revs: list[tuple] = []
    for _, elem in ET.iterparse(stream, events=("end",)):
        tag = elem.tag.removeprefix(ns)
        if tag == "revision":
            ts_el = elem.find(f"{ns}timestamp")
            tx_el = elem.find(f"{ns}text")
            ts = None
            if ts_el is not None and ts_el.text:
                ts = _parse_timestamp(ts_el.text)
            revs.append((ts, tx_el.text if tx_el is not None else None))
            elem.clear()
        elif tag == "page":
            title = _child_text(elem, f"{ns}title")
            pid = _child_text(elem, f"{ns}id")
            if not pid:
                raise ValueError(f"<page> {title!r} has no <id> of its own")
            namespace = _child_text(elem, f"{ns}ns")
            for rev_seq, (ts, text) in enumerate(revs):
                yield (int(pid), rev_seq, namespace, title, ts, text)
            revs = []
            elem.clear()


def _child_text(elem, tag: str) -> str | None:
    child = elem.find(tag)
    return child.text if child is not None else None


PARSE_STATUS_SCHEMA = REVISION_SQL_SCHEMA + ", src_path string, error string"

_REV_COLS = ["page_id", "rev_seq", "namespace", "title", "timestamp", "text"]


def _file_per_task(
    spark: SparkSession,
    paths: list[str],
    parse: Callable[[str], Iterator[pd.DataFrame]],
    schema: str,
) -> DataFrame:
    """``parse`` mapped over ``paths``, exactly one file per task.

    A hash repartition on the path can stack several files on one task
    and leave others empty (each still paying the Python-task fixed
    cost); round-robin from a single input partition puts exactly one
    row in each output partition. The rows are indexes into ``paths``,
    which ship in the closure. The queue stays a shuffle input, so each
    parse task's shuffle read counts the files it was handed.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                yield from parse(paths[i])

    n = len(paths)
    return spark.range(0, n, 1, 1).repartition(max(n, 1)).mapInPandas(
        fn, schema
    )


def parse_dump_files_with_status(
    spark: SparkSession, paths: list[str]
) -> DataFrame:
    """Fault-tolerant distributed dump parse.

    The reference wraps each file in try/except and logs failures
    without killing the run (main.py:84-94, 103) — at dump scale SOME
    file is always truncated. The relational form of that failure log:
    every output row carries (src_path, error); a failed file
    contributes exactly one row with error set and null revision
    fields. Split with ``split_parse_failures``. One file = one task,
    streaming decompress → iterparse → Arrow batches.
    """

    def parse(path: str) -> Iterator[pd.DataFrame]:
        try:
            rows = list(iterparse_revisions(_open_stream(path)))
        except Exception as e:  # the reference's per-file net
            yield pd.DataFrame(
                [[None] * len(_REV_COLS) + [path, f"{type(e).__name__}: {e}"]],
                columns=_REV_COLS + ["src_path", "error"],
            )
            return
        if rows:
            out = pd.DataFrame(rows, columns=_REV_COLS)
            out["src_path"] = path
            out["error"] = None
            yield out

    return _file_per_task(spark, paths, parse, PARSE_STATUS_SCHEMA)


def split_parse_failures(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(revisions, failures) from the with-status parse output."""
    revisions = parsed.filter(F.col("error").isNull()).select(*_REV_COLS)
    failures = (
        parsed.filter(F.col("error").isNotNull()).select("src_path", "error")
    )
    return revisions, failures


def parse_dump_files(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Strict distributed dump parse: any unreadable file fails the job
    (use parse_dump_files_with_status for the reference's log-and-
    continue behavior)."""

    def parse(path: str) -> Iterator[pd.DataFrame]:
        rows = list(iterparse_revisions(_open_stream(path)))
        if rows:
            yield pd.DataFrame(rows, columns=_REV_COLS)

    return _file_per_task(spark, paths, parse, REVISION_SQL_SCHEMA)
