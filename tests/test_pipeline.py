"""End-to-end wiki pipeline (SURVEY §5.2 item 2): synthetic XML dump →
(declarative XML scan | mapInPandas iterparse) → snapshot → parquet,
checked against the pure-Python replay spec; manifest anti-join.
"""

from __future__ import annotations

import bz2
import os
import pathlib

import pytest

from diachronic_spark.pipeline import (
    PipelineConfig,
    snapshot_from_dumps,
    snapshot_from_xml,
    write_snapshots,
)
from diachronic_spark.sources.manifest import files_df, files_to_run
from diachronic_spark.sources.wiki_fixture import generate_rows
from diachronic_spark.sources.wiki_xml import MEDIAWIKI_NS

from .test_snapshot import _collect_sorted, _replay_all


def normalize_page_ns(rows):
    """MediaWiki XML carries <ns> once per <page>; the fixture varies it
    per revision. Project every row onto its page's (first) namespace —
    what the XML document actually represents."""
    first_ns = {}
    for page_id, seq, ns, title, ts, text in sorted(rows):
        first_ns.setdefault(page_id, ns)
    return [
        (pid, seq, first_ns[pid], title, ts, text)
        for pid, seq, ns, title, ts, text in rows
    ]


def rows_to_xml(rows) -> str:
    """Serialize fixture rows as a MediaWiki export document."""
    from collections import defaultdict
    from xml.sax.saxutils import escape

    pages = defaultdict(list)
    meta = {}
    for page_id, seq, ns, title, ts, text in sorted(rows):
        pages[page_id].append((seq, ts, text))
        meta.setdefault(page_id, (ns, title))
    out = [f'<mediawiki xmlns="{MEDIAWIKI_NS}">']
    for page_id in sorted(pages):
        ns, title = meta[page_id]
        out.append("  <page>")
        out.append(f"    <title>{escape(title or '')}</title>")
        out.append(f"    <ns>{escape(ns or '')}</ns>")
        out.append(f"    <id>{page_id}</id>")
        for seq, ts, text in sorted(pages[page_id]):
            out.append("    <revision>")
            out.append(f"      <id>{page_id * 1000 + seq}</id>")
            out.append(
                f"      <timestamp>{ts.strftime('%Y-%m-%dT%H:%M:%S')}Z</timestamp>"
            )
            if text is not None:
                out.append(f"      <text>{escape(text)}</text>")
            else:
                out.append("      <text />")
            out.append("    </revision>")
        out.append("  </page>")
    out.append("</mediawiki>")
    return "\n".join(out)


@pytest.fixture(scope="module")
def xml_paths(tmp_path_factory):
    """The fixture corpus split across two dump files (plain + bz2)."""
    rows = normalize_page_ns(generate_rows(include_out_of_order=False))
    page_ids = sorted({r[0] for r in rows})
    half = set(page_ids[: len(page_ids) // 2])
    a = [r for r in rows if r[0] in half]
    b = [r for r in rows if r[0] not in half]
    d = tmp_path_factory.mktemp("dumps")
    pa = d / "dump-a.xml"
    pa.write_text(rows_to_xml(a), encoding="utf-8")
    pb = d / "dump-b.xml.bz2"
    pb.write_bytes(bz2.compress(rows_to_xml(b).encode("utf-8")))
    return rows, str(pa), str(pb)


def test_mapinpandas_parse_path_matches_replay(spark, xml_paths):
    rows, pa, pb = xml_paths
    snap = snapshot_from_dumps(spark, [pa, pb])
    assert _collect_sorted(snap) == _replay_all(rows)


def test_declarative_xml_path_matches_replay(spark, xml_paths):
    rows, pa, _pb = xml_paths
    # XML source reads the uncompressed file (bz2 of the other half is
    # exercised by the mapInPandas path above)
    page_ids = sorted({r[0] for r in rows})
    half = set(page_ids[: len(page_ids) // 2])
    a_rows = [r for r in rows if r[0] in half]
    snap = snapshot_from_xml(spark, pa)
    assert _collect_sorted(snap) == _replay_all(a_rows)


def test_write_snapshots_roundtrip(spark, xml_paths, tmp_path):
    rows, pa, pb = xml_paths
    snap = snapshot_from_dumps(spark, [pa, pb])
    out = str(tmp_path / "out")
    write_snapshots(snap, out, PipelineConfig(compression="zstd"))
    back = spark.read.parquet(out)
    assert _collect_sorted(back) == _replay_all(rows)
    assert [f.name for f in back.schema.fields] == [
        "namespace", "title", "timestamp", "text",
    ]


def test_write_snapshots_brotli(spark, xml_paths, tmp_path):
    """S6 brotli path (reference main.py:182 writes brotli parquet):
    same sink as the zstd roundtrip but with compression=brotli. Stock
    Spark has no brotli codec class, so write_snapshots probes the JVM
    BEFORE the job and falls back to zstd with a loud warning naming
    the jar (com.github.rdblue:brotli-codec) — this runs everywhere,
    asserting either the real brotli write (jar present) or the
    documented fallback, never a mid-job crash (VERDICT r2 item 5)."""
    import warnings

    rows, pa, pb = xml_paths
    snap = snapshot_from_dumps(spark, [pa, pb])
    out = str(tmp_path / "out_br")
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.hadoop.io.compress.BrotliCodec"
        )
        have_brotli = True
    except Exception:
        have_brotli = False
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        write_snapshots(snap, out, PipelineConfig(compression="brotli"))
    fallback_warns = [w for w in caught if "brotli" in str(w.message)]
    if have_brotli:
        assert not fallback_warns
        codecs = {
            f.name.split(".")[-2]
            for f in pathlib.Path(out).glob("*.parquet")
        }
        assert codecs == {"brotli"}, codecs
    else:
        assert fallback_warns, "missing codec must warn loudly"
        assert "brotli-codec" in str(fallback_warns[0].message)
    back = spark.read.parquet(out)
    assert _collect_sorted(back) == _replay_all(rows)


def test_manifest_anti_join(spark):
    manifest = (
        '{"jobs": {"metahistory7zdump": {"files": '
        '{"enwiki-a.7z": {}, "enwiki-b.7z": {}, "enwiki-c.7z": {}}}}}'
    )
    cands = files_df(spark, {"enwiki": manifest})
    done = spark.createDataFrame(
        [("enwiki-b.7z.parquet",)], "blob_name string"
    )
    todo = files_to_run(cands, done)
    got = sorted(r["file_name"] for r in todo.collect())
    assert got == ["enwiki-a.7z", "enwiki-c.7z"]
    # overwrite semantics: nothing done -> everything runs
    none_done = spark.createDataFrame([], "blob_name string")
    assert files_to_run(cands, none_done).count() == 3


def test_parse_with_status_logs_failures_and_continues(
    spark, xml_paths, tmp_path
):
    """The reference's per-file try/except + failure log
    (main.py:84-94, 103) as a relational channel: a corrupt file
    yields one failure row; good files parse fully."""
    from diachronic_spark.sources.wiki_xml import (
        parse_dump_files,
        parse_dump_files_with_status,
        split_parse_failures,
    )

    rows, pa, pb = xml_paths
    bad = tmp_path / "corrupt.xml.bz2"
    bad.write_bytes(b"this is not bzip2 data")
    parsed = parse_dump_files_with_status(
        spark, [str(pa), str(pb), str(bad)]
    )
    revisions, failures = split_parse_failures(parsed)
    good = parse_dump_files(spark, [str(pa), str(pb)])
    assert revisions.count() == good.count() > 0
    fail_rows = failures.collect()
    assert len(fail_rows) == 1
    assert fail_rows[0].src_path.endswith("corrupt.xml.bz2")
    assert fail_rows[0].error


def test_parse_gives_each_file_its_own_task(spark, xml_paths, tmp_path):
    """One file per parse task: N files make N partitions, each holding
    the rows of exactly one src_path (a hash queue could stack files)."""
    from pyspark.sql import functions as F

    from diachronic_spark.sources.wiki_xml import parse_dump_files_with_status

    _rows, pa, pb = xml_paths
    pc = tmp_path / "dump-c.xml"
    pc.write_bytes(pathlib.Path(pa).read_bytes())
    paths = [pa, pb, str(pc)]
    parsed = parse_dump_files_with_status(spark, paths)
    parts = (
        parsed.select(F.spark_partition_id().alias("part"), "src_path")
        .distinct()
        .collect()
    )
    by_part: dict[int, list[str]] = {}
    for r in parts:
        by_part.setdefault(r.part, []).append(r.src_path)
    assert len(by_part) == len(paths)
    assert all(len(v) == 1 for v in by_part.values())
    assert sorted(v[0] for v in by_part.values()) == sorted(paths)


def test_parse_of_zero_files_is_empty_with_schema(spark):
    from diachronic_spark.sources.wiki_xml import (
        PARSE_STATUS_SCHEMA,
        REVISION_SQL_SCHEMA,
        parse_dump_files,
        parse_dump_files_with_status,
    )

    for parse, schema in [
        (parse_dump_files_with_status, PARSE_STATUS_SCHEMA),
        (parse_dump_files, REVISION_SQL_SCHEMA),
    ]:
        df = parse(spark, [])
        assert df.schema == spark.createDataFrame([], schema).schema
        assert df.collect() == []


ORPHAN_XML = f"""<mediawiki xmlns="{MEDIAWIKI_NS}">
<page><title>Kept</title><ns>0</ns><id>7</id>
<revision><id>71</id><timestamp>2024-03-01T08:00:00Z</timestamp>
<text>kept</text></revision></page>
<page><title>Orphan</title><ns>0</ns>
<revision><id>81</id><timestamp>2024-03-01T09:00:00Z</timestamp>
<contributor><id>5</id></contributor><text>orphan</text></revision></page>
</mediawiki>"""


def test_page_without_own_id_fails_loudly(spark, xml_paths, tmp_path):
    """A <page> with no <id> child must not borrow a revision or
    contributor id (or a per-file counter): the parse raises, naming
    the page, and the with-status parse records the file as failed."""
    import io

    from diachronic_spark.sources.wiki_xml import (
        iterparse_revisions,
        parse_dump_files,
        parse_dump_files_with_status,
        split_parse_failures,
    )

    with pytest.raises(ValueError, match="'Orphan' has no <id>"):
        list(iterparse_revisions(io.BytesIO(ORPHAN_XML.encode())))

    bad = tmp_path / "orphan.xml"
    bad.write_text(ORPHAN_XML, encoding="utf-8")
    with pytest.raises(Exception, match="'Orphan' has no <id>"):
        parse_dump_files(spark, [str(bad)]).collect()

    _rows, pa, _pb = xml_paths
    revisions, failures = split_parse_failures(
        parse_dump_files_with_status(spark, [pa, str(bad)])
    )
    fail_rows = failures.collect()
    assert [r.src_path for r in fail_rows] == [str(bad)]
    assert fail_rows[0].error.startswith("ValueError: <page> 'Orphan'")
    assert revisions.count() == parse_dump_files(spark, [pa]).count()


@pytest.mark.parametrize(
    "stamp",
    ["2024-03-01T08:00:00+01:00", "2024-03-01T08:00:00", "2024-03-01 08:00:00Z"],
)
def test_timestamp_not_in_export_form_fails_loudly(
    spark, xml_paths, tmp_path, stamp
):
    """Only MediaWiki's YYYY-MM-DDTHH:MM:SSZ is read: any other
    <timestamp> (an offset, no Z) fails the file, naming the value,
    instead of losing its last character and parsing the rest."""
    import io
    import re

    from diachronic_spark.sources.wiki_xml import (
        iterparse_revisions,
        parse_dump_files,
        parse_dump_files_with_status,
        split_parse_failures,
    )

    xml = ORPHAN_XML.replace(
        "<title>Orphan</title><ns>0</ns>",
        "<title>Odd</title><ns>0</ns><id>8</id>",
    ).replace("2024-03-01T09:00:00Z", stamp)
    named = re.escape(f"timestamp '{stamp}'")
    with pytest.raises(ValueError, match=named):
        list(iterparse_revisions(io.BytesIO(xml.encode())))

    bad = tmp_path / "odd_ts.xml"
    bad.write_text(xml, encoding="utf-8")
    with pytest.raises(Exception, match=named):
        parse_dump_files(spark, [str(bad)]).collect()

    _rows, pa, _pb = xml_paths
    revisions, failures = split_parse_failures(
        parse_dump_files_with_status(spark, [pa, str(bad)])
    )
    fail_rows = failures.collect()
    assert [r.src_path for r in fail_rows] == [str(bad)]
    assert fail_rows[0].error.startswith("ValueError: revision timestamp")
    assert revisions.count() == parse_dump_files(spark, [pa]).count()


def test_pipeline_config_from_yaml(tmp_path):
    """conf.yml layout parity (reference diachronic/conf.yml:1-15) with
    safe_load and call-time I/O."""
    import datetime as dt

    from diachronic_spark.pipeline import PipelineConfig

    y = tmp_path / "conf.yml"
    y.write_text(
        "wiki_info:\n"
        "  wikis: [enwiktionary, enwiki]\n"
        "  month_source: '20180101'\n"
        "  datetime_init: 2001-01-15 00:00:00\n"
        "download:\n"
        "  url_prefix: 'http://dumps.example.org/'\n"
        "upload:\n"
        "  output_path: '/tmp/out/'\n"
    )
    cfg = PipelineConfig.from_yaml(str(y))
    assert cfg.wikis == ("enwiktionary", "enwiki")
    assert cfg.epoch == dt.datetime(2001, 1, 15)
    assert cfg.dump_url("enwiki") == "http://dumps.example.org/enwiki/20180101/"
    assert cfg.output_prefix("enwiki") == "enwiki/20180101/"


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_OBJECT_STORE_URI"),
    reason="set SPARK_GRAFT_OBJECT_STORE_URI=gs://bucket/prefix (or s3a://) "
    "and provide connector jars + credentials to run the cloud-sink test",
)
def test_write_snapshots_object_store(spark, xml_paths):
    """S8 integration: write_snapshots straight to a cloud URI and read
    it back — same direct-URI sink the local roundtrip exercises, but
    through the real Hadoop connector (jar coordinates in README)."""
    rows, pa, pb = xml_paths
    base = os.environ["SPARK_GRAFT_OBJECT_STORE_URI"].rstrip("/")
    out = f"{base}/diachronic_spark_it/snapshots"
    snap = snapshot_from_dumps(spark, [pa, pb])
    write_snapshots(snap, out, PipelineConfig(compression="zstd"))
    back = spark.read.parquet(out)
    assert _collect_sorted(back) == _replay_all(rows)
