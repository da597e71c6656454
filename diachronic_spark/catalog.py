"""Table loaders over the driver-generated parquet testdata.

``load`` applies the explicit schema (scale rule: never infer) and only
the columns the caller selects survive to the parquet scan via
Catalyst column pruning — callers should ``.select`` early.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import EVENTS_RAW, TABLE_SCHEMAS
from .session import DEFAULT_CONFS

TABLES = tuple(TABLE_SCHEMAS)

# Correctness-critical SQL confs, force-applied on every catalog call so
# results are right even under an externally-created SparkSession (e.g.
# the driver's): UTC pins to_date/date_format semantics to match the
# DuckDB oracle; nanosAsLong makes the ns-timestamp events table
# readable; INT96 output would make Spark-written events derivatives
# round-trip wrong through the footer sniffing below (pyarrow reports
# INT96 as timestamp[ns]).
_REQUIRED_SQL_CONFS = {
    k: DEFAULT_CONFS[k]
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.outputTimestampType",
    )
}

# Performance defaults for a vanilla external session: AQE
# coalesces/skew-splits at runtime, Arrow batches every pandas-UDF
# crossing (q32/q37/q49 are 10x slower row-pickled). These are NOT
# correctness requirements, so they are applied at most ONCE per
# session, and only when the session was not built with its own value
# in its SparkConf AND the conf is unset at runtime — so an explicit
# spark.conf.set made before the first catalog call (e.g. disabling
# AQE or Arrow for debugging) is respected, not overwritten
# (ADVICE r5 item 4). RuntimeConfig.get(k, None) returns None only
# for a genuinely unset conf (never the engine default), which makes
# it the exact "did anyone choose a value" probe.
_PERF_SQL_CONFS = {
    k: DEFAULT_CONFS[k]
    for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
}

_PERF_APPLIED: set[str] = set()


def ensure_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_SQL_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    app_id = spark.sparkContext.applicationId
    if app_id in _PERF_APPLIED:
        return
    _PERF_APPLIED.add(app_id)
    built_with = spark.sparkContext.getConf()
    for k, v in _PERF_SQL_CONFS.items():
        try:
            runtime_val = spark.conf.get(k, None)
        except Exception:
            runtime_val = None
        if runtime_val is None and not built_with.contains(k):
            spark.conf.set(k, v)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _events_ts_unit(path: str) -> str:
    """Physical unit of the events ``ts`` column, from the parquet footer.

    The driver has shipped this fixture as both ``timestamp[ns]`` and
    ``timestamp[us]`` across rounds, so detect instead of assume. A footer
    read is a driver-side metadata fetch (no data pages), cheap at any SF.

    Only pyarrow being absent falls back to "ns" (the historical format,
    with a loud warning — a wrong guess misreads µs data 1000x off).
    Any other failure (missing/corrupt file, missing ``ts`` field)
    propagates: a broken footer must surface as an error at plan time,
    not as silently wrong timestamps.
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:
        import warnings

        warnings.warn(
            f"pyarrow unavailable; assuming events ts unit 'ns' for {path}"
            " — if the fixture is timestamp[us] this misreads it 1000x off",
            stacklevel=2,
        )
        return "ns"
    if os.path.isdir(path):
        # Spark-written table: a directory of part files with one
        # schema; sniff the first part's footer. Walk recursively —
        # a partitionBy layout nests part files under key=value
        # subdirectories.
        part = None
        for root, dirs, files in os.walk(path):
            dirs.sort()
            cand = sorted(f for f in files if f.endswith(".parquet"))
            if cand:
                part = os.path.join(root, cand[0])
                break
        if part is None:
            raise FileNotFoundError(f"no parquet part files in {path}")
        path = part
    t = pq.read_schema(path).field("ts").type
    # plain INT64 (no timestamp logical type) has no .unit: treat as
    # the historical ns-since-epoch long format
    return getattr(t, "unit", "ns")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its explicit schema.

    The events ``ts`` column has shipped as ``timestamp[ns]`` (which
    Spark's reader rejects; with ``nanosAsLong`` it arrives as a long and
    is truncated to µs here — lossless for this data, and the oracle
    truncates identically; SURVEY §7 watch-list 5) and as
    ``timestamp[us]`` (read natively as TIMESTAMP_NTZ, cast to a session-
    UTC TimestampType so downstream to_date/window math matches DuckDB).
    """
    ensure_confs(spark)
    if name == "events":
        path = table_path(sf_dir, name)
        if _events_ts_unit(path) == "ns":
            raw = spark.read.schema(EVENTS_RAW).parquet(path)
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            raw = spark.read.parquet(path).withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
        return raw.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    schema = TABLE_SCHEMAS.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(table_path(sf_dir, name))


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Raise source parallelism for CPU-bound row-local stages.

    Parquet cannot split below a row group, and the benchmark tables
    are single-row-group files — so scans (and relations cached from
    them) run 1-3 tasks on 32 cores, and heavy per-row expressions
    (HOF arithmetic, Arrow-batched pandas UDFs) bottleneck on one
    core: the entropy scan measured 8.6s single-partition vs 0.6s at
    32. A round-robin repartition costs one shuffle of the (small)
    input and parallelizes the expensive stage.

    Use ONLY above genuinely CPU-heavy row-local work — for
    shuffle-dominated plans the extra exchange is pure loss (measured:
    gap-fill, recursive CTE, TF-IDF all regress). At production scale
    file/row-group counts provide the parallelism and this no-ops
    (partitions already >= target).
    """
    target = (
        min_partitions
        or df.sparkSession.sparkContext.defaultParallelism
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
