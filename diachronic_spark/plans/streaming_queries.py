"""Driver-verifiable Structured Streaming queries (q101-q104, q106-q107, q110-q111).

The ST1-ST9 streaming operators (streaming/events.py) were previously
pinned only by the repo's own stream==batch tests: a streaming job has
no SQL text a DuckDB oracle can run, so none of them appeared in the
driver's correctness table. These queries close that gap by running a
REAL streaming query to completion inside the callable — file-source
readStream over a staged copy of the events table, micro-batched
execution, memory sink — and returning the drained sink as a plain
DataFrame whose content is deterministic and therefore oracle-able:

- q101 (ST1+ST2+ST3+ST8): tumbling hourly counts, COMPLETE output
  mode — emits every window regardless of watermark, so the result
  equals the batch aggregation bit-for-bit (the q16 oracle shape).
- q102 (ST9): the same aggregation in APPEND mode, where the 1-day
  watermark decides which windows are final. Append emission near the
  watermark boundary is engine-internal (strict vs non-strict close),
  so both sides filter to windows STRICTLY below the final watermark
  (max ts - 1 day): every such window is provably emitted, and the
  boundary window's fate cannot decide the comparison. This makes the
  late-data/watermark policy itself a driver-checked fact.
- q103 (ST5): session windows (5-minute gap, complete mode) reduced
  to per-user session counts — equals the batch gaps-and-islands
  rewrite (the q17 oracle), pinning session_window's half-open merge
  semantics against an independent SQL formulation.
- q104 (ST7/U6): the stateful daily threshold scan
  (applyInPandasWithState) vs its first-per-(user, day) window dual —
  see the function docstring.
- q106 (ST4): sliding-window counts, complete mode — width/slide = 2
  windows per event vs the UNION ALL bucket-math dual.
- q107 (ST6): dropDuplicatesWithinWatermark over a doubled (exactly
  twice) staged copy — the at-least-once upstream shape; collapses to
  the original events table.
- q110: stream-stream interval join (both sides live, symmetric hash
  state) vs the batch interval-join SQL.
- q111 (ST8): checkpointed PARQUET sink via availableNow — the output
  FILES are read back as the adjudicated result.
- q134: stream-static broadcast enrichment join (stateless; the
  static dim is re-planned per micro-batch) vs the batch join.

Staging: the events table is re-written through catalog.load (which
normalizes the ns-vs-µs parquet ts encodings) into a 4-file local dir
ordered by ts, the same multi-file source shape tests/test_streaming.py
uses; each query drains it with processAllAvailable. Scale: the stage
write is one narrow pass; the streaming aggs themselves shuffle exactly
like their batch duals, and at 100 TB the same plans run against a real
log source (Kafka/files) instead of the staged copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import functions as fn
from ..catalog import load
from ..session import scoped_conf
from ..streaming.events import (
    dedup_within_watermark,
    read_event_stream,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from ._scratch import (
    checkpoint_dir,
    restore_tree,
    run_dir,
    scratch_dir,
    write_single_file,
)

WATERMARK = "1 day"
# ms form of WATERMARK, interpolated into BOTH the Spark-side cutoff
# and the q102 oracle SQL so the three can never drift apart.
WATERMARK_MS = 86_400_000
assert WATERMARK == "1 day" and WATERMARK_MS == 24 * 3600 * 1000


def q197(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming quality gate — q194's trained model DEPLOYED on the
    ingest stream, the production shape of a corpus quality filter:
    train offline (the same exact-gradient batch loop), fold the
    KB-sized weight vector into the micro-batch as a pure projection
    (operators/classifier.score_margin — stateless, codegen-fused,
    no state store at all), and gate docs at margin >= 0 in flight.
    Oracle: the q194 unrolled-training chain re-scored per document —
    stream and batch must agree row-for-row, margins bit-exact (the
    ordered-fold + literal-weights contract)."""
    from ..operators.classifier import (
        score_margin,
        train_quality_weights,
    )
    from ..sources.classifier_fixture import DOCS as _CLS_DOCS

    def docs() -> DataFrame:
        from ..operators._cache import fixture_df

        base = fixture_df(
            spark, "fixture.cls_docs",
            _CLS_DOCS, "doc_id bigint, text string, label int",
        )
        # synthetic ingest time: _stage range-partitions the staged
        # files on ts; arrival order is doc order (the gate is
        # stateless, so the result is order-independent anyway)
        return base.withColumn(
            "ts",
            F.to_timestamp(F.lit("2025-06-01 12:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("int")),
        )

    w, _, _ = train_quality_weights(
        docs(), F.col("label") == 1, n_buckets=16, lr=4.0, iterations=5,
        with_eval=False,
    )
    src = _stage(spark, f"classifier:{sf}", docs)
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, label int, ts timestamp"
        )
        .parquet(src)
        .withColumn("margin", score_margin(w, "text"))
        .filter(F.col("margin") >= 0)
        .select(
            "doc_id",
            "label",
            (
                F.floor(F.col("margin") * F.lit(1e6) + F.lit(0.5))
                / F.lit(1e6)
                + F.lit(0.0)
            ).alias("margin"),
        )
    )
    sink = _drain_to_table(stream, "append", sink_key="q197")
    return sink.orderBy("doc_id")


def _stage(spark: SparkSession, key: str, df_factory) -> str:
    """Write a DataFrame as a 4-file ts-ordered stream source dir,
    staged once per key for the process lifetime (the staged copy is
    immutable input, so re-staging per query would only re-pay the
    write)."""

    def build(out: str) -> None:
        # range-partition + in-partition sort actually establishes the
        # per-file ts order (a global orderBy before repartitionByRange
        # would be re-shuffled in nondeterministic fetch order), with
        # ONE exchange instead of two
        df_factory().repartitionByRange(
            4, "ts"
        ).sortWithinPartitions("ts").write.mode("overwrite").parquet(out)

    return scratch_dir(f"stream_src:{key}", build)


def _stage_events(spark: SparkSession, sf: str) -> str:
    return _stage(spark, sf, lambda: load(spark, sf, "events"))


def _stage_events_doubled(spark: SparkSession, sf: str) -> str:
    """Every event row exactly twice — the at-least-once-upstream shape
    the watermark dedup operator (ST6) exists for. Duplicates are
    bit-identical rows, so whichever arrival the dedup keeps, the kept
    ROW is deterministic and the result hash-comparable."""
    def doubled():
        ev = load(spark, sf, "events")
        return ev.union(ev)

    return _stage(spark, f"{sf}:doubled", doubled)


# State-store partition count for the window-agg drains: the benched
# corpus holds ~3k live window keys, so 32 state partitions (the
# session shuffle default) is over-sharded — each micro-batch pays 32
# state-file commits for KBs of state. 4 partitions cut q102 from
# ~3.9s to ~1.7s at sf0.1. At real scale this is the knob you size to
# key cardinality/throughput; the stateful pandas scan (q104) keeps
# the session default because its cost is Python-worker parallelism,
# not state commits.
STREAM_STATE_PARTITIONS = 4


def _drain_to_table(
    stream: DataFrame,
    mode: str,
    n_state_partitions: int | None = None,
    sink_key: str = "q",
    require_single_batch: bool = False,
    no_data_batches: bool = True,
) -> DataFrame:
    """Drain a stream into a memory sink and return the sink's rows.

    The drain runs under ``Trigger.AvailableNow`` + ``awaitTermination``:
    the query processes everything available, runs the trailing no-data
    micro-batch (watermark finalization) when enabled, commits, and
    terminates — so by the time awaitTermination returns, every row the
    run will ever emit (including append-mode windows finalized by
    watermark advancement) is in the sink. This replaces the r2-era
    processAllAvailable + progress-poll + count-stability dance, which
    paid extra RPC round-trips and sleeps per drain (VERDICT r3 item 1).

    The memory sink registers its rows as the temp view
    ``stream_sink_<sink_key>``. The returned DataFrame reads the sink
    itself, so the view is dropped before returning: no view outlives
    the drain, and the catalog pins no drain's result copy (ADVICE r2).

    ``require_single_batch``: queries whose parity depends on all
    staged files landing in one micro-batch (watermark cutoffs, state
    expiry) assert that fact from the progress log instead of silently
    assuming it (ADVICE r2) — the file source has no maxFilesPerTrigger
    here, so all available files form batch 0; this check turns that
    invariant into a loud failure if the staging shape ever changes.

    ``no_data_batches=False`` skips the trailing watermark-advance
    micro-batch for drains whose RESULT doesn't depend on it (complete
    mode; stateful/dedup append, where rows emit in the data batch) —
    one fewer batch commit per drain, measured ~0.3-0.9 s each at
    sf0.1. Queries whose result needs watermark finalization keep it
    on: q102's append-mode windows and q137's outer-join nulls are
    emitted only by the trailing no-data batch that advances the
    watermark past them.

    ``n_state_partitions`` sets the shuffle width the stream starts
    with (state partitioning is fixed per checkpoint). Both settings
    hold for the drain only; batch queries see the session's own.
    """
    spark = stream.sparkSession
    name = f"stream_sink_{sink_key}"
    confs: dict[str, str] = {}
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    if n_state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(n_state_partitions)
    q = None
    ckpt = checkpoint_dir(sink_key)
    try:
        with scoped_conf(spark, confs):
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        if require_single_batch:
            data_batches = sum(
                1 for p in q.recentProgress if p["numInputRows"] > 0
            )
            if data_batches != 1:
                raise RuntimeError(
                    f"{sink_key}: staged source split across "
                    f"{data_batches} micro-batches; watermark/state "
                    "parity assumes single-batch ingestion"
                )
        return spark.table(name)
    finally:
        if q is not None and q.isActive:
            q.stop()
        spark.catalog.dropTempView(name)


_WM_CUTOFF_CACHE: dict[str, int] = {}


def _wm_cutoff_ms(spark: SparkSession, sf: str) -> int:
    """Final event-time watermark (ms) for the staged events table:
    ms-floor(max ts) - delay. Memoized per sf — the source is
    immutable for the process lifetime, like the stage dirs."""
    if sf not in _WM_CUTOFF_CACHE:
        _WM_CUTOFF_CACHE[sf] = (
            load(spark, sf, "events")
            .agg(F.max("ts").alias("mx"))
            .select((F.unix_millis(F.col("mx")) - WATERMARK_MS).alias("wm"))
            .first()["wm"]
        )
    return _WM_CUTOFF_CACHE[sf]


def q101(spark: SparkSession, sf: str) -> DataFrame:
    src = _stage_events(spark, sf)
    agg = tumbling_counts(read_event_stream(spark, src), width="1 hour")
    sink = _drain_to_table(
        agg, "complete", n_state_partitions=STREAM_STATE_PARTITIONS,
        sink_key="q101", no_data_batches=False,
    )
    return (
        sink.select(
            fn.ts_str(F.col("window_start")).alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


def q102(spark: SparkSession, sf: str) -> DataFrame:
    src = _stage_events(spark, sf)
    agg = tumbling_counts(
        read_event_stream(spark, src), width="1 hour", watermark=WATERMARK
    )
    sink = _drain_to_table(
        agg, "append", n_state_partitions=STREAM_STATE_PARTITIONS,
        sink_key="q102", require_single_batch=True,
    )
    # Spark tracks event-time watermarks in MILLISECONDS: the final
    # watermark is ms-floor(max ts) - delay. Keep windows whose END is
    # strictly below it — provably emitted whether the engine's own
    # boundary close is strict or not (see module docstring). The
    # cutoff is a property of the immutable events table, so it is
    # computed once per sf and memoized (the agg is a full-table max
    # that cost ~0.3 s of every q102 run).
    cutoff_ms = _wm_cutoff_ms(spark, sf)
    return (
        sink.filter(
            F.unix_millis(
                F.col("window_start") + F.expr("INTERVAL 1 HOUR")
            )
            < F.lit(cutoff_ms)
        )
        .select(
            fn.ts_str(F.col("window_start")).alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


def q103(spark: SparkSession, sf: str) -> DataFrame:
    src = _stage_events(spark, sf)
    sess = session_counts(read_event_stream(spark, src), gap="5 minutes")
    # session-window merging is CPU-heavier per state partition than the
    # fixed-window aggs: 8 partitions measured 0.93s vs 1.24s at 4
    sink = _drain_to_table(
        sess, "complete", n_state_partitions=8,
        sink_key="q103", no_data_batches=False,
    )
    return (
        sink.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("user_id")
    )


def q104(spark: SparkSession, sf: str) -> DataFrame:
    """ST7/U6: the reference's monotone daily threshold scan (SURVEY
    §1.2, main.py:151-161) as a custom stateful operator
    (applyInPandasWithState), driver-oracled. Emission is per-key
    sequential — emit iff ts >= threshold, advance threshold to the
    next midnight — which over a ts-ordered arrival collapses to
    first-event-per-(user, day): the window-dedup SQL dual. The
    in-batch scan sorts (ts, event_id), so the emitted ROWS (not just
    their count) are deterministic and hash-comparable.
    """
    import datetime as dt

    from ..streaming.events import threshold_scan_stream

    src = _stage_events(spark, sf)
    scan = threshold_scan_stream(
        read_event_stream(spark, src), epoch=dt.datetime(1970, 1, 1)
    )
    # with the pre-exchange column pruning the per-partition Python
    # cost dropped enough that parallelism wins again: 16 partitions
    # measured 1.5s vs 1.8s at 8 (re-tuned r4)
    sink = _drain_to_table(
        scan, "append", sink_key="q104", no_data_batches=False,
        n_state_partitions=16,
    )
    return sink.select(
        "user_id",
        "event_id",
        fn.ts_str(F.col("ts")).alias("ts"),
        "value",
    ).orderBy("user_id", "ts")


def q106(spark: SparkSession, sf: str) -> DataFrame:
    """ST4: sliding-window counts (10-minute windows every 5 minutes),
    complete-mode drain. width/slide = 2 means every event belongs to
    exactly two windows — {floor5(ts), floor5(ts) - 5min} — which is
    the oracle's UNION ALL dual over explicit epoch-µs bucket math (no
    reliance on either engine's bucket-origin convention)."""
    src = _stage_events(spark, sf)
    agg = sliding_counts(
        read_event_stream(spark, src), width="10 minutes", slide="5 minutes"
    )
    sink = _drain_to_table(
        agg, "complete", n_state_partitions=STREAM_STATE_PARTITIONS,
        sink_key="q106", no_data_batches=False,
    )
    return (
        sink.select(
            fn.ts_str(F.col("window_start")).alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


def q107(spark: SparkSession, sf: str) -> DataFrame:
    """ST6: watermark-bounded streaming dedup
    (dropDuplicatesWithinWatermark) over an at-least-once source — the
    staged copy carries every event row exactly TWICE. Duplicates are
    bit-identical, so the kept row per event_id is deterministic
    whichever arrival wins, and the drained sink equals the original
    events table row-for-row. Single-batch ingestion is asserted (state
    never expires mid-drain), making the oracle exact rather than
    arrival-order-lucky."""
    src = _stage_events_doubled(spark, sf)
    # drop props before the stateful dedup: the map column rides
    # through the state-store exchange and the sink otherwise, and the
    # result never selects it
    deduped = dedup_within_watermark(
        read_event_stream(spark, src).select(
            "user_id", "event_id", "ts", "event_type", "value"
        ),
        keys=["event_id"],
        watermark="2 days",
    )
    sink = _drain_to_table(
        deduped, "append", sink_key="q107", require_single_batch=True,
        no_data_batches=False, n_state_partitions=8,
    )
    return (
        sink.select(
            "user_id",
            "event_id",
            fn.ts_str(F.col("ts")).alias("ts"),
            "event_type",
            "value",
        )
        .orderBy("event_id")
    )


def q110(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join (the StreamingSymmetricHashJoin
    shape): each purchase matched to the same user's clicks in the
    preceding 4 hours, BOTH sides live streams over the staged
    events. The time-range condition + watermarks are what let the
    join evict state (see purchase_attribution_join); with the staged
    corpus arriving in one asserted micro-batch nothing is evicted
    before matching, so the drained output equals the batch interval
    join exactly — the oracle."""
    from ..streaming.events import purchase_attribution_join

    src = _stage_events(spark, sf)
    ev = read_event_stream(spark, src)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = read_event_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    joined = purchase_attribution_join(
        clicks, purchases, attribution_window="4 hours", watermark="1 hour"
    )
    # symmetric hash state commits dominate over join parallelism at
    # this key cardinality: 4 partitions measured 1.42s vs 1.61s at 8
    sink = _drain_to_table(
        joined, "append", sink_key="q110", require_single_batch=True,
        no_data_batches=False, n_state_partitions=4,
    )
    return (
        sink.select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "click_id",
            fn.ts_str(F.col("c_ts")).alias("c_ts"),
            fn.ts_str(F.col("p_ts")).alias("p_ts"),
            "purchase_value",
        )
        .orderBy("purchase_id", "click_id")
    )


def q111(spark: SparkSession, sf: str) -> DataFrame:
    """ST8: the checkpointed PARQUET sink (exactly-once file output —
    the incremental form of the reference's write-upload-skip loop,
    main.py:177-191), driver-oracled. A stateless projection stream is
    written with write_parquet_stream (availableNow trigger +
    checkpoint), the query awaited to termination, and the OUTPUT
    FILES read back as the result — what's adjudicated is the sink's
    end-to-end content, not a memory table."""
    from ..streaming.events import write_parquet_stream

    src = _stage_events(spark, sf)
    proj = (
        read_event_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.to_date("ts").alias("d"),
            "value",
        )
    )
    out = run_dir(f"q111_out:{sf}")
    q = write_parquet_stream(proj, out, run_dir(f"q111_ckpt:{sf}"))
    q.awaitTermination()
    back = spark.read.schema(
        "event_id bigint, user_id bigint, d date, value double"
    ).parquet(out)
    return back.select(
        "event_id",
        "user_id",
        fn.date_str(F.col("d")).alias("d"),
        "value",
    ).orderBy("event_id")


def _stage_cdc(spark: SparkSession, sf: str) -> tuple[str, str]:
    """Stage the q117 CDC fixture: a base table (each user's FIRST
    event by (ts, event_id)) plus four sequential change files —
    change file i holds every user's (i+1)-th event as an op row
    ('view' → D, anything else → U). One op per user per file by
    construction, so each micro-batch satisfies MERGE's unique-key
    cardinality precondition; file modification times are spaced so
    the file source's mtime ordering replays changes in rank order.
    Staged once per sf (immutable input)."""
    import time as _time

    from pyspark.sql import Window

    def build(root: str) -> None:
        ev = load(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ranked = ev.select(
            "user_id", "event_type", "value", "ts", "event_id"
        ).withColumn("rn", F.row_number().over(w))
        base = ranked.filter(F.col("rn") == 1).select(
            "user_id", "event_type", "value"
        )
        base.write.mode("overwrite").parquet(f"{root}/base")
        now = _time.time()
        for i in range(2, 6):
            step = (
                ranked.filter(F.col("rn") == i)
                .select(
                    "user_id",
                    "event_type",
                    "value",
                    F.when(F.col("event_type") == "view", F.lit("D"))
                    .otherwise(F.lit("U"))
                    .alias("op"),
                )
            )
            # one file per change rank, strictly increasing mtimes
            write_single_file(
                step, f"{root}/changes/chg_{i}.parquet", now + i * 10
            )

    root = scratch_dir(f"cdc:{sf}", build)
    return f"{root}/base", f"{root}/changes"


def q117(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CDC apply (ST8's foreachBatch form, driver-oracled):
    an ordered change stream merged into a base table one micro-batch
    at a time — readStream over the staged change files
    (maxFilesPerTrigger=1 → one change rank per batch, asserted),
    each batch applied with the batch MERGE operator
    (operators/merge.py::merge_upsert) and written to a
    BATCH-ID-DERIVED parquet target (Delta-style MERGE on plain
    parquet): batch b reads version b-1 and overwrites version b, so a
    replayed batch after a crash-restart rewrites the same version
    from the same input — exactly-once end-to-end without a
    transactional table format. The
    adjudicated result is the FINAL TABLE CONTENT: ordered-apply
    semantics (a deleted user stays deleted; later updates are no-ops)
    are exactly what the oracle's rank-fold SQL computes — wrong batch
    order, lost updates, or misapplied deletes all change the table.
    """
    base_path, chg_path = _stage_cdc(spark, sf)
    from ..operators.merge import merge_upsert

    work = run_dir(f"q117:{sf}")
    state = {"last": -1, "n": 0}

    # the version chain's schema is the staged base table's own
    # (_stage_cdc) and merge_upsert preserves it — explicit schema on
    # each version read skips footer inference, once per micro-batch
    # (OPTIMIZATION r11, guide §6)
    cdc_schema = "user_id bigint, event_type string, value double"

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        prev = base_path if batch_id == 0 else f"{work}/b{batch_id - 1}"
        merged = merge_upsert(
            spark.read.schema(cdc_schema).parquet(prev),
            batch,
            key="user_id",
            update_cols=["event_type", "value"],
        )
        merged.write.mode("overwrite").parquet(f"{work}/b{batch_id}")
        state["last"] = max(state["last"], batch_id)
        state["n"] += 1

    ckpt = checkpoint_dir("q117")
    stream = (
        spark.readStream.schema(
            "user_id bigint, event_type string, value double, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chg_path)
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    if state["n"] != 4 or state["last"] != 3:
        raise RuntimeError(
            f"q117: expected change batches 0-3, applied {state['n']} "
            f"(last id {state['last']}) — file-per-trigger staging "
            "changed"
        )
    return (
        spark.read.schema(cdc_schema)
        .parquet(f"{work}/b{state['last']}")
        .select("user_id", "event_type", "value")
        .orderBy("user_id")
    )


def q134(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment join — the stateless third member of
    the streaming-join matrix (q110 is stream-stream, the batch suite
    covers static-static): a live purchase stream joined per
    micro-batch to the STATIC customer dimension, broadcast — no
    state store, no watermark; the static side is re-planned each
    micro-batch, which is exactly how dimension updates become
    visible at the next batch on a real cluster. Append mode; the
    drained enriched rows must equal the batch join bit-for-bit.
    """
    src = _stage_events(spark, sf)
    cust = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = (
        read_event_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), "user_id")
    )
    sink = _drain_to_table(
        stream, "append", sink_key="q134", no_data_batches=False
    )
    return sink.select(
        "event_id",
        "user_id",
        "c_mktsegment",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).orderBy("event_id")


# q137's watermark delay (the string passed to the join) with its ms
# form pinned by assertion so the Spark-side cutoff, the oracle SQL,
# and the join definition can never drift apart (the WATERMARK_MS
# idiom above), plus an extra safety margin: the margin absorbs the
# engine's internal ±1 ms strict-vs-non-strict adjustments around
# state eviction (StreamingJoinHelper) — both sides only adjudicate
# unmatched purchases STRICTLY below cutoff - margin, where emission
# is provable — the q102 boundary-exclusion pattern applied to
# outer-join nulls.
Q137_WATERMARK = "1 hour"
Q137_DELAY_MS = 3_600_000
assert Q137_WATERMARK == "1 hour" and Q137_DELAY_MS == 3600 * 1000
Q137_MARGIN_MS = 1_000

_Q137_CUTOFF_CACHE: dict[str, int] = {}


def _q137_cutoff_ms(spark: SparkSession, sf: str) -> int:
    """Final GLOBAL watermark for the two-sided join (ms): Spark takes
    the min across all watermark operators, so the cutoff is
    min(ms-floor(max click ts), ms-floor(max purchase ts)) - delay.
    Memoized per sf (immutable input)."""
    if sf not in _Q137_CUTOFF_CACHE:
        row = (
            load(spark, sf, "events")
            .agg(
                F.unix_millis(
                    F.max(
                        F.when(F.col("event_type") == "click", F.col("ts"))
                    )
                ).alias("mc"),
                F.unix_millis(
                    F.max(
                        F.when(
                            F.col("event_type") == "purchase", F.col("ts")
                        )
                    )
                ).alias("mp"),
            )
            .first()
        )
        _Q137_CUTOFF_CACHE[sf] = min(row["mc"], row["mp"]) - Q137_DELAY_MS
    return _Q137_CUTOFF_CACHE[sf]


def q137(spark: SparkSession, sf: str) -> DataFrame:
    """OUTER stream-stream interval join (q110's missing half): every
    purchase, with its preceding-4h clicks OR a null-padded row — the
    funnel/abandonment shape. Null rows cannot be emitted in the data
    batch (a match might still arrive); they trail the WATERMARK: the
    trailing no-data micro-batch advances it, evicts unmatched
    purchase state below it, and emits the nulls. That ordering is
    the adjudicated fact: both sides keep matched rows plus unmatched
    purchases strictly below (global watermark - margin), so a
    missing or spurious null row — wrong eviction bound, nulls
    emitted eagerly in the data batch, watermark computed per-side
    instead of globally — breaks parity."""
    from ..streaming.events import purchase_attribution_join

    src = _stage_events(spark, sf)
    ev = read_event_stream(spark, src)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = read_event_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    joined = purchase_attribution_join(
        clicks,
        purchases,
        attribution_window="4 hours",
        watermark=Q137_WATERMARK,
        how="right_outer",
    )
    sink = _drain_to_table(
        joined, "append", sink_key="q137", require_single_batch=True,
        n_state_partitions=4,
    )
    cut = _q137_cutoff_ms(spark, sf) - Q137_MARGIN_MS
    return (
        sink.filter(
            F.col("click_id").isNotNull()
            | (F.unix_millis(F.col("p_ts")) < F.lit(cut))
        )
        .select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "click_id",
            fn.ts_str(F.col("c_ts")).alias("c_ts"),
            fn.ts_str(F.col("p_ts")).alias("p_ts"),
            "purchase_value",
        )
        .orderBy("purchase_id", "click_id")
    )


def _stage_doc_batches(spark: SparkSession, sf: str) -> str:
    """Stage the q136 ingest fixture: two mtime-ordered single-file
    parquet batches of new documents (the file source's ordering key,
    q117's staging pattern), staged once per sf.

    Batch 0: 50 novel docs (reversed word order of doc_id 100-149,
    +300000) that must SURVIVE the corpus index, plus 25 true
    near-dups of the corpus (drop-last-word of 150-174, +400000) that
    must be caught. Batch 1: drop-last-word copies of batch 0's
    reversed docs (+500000) — these match NOTHING in the original
    corpus (reversed trigrams are disjoint from forward trigrams), so
    they are caught ONLY if batch 0's survivors were appended to the
    index between the micro-batches — the cross-batch fact q136
    exists to adjudicate — plus 25 fresh novel docs (reversed
    175-199, +600000)."""
    import time as _time

    def build(root: str) -> None:
        docs = load(spark, sf, "documents").select("doc_id", "text")

        def reversed_slice(lo: int, hi: int, off: int) -> DataFrame:
            toks = fn.whitespace_tokens(F.col("text"))
            return docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select(
                (F.col("doc_id") + off).alias("doc_id"),
                F.concat_ws(" ", F.reverse(toks)).alias("text"),
            )

        def drop_last_word(df: DataFrame, off: int) -> DataFrame:
            toks = fn.whitespace_tokens(F.col("text"))
            return df.select(
                (F.col("doc_id") + off).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.slice(
                        toks, 1, F.greatest(F.size(toks) - 1, F.lit(1))
                    ),
                ).alias("text"),
            )

        b0 = reversed_slice(100, 150, 300000).unionByName(
            drop_last_word(
                docs.filter(
                    (F.col("doc_id") >= 150) & (F.col("doc_id") < 175)
                ),
                400000,
            )
        )
        b1 = drop_last_word(
            reversed_slice(100, 150, 300000), 200000
        ).unionByName(reversed_slice(175, 200, 600000))
        now = _time.time()
        for i, b in enumerate((b0, b1)):
            write_single_file(
                b, f"{root}/batches/batch_{i}.parquet", now + i * 10
            )

    return f"{scratch_dir(f'ingest:{sf}', build)}/batches"


def q136(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming incremental-dedup ingest loop (ST8/foreachBatch × L2
    — the reference's upload-then-skip membership loop, main.py:60-71,
    run as a LIVE stream): document batches arrive as a file stream
    (maxFilesPerTrigger=1 → one batch per trigger, mtime-ordered,
    asserted); each micro-batch probes the LSH index AT REST
    (dedup_against_index), records per-doc verdicts, and appends its
    survivors' bands/shingles to the index (append_to_minhash_index)
    before the next batch fires. Batch 1 holds near-dups of batch 0's
    survivors, so its verdicts are right ONLY if the index mutation
    between micro-batches happened — the adjudicated result is the
    full verdict ledger across both batches vs a sequential SQL
    replay of the whole loop (probe → survivors → index union →
    probe). This is q113's ingest loop lifted from a batch re-probe
    to actual sequential micro-batch state, the 100 TB ingest shape:
    per-batch probe + append, corpus text never rescanned."""
    from ..operators import dedup as D
    from .ext_queries import _minhash_index

    src = _stage_doc_batches(spark, sf)
    # Each run restores the index from the pristine shared copy, which
    # itself stays immutable (q112/q113 probe the pre-append state).
    # The hardlink restore is safe because q136 only APPENDS data to
    # the index (new part files), never rewrites existing ones; the
    # invariance test pins the pristine tree bit-for-bit (ADVICE r6).
    work = run_dir(f"q136:{sf}")
    idx = f"{work}/idx"
    restore_tree(_minhash_index(spark, sf), idx)
    state = {"ids": []}

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        # one signature pass per batch, shared by the probe and the
        # append (the two consumers of the tokenize+shingle+hash map)
        arrs = D.shingle_arrays(batch).persist()
        try:
            ann = D.dedup_against_index(
                spark, batch, idx, threshold=0.5, arrs=arrs
            )
            ann.select(
                F.lit(batch_id).cast("int").alias("batch"), "*"
            ).write.mode("overwrite").parquet(f"{work}/verdict_b{batch_id}")
            verd = spark.read.parquet(f"{work}/verdict_b{batch_id}")
            survivors = verd.filter(F.col("survived")).select("doc_id")
            D.append_to_minhash_index(survivors, idx, arrs=arrs)
        finally:
            arrs.unpersist()
        state["ids"].append(batch_id)

    ckpt = checkpoint_dir("q136")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    if state["ids"] != [0, 1]:
        raise RuntimeError(
            f"q136: expected sequential batches [0, 1], got "
            f"{state['ids']} — file-per-trigger staging changed"
        )
    from .ext_queries import _r2

    # assert the ORDER, not just the count: each micro-batch must have
    # carried its intended file (mtime ordering is the file source's
    # contract, but a coarse-mtime filesystem or rebuilt cache could
    # silently swap them and invert the cross-batch fact) — batch 0's
    # verdicts are the +300000/+400000 docs, batch 1's the
    # +500000/+600000 docs. The verdicts carry their batch id, so ONE
    # read + count adjudicates both bounds (was two jobs —
    # OPTIMIZATION r11 job economy).
    verdicts = spark.read.parquet(f"{work}/verdict_b0").unionByName(
        spark.read.parquet(f"{work}/verdict_b1")
    )
    bounds = {0: (300000, 500000), 1: (500000, 700000)}
    cond = (
        (F.col("batch") == 0)
        & ((F.col("doc_id") < 300000) | (F.col("doc_id") >= 500000))
    ) | (
        (F.col("batch") == 1)
        & ((F.col("doc_id") < 500000) | (F.col("doc_id") >= 700000))
    )
    n_out = verdicts.filter(cond).count()
    if n_out:
        raise RuntimeError(
            f"q136: {n_out} verdict rows carried doc_ids outside "
            f"their batch's id range {bounds} — staged files "
            "arrived out of order"
        )
    return verdicts.select(
        "batch",
        "doc_id",
        "n_cand",
        _r2(F.col("max_jaccard")).alias("max_jaccard"),
        "survived",
    ).orderBy("batch", "doc_id")


def _stage_revision_stream(spark, sf: str) -> tuple[str, str]:
    """Split the committed wiki-revision fixture into a BASE slice
    (founds the store) and three DELTA files staged for the file
    stream source — one file per micro-batch via maxFilesPerTrigger=1,
    mtime-ordered (the q117 staging trick). Staged once per sf
    (immutable input)."""
    import time as _time

    from ..schemas import WIKI_REVISIONS
    from ..sources.wiki_fixture import FIXTURE_PATH

    def build(root: str) -> None:
        revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)
        revs.filter(F.col("rev_seq") % 4 == 3).write.mode(
            "overwrite"
        ).parquet(f"{root}/base")
        now = _time.time()
        for i in range(3):
            write_single_file(
                revs.filter(F.col("rev_seq") % 4 == i),
                f"{root}/deltas/delta_{i}.parquet",
                now + i * 10,
            )

    root = scratch_dir(f"revstream:{sf}", build)
    return f"{root}/base", f"{root}/deltas"


def q158(spark: SparkSession, sf: str) -> DataFrame:
    """CONTINUOUSLY-MAINTAINED snapshot store: the reference's W1
    daily snapshot kept as a day-partitioned materialized view AT
    REST while a revision stream flows in — the production
    composition of q152 (incremental merge semantics), q155 (the
    partition-pruned storage refresh), and q117's foreachBatch shape.
    Each micro-batch calls snapshot.refresh_snapshot_store: touched
    day partitions are pruned into the scan at planning time,
    re-argmined against the batch's winners, and rewritten with
    dynamic partition overwrite; untouched partitions are never
    opened. Per-batch cost is O(batch + touched partitions),
    independent of store size — the 100 TB ingest invariant, now for
    the engine's own core operator.

    Crash-replay safety comes from the operator's ALGEBRA, not a
    transactional format: re-applying a delta batch is a semantic
    no-op (argmin(S ∪ D ∪ D) = argmin(S ∪ D) — idempotence of the
    merge), so an at-least-once foreachBatch delivers exactly-once
    table content.

    The adjudicated result is the FINAL STORE read back from disk;
    the oracle recomputes the snapshot from ALL revisions in one
    pass (q152's SQL) — stream-maintained ≡ recomputed, including
    the disk round-trip.
    """
    from ..functions import ts_str
    from ..operators.snapshot import refresh_snapshot_store
    from ..schemas import WIKI_REVISIONS

    base_path, delta_path = _stage_revision_stream(spark, sf)
    pristine = scratch_dir(
        f"q158_pristine:{sf}",
        lambda path: refresh_snapshot_store(
            spark, path, spark.read.schema(WIKI_REVISIONS).parquet(base_path)
        ),
    )
    # per-run restore of the pristine base store (dynamic overwrite
    # unlinks the files it replaces, never mutates them)
    store = run_dir(f"q158:{sf}")
    restore_tree(pristine, store)
    state = {"n": 0, "touched": 0}

    def refresh(batch: DataFrame, batch_id: int) -> None:
        state["touched"] += len(
            refresh_snapshot_store(spark, store, batch)
        )
        state["n"] += 1

    ckpt = checkpoint_dir("q158")
    stream = (
        spark.readStream.schema(WIKI_REVISIONS)
        .option("maxFilesPerTrigger", 1)
        .parquet(delta_path)
    )
    q = (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()
    if state["n"] != 3 or state["touched"] == 0:
        raise RuntimeError(
            f"q158: expected 3 refresh batches touching partitions, "
            f"got n={state['n']} touched={state['touched']} — "
            "file-per-trigger staging changed"
        )
    # Final at-rest read via the store's own day-partition manifest
    # (OPTIMIZATION r11, VERDICT r10 item 4 / guide §6): one driver
    # listStatus instead of a distributed partition-discovery job,
    # write schema instead of footer inference — same files, same
    # rows, one fewer job (operators/snapshot.read_snapshot_store).
    from ..operators.snapshot import read_snapshot_store

    return (
        read_snapshot_store(spark, store)
        .select(
            "page_id",
            F.col("day").cast("string").alias("day"),
            "rev_seq",
            "title",
            ts_str("timestamp").alias("ts_s"),
            "text",
        )
        .orderBy("page_id", "day")
    )


def q177(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming canonical-URL keep-first dedup — q173's crawl
    stage-0 run LIVE: captures arrive as a file stream, the
    canonicalization is stateless map-side inside the micro-batch,
    and keep-first materializes as a COMPLETE-mode min_by aggregate
    (argmin by capture order). The aggregate — not a streaming
    dropDuplicates — is the load-bearing choice: duplicate captures
    carry DIFFERENT bodies, so dropDuplicates' winner would race on
    arrival order across partitions, while argmin is deterministic
    under ANY arrival interleaving (the same idempotent-argmin
    algebra the q158 snapshot store runs on). Oracle: identical to
    q173's string-function replay — stream and batch must agree
    row-for-row."""
    from ..functions import canonical_url
    from ..sources.files import read_warc
    from ..sources.warc_url_fixture import WARC_URL_DIR

    def captures():
        recs = read_warc(spark, WARC_URL_DIR)
        return recs.filter(F.col("rec_type") == "response").select(
            F.regexp_extract(
                F.col("path"), r"crawl_url_(\d+)\.warc", 1
            )
            .cast("bigint")
            .alias("file_id"),
            F.col("rec_idx").cast("bigint").alias("rec_idx"),
            F.col("target_uri"),
            "text",
            # synthetic capture time orders the staged files like the
            # crawl wrote them (file, then record)
            (
                F.to_timestamp(F.lit("2025-06-01 12:00:00"))
                + F.make_interval(
                    days=F.col("file_id").cast("int"),
                    secs=F.col("rec_idx").cast("int"),
                )
            ).alias("ts"),
        )

    src = _stage(spark, f"warc_url:{sf}", captures)
    stream = (
        spark.readStream.schema(
            "file_id bigint, rec_idx bigint, target_uri string, "
            "text string, ts timestamp"
        )
        .parquet(src)
        .select(
            "file_id", "rec_idx", "text",
            canonical_url(F.col("target_uri")).alias("url"),
        )
        .filter(F.col("url").isNotNull())
        .groupBy("url")
        .agg(
            F.min_by(
                F.struct("file_id", "rec_idx", "text"),
                F.struct("file_id", "rec_idx"),
            ).alias("f"),
            F.count(F.lit(1)).alias("n_captures"),
        )
    )
    sink = _drain_to_table(
        stream, "complete", sink_key="q177", no_data_batches=False,
        n_state_partitions=STREAM_STATE_PARTITIONS,
    )
    return sink.select(
        F.col("url").alias("canonical_url"),
        F.col("f.file_id").alias("first_file"),
        F.col("f.rec_idx").alias("first_idx"),
        F.col("n_captures").cast("bigint").alias("n_captures"),
        F.col("f.text").alias("kept_text"),
    ).orderBy("canonical_url")


STREAM_QUERIES = {
    "q101": q101, "q102": q102, "q103": q103, "q104": q104,
    "q106": q106, "q107": q107, "q110": q110, "q111": q111,
    "q117": q117, "q134": q134, "q136": q136, "q137": q137,
    "q158": q158, "q177": q177, "q197": q197,
}

STREAM_ORACLE = {
    # q101: complete mode == the batch tumbling aggregation (q16 shape).
    "q101": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
    # q102: only windows strictly below the final ms-precision
    # watermark survive (epoch_ms truncates µs exactly like Spark's
    # event-time stats collection).
    "q102": f"""
WITH m AS (SELECT epoch_ms(max(ts)) - {WATERMARK_MS} AS wm_ms FROM events),
w AS (SELECT date_trunc('hour', ts) AS ws, event_type FROM events)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       event_type,
       count(*) AS n_events
FROM w, m
WHERE epoch_ms(ws + INTERVAL 1 HOUR) < m.wm_ms
GROUP BY ws, event_type
ORDER BY 1, 2
""",
    # q103: session_window == gaps-and-islands with a >= 300s break.
    "q103": """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id))
                  >= 300000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
FROM g GROUP BY user_id ORDER BY user_id
""",
    # q104: sequential threshold scan over ts-ordered arrival ==
    # first event per (user, day) under the (ts, event_id) total order.
    "q104": """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, value
FROM (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (
           PARTITION BY user_id, date_trunc('day', ts)
           ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id, ts
""",
    # q106: width/slide = 2 sliding windows per event; explicit epoch-µs
    # bucket math on both conceptual sides (Spark's window() aligns
    # slide buckets to the epoch, as does floor-division of epoch_us).
    "q106": """
WITH b AS (
  SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS b0,
         event_type
  FROM events),
w AS (
  SELECT b0 AS ws, event_type FROM b
  UNION ALL
  SELECT b0 - INTERVAL 5 MINUTE, event_type FROM b)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       event_type,
       count(*) AS n_events
FROM w GROUP BY ws, event_type
ORDER BY 1, 2
""",
    # q107: the doubled source deduped on event_id == the original
    # events table (event_id is unique there; FIXTURES.md).
    "q107": """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_type, value
FROM events
ORDER BY event_id
""",
    # q110: stream-stream interval join == the batch interval join
    # (single asserted micro-batch -> no watermark eviction can drop a
    # match).
    "q110": """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS c_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
       p.value AS purchase_value
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 4 HOUR
ORDER BY purchase_id, click_id
""",
    # q111: checkpointed parquet sink content == the batch projection.
    "q111": """
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS d, value
FROM events WHERE event_type = 'purchase'
ORDER BY event_id
""",
    # q117: sequential CDC apply == the rank-fold. Base = each user's
    # first event; changes = ranks 2-5 in order ('view' deletes, else
    # update). A delete is permanent (no 'I' ops, so later updates
    # are MERGE no-ops on the absent key): survivors are users with no
    # 'view' among ranks 2-5. Final state folds the updates
    # SEQUENTIALLY with merge_upsert's per-column null-skip (a null
    # source value = "leave this column alone"), so each column's
    # final value is its LAST NON-NULL update, falling back to the
    # base row — arg_max(col, rn) FILTER (col IS NOT NULL), not
    # "whole last row wins" (the two differ when a later update
    # carries a null that an earlier one set).
    "q117": """
WITH ordered AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events),
base AS (SELECT user_id, event_type, value FROM ordered WHERE rn = 1),
chg AS (SELECT * FROM ordered WHERE rn BETWEEN 2 AND 5),
dead AS (SELECT DISTINCT user_id FROM chg WHERE event_type = 'view'),
upd AS (
  SELECT user_id,
         arg_max(event_type, rn)
           FILTER (WHERE event_type IS NOT NULL) AS event_type,
         arg_max(value, rn) FILTER (WHERE value IS NOT NULL) AS value
  FROM chg
  WHERE event_type IS DISTINCT FROM 'view'
  GROUP BY user_id)
SELECT b.user_id,
       coalesce(u.event_type, b.event_type) AS event_type,
       coalesce(u.value, b.value) AS value
FROM base b
LEFT JOIN upd u ON u.user_id = b.user_id
WHERE b.user_id NOT IN (SELECT user_id FROM dead)
ORDER BY b.user_id
""",
    # q134: stream-static broadcast enrichment == the batch join.
    "q134": """
SELECT event_id, e.user_id, c_mktsegment,
       CAST(round(value * 100) AS BIGINT) AS cents
FROM events e JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type = 'purchase'
ORDER BY event_id
""",
}

# q137: outer interval join == batch LEFT JOIN from purchases, with
# unmatched rows restricted on BOTH sides to purchases strictly below
# the final global watermark minus the margin (see Q137_MARGIN_MS).
STREAM_ORACLE["q137"] = f"""
WITH m AS (
  SELECT least(
           epoch_ms(max(CASE WHEN event_type = 'click' THEN ts END)),
           epoch_ms(max(CASE WHEN event_type = 'purchase' THEN ts END)))
         - {Q137_DELAY_MS} - {Q137_MARGIN_MS} AS cut
  FROM events),
j AS (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
         c.ts AS c_ts, p.ts AS p_ts, p.value AS purchase_value
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON c.user_id = p.user_id
   AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL 4 HOUR)
SELECT user_id, purchase_id, click_id,
       strftime(c_ts, '%Y-%m-%d %H:%M:%S.%f') AS c_ts,
       strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
       purchase_value
FROM j, m
WHERE click_id IS NOT NULL OR epoch_ms(p_ts) < m.cut
ORDER BY purchase_id, click_id
"""

# q136: the streaming ingest loop replayed sequentially in SQL —
# batch 0 probed against the corpus index, its survivors unioned into
# the index (bands + shingles), batch 1 probed against the APPENDED
# index. Reuses q112/q113's md5-minhash CTE machinery (_mh_cte).
from .ext_oracle import _mh_cte  # noqa: E402

_Q136_WORDS = (
    "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
)

STREAM_ORACLE["q136"] = f"""
WITH old_c AS (SELECT doc_id, text FROM documents),
b1 AS (
  SELECT doc_id + 300000 AS doc_id,
         array_to_string(list_reverse(words), ' ') AS text
  FROM (SELECT doc_id, {_Q136_WORDS} AS words
        FROM documents WHERE doc_id >= 100 AND doc_id < 150)
  UNION ALL
  SELECT doc_id + 400000 AS doc_id,
         array_to_string(list_slice(words, 1, greatest(len(words) - 1, 1)), ' ') AS text
  FROM (SELECT doc_id, {_Q136_WORDS} AS words
        FROM documents WHERE doc_id >= 150 AND doc_id < 175)
),
b2 AS (
  SELECT doc_id + 500000 AS doc_id,
         array_to_string(list_slice(rw, 1, greatest(len(rw) - 1, 1)), ' ') AS text
  FROM (SELECT doc_id, list_reverse({_Q136_WORDS}) AS rw
        FROM documents WHERE doc_id >= 100 AND doc_id < 150)
  UNION ALL
  SELECT doc_id + 600000 AS doc_id,
         array_to_string(list_reverse(words), ' ') AS text
  FROM (SELECT doc_id, {_Q136_WORDS} AS words
        FROM documents WHERE doc_id >= 175 AND doc_id < 200)
),{_mh_cte('o', 'old_c')},{_mh_cte('a', 'b1')},{_mh_cte('b', 'b2')},
cand1 AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS idx_id
  FROM bnda n JOIN bndo o ON n.band = o.band AND n.bh = o.bh),
szo AS (SELECT doc_id, count(*) AS sz FROM sho GROUP BY doc_id),
sza AS (SELECT doc_id, count(*) AS sz FROM sha GROUP BY doc_id),
szb AS (SELECT doc_id, count(*) AS sz FROM shb GROUP BY doc_id),
inter1 AS (
  SELECT new_id, idx_id, count(*) AS icnt
  FROM cand1
  JOIN sha sa ON sa.doc_id = new_id
  JOIN sho sb ON sb.doc_id = idx_id AND sa.shingle = sb.shingle
  GROUP BY new_id, idx_id),
j1 AS (
  SELECT c.new_id,
         coalesce(i.icnt, 0)
           / (za.sz + zb.sz - coalesce(i.icnt, 0)) AS jv
  FROM cand1 c
  LEFT JOIN inter1 i ON i.new_id = c.new_id AND i.idx_id = c.idx_id
  JOIN sza za ON za.doc_id = c.new_id
  JOIN szo zb ON zb.doc_id = c.idx_id),
agg1 AS (
  SELECT new_id, count(*) AS n_cand, max(jv) AS mx
  FROM j1 GROUP BY new_id),
surv1 AS (
  SELECT n.doc_id FROM b1 n LEFT JOIN agg1 a ON a.new_id = n.doc_id
  WHERE a.mx IS NULL OR a.mx < 0.5),
bndi AS (
  SELECT doc_id, band, bh FROM bndo
  UNION ALL
  SELECT doc_id, band, bh FROM bnda
  WHERE doc_id IN (SELECT doc_id FROM surv1)),
shi AS (
  SELECT doc_id, shingle FROM sho
  UNION ALL
  SELECT doc_id, shingle FROM sha
  WHERE doc_id IN (SELECT doc_id FROM surv1)),
szi AS (SELECT doc_id, count(*) AS sz FROM shi GROUP BY doc_id),
cand2 AS (
  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
  FROM bndb n JOIN bndi i ON n.band = i.band AND n.bh = i.bh),
inter2 AS (
  SELECT new_id, idx_id, count(*) AS icnt
  FROM cand2
  JOIN shb sa ON sa.doc_id = new_id
  JOIN shi sb ON sb.doc_id = idx_id AND sa.shingle = sb.shingle
  GROUP BY new_id, idx_id),
j2 AS (
  SELECT c.new_id,
         coalesce(i.icnt, 0)
           / (za.sz + zb.sz - coalesce(i.icnt, 0)) AS jv
  FROM cand2 c
  LEFT JOIN inter2 i ON i.new_id = c.new_id AND i.idx_id = c.idx_id
  JOIN szb za ON za.doc_id = c.new_id
  JOIN szi zb ON zb.doc_id = c.idx_id),
agg2 AS (
  SELECT new_id, count(*) AS n_cand, max(jv) AS mx
  FROM j2 GROUP BY new_id)
SELECT CAST(0 AS INTEGER) AS batch, n.doc_id,
       coalesce(a.n_cand, 0) AS n_cand,
       round(coalesce(a.mx, -1.0), 2) + 0.0 AS max_jaccard,
       (a.mx IS NULL OR a.mx < 0.5) AS survived
FROM b1 n LEFT JOIN agg1 a ON a.new_id = n.doc_id
UNION ALL
SELECT CAST(1 AS INTEGER) AS batch, n.doc_id,
       coalesce(a.n_cand, 0) AS n_cand,
       round(coalesce(a.mx, -1.0), 2) + 0.0 AS max_jaccard,
       (a.mx IS NULL OR a.mx < 0.5) AS survived
FROM b2 n LEFT JOIN agg2 a ON a.new_id = n.doc_id
ORDER BY batch, doc_id
"""

from ..sources.wiki_fixture import FIXTURE_PATH as _WIKI_FIXTURE  # noqa: E402

# q158: stream-maintained snapshot store ≡ one-pass recompute over
# ALL revisions — the q152 oracle verbatim (the adjudicated relation
# is identical; only the maintenance path differs).
STREAM_ORACLE["q158"] = f"""
WITH f AS (
  SELECT * FROM read_parquet('{_WIKI_FIXTURE}')
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

# q177: the streaming keep-first must equal the batch q173 replay
# exactly — one oracle text, two engine paths (ext_oracle defines it
# against the pre-assembly truth rows).
from .ext_oracle import EXT_ORACLE as _EXT_ORACLE  # noqa: E402

STREAM_ORACLE["q177"] = _EXT_ORACLE["q173"]

# q197: the streaming gate must equal the batch training+scoring
# replay (margins bit-exact: literal weights + ordered folds).
from .ext_oracle import Q197_STREAM_ORACLE as _Q197_ORACLE  # noqa: E402

STREAM_ORACLE["q197"] = _Q197_ORACLE
