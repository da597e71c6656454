"""The three workloads: what each one sets up, what one timed operation
is, how its output is checked, and which per-layer numbers its traced
run yields.

Every workload is driven by one closed-loop client: the next operation
starts when the previous one (and its check) has finished.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import os
import random
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

from . import gen
from .trace import EventLog, Tracer

MB = 1e6


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest sample. Below 20 samples that would fall under
    the median, so the maximum is reported instead (``pct`` 100)."""
    xs = sorted(xs)
    n = len(xs)
    if n >= 20:
        return {"value": xs[n - 11], "pct": 100.0 * (n - 10) / n, "n": n}
    return {"value": xs[-1] if xs else float("nan"), "pct": 100.0, "n": n}


def _hash_parts(s: str) -> tuple[int, int]:
    h = hashlib.sha256(s.encode("utf-8")).hexdigest()
    return int(h[:8], 16), int(h[8:16], 16)


def expected_digest(rows) -> tuple[int, int, int]:
    """Order-independent digest of (namespace, title, timestamp, text)
    rows: (count, sum of hash bits 0-31, sum of hash bits 32-63)."""
    n = a = b = 0
    for ns, title, ts, text in rows:
        x, y = _hash_parts("\x1f".join(
            [ns, title, f"{ts:%Y-%m-%d %H:%M:%S}", text or ""]))
        n, a, b = n + 1, a + x, b + y
    return n, a, b


def spark_digest(df) -> tuple[int, int, int]:
    """The same digest, computed by Spark over a snapshot DataFrame."""
    h = F.sha2(F.concat_ws(
        "\x1f", "namespace", "title",
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss"),
        F.coalesce(F.col("text"), F.lit(""))), 256)

    def part(i):
        return F.sum(F.conv(F.substring(h, i, 8), 16, 10).cast("long"))

    r = df.agg(F.count(F.lit(1)), part(1), part(9)).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


class Workload:
    """Base: ``setup`` registers inputs, ``warmup`` runs the untimed
    first iteration, ``op`` is one timed operation and ``check`` judges
    its result (outside the timed region). ``small`` sizes the inputs
    for a short probe of the workload's layers."""

    name = ""
    batch = 1   # a run ends only after a whole number of batches of ops
    # untimed ops after the warm-up, while op times still fall (measured:
    # the first dump_ingest ops after it take 1.5-2.6 s, and on some runs
    # they still fall until the eighth); counted in ops, as the JIT
    # counts calls
    settle_ops = 0
    # timed ops even on a slow host, so that the tail rests on the same
    # percentile from run to run
    min_ops = 8

    def __init__(self, seed: int, cache: str, work: str, small: bool):
        self.seed, self.cache, self.work, self.small = seed, cache, work, small
        os.makedirs(work, exist_ok=True)
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.warmup_check_s = 0.0   # checking time, kept out of setup_s

    def prepare(self, cpus: int) -> None:
        """Generate the inputs (not part of set-up time)."""
        raise NotImplementedError

    def setup(self, spark, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def warmup(self) -> None:
        self.next_input(0)
        result = self.op(0)
        t0 = time.perf_counter()
        self.record(self.check(0, result), "warm-up op")
        self.warmup_check_s = time.perf_counter() - t0

    def next_input(self, i: int) -> None:
        """Make the input of op i (outside the timed region)."""

    def op(self, i: int):
        raise NotImplementedError

    def op_key(self, i: int) -> str:
        """Ops with the same key do the same work."""
        return ""

    def check(self, i: int, result) -> bool:
        raise NotImplementedError

    def final_check(self) -> None:
        """Check the state the operations left behind, if any."""

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[{self.name}] check failed: {what}", flush=True)
        return ok

    def details(self, times: list[float]) -> dict:
        """Workload-specific end-to-end figures: name -> (value, unit)."""
        return {}

    def probe(self) -> None:
        """Traced run only: layer calls made in isolation."""

    def layer_metrics(self, log: EventLog) -> dict:
        return {}


# --------------------------------------------------------------------------


class DumpIngest(Workload):
    """7z dumps -> ``pipeline.snapshot_from_dumps`` ->
    ``pipeline.write_snapshots``: the paper's batch job."""

    name = "dump_ingest"
    settle_ops = 8

    def prepare(self, cpus):
        from diachronic_spark.operators.snapshot import replay_page

        self.size = (gen.DumpSize(files=4, revs_per_file=200) if self.small
                     else gen.DumpSize())
        self.meta = gen.wiki_dumps(self.cache, self.seed, self.size, cpus)
        # the parse spreads files over tasks by hashing their path, so the
        # program gets the same relative paths for every seed and checkout
        stable = os.path.join(os.path.relpath(self.cache), "in",
                              self.name + ("-small" if self.small else ""))
        os.makedirs(stable, exist_ok=True)
        self.paths = []
        for src in self.meta["paths"]:
            dst = os.path.join(stable, os.path.basename(src))
            if os.path.exists(dst):
                os.remove(dst)
            os.link(src, dst)
            self.paths.append(dst)
        snap = []
        for _, ns, title, revs in gen.dump_rows(self.seed, self.size):
            page = [{"namespace": ns, "title": title, "timestamp": ts,
                     "text": text} for ts, text in revs]
            snap += [(r["namespace"], r["title"], r["timestamp"], r["text"])
                     for r in replay_page(page)]
        self.expected = expected_digest(snap)
        self.out = os.path.join(self.work, "snapshot")

    def op(self, i):
        from diachronic_spark import pipeline

        with self.tracer.span("pipeline.write_snapshots"):
            pipeline.write_snapshots(
                pipeline.snapshot_from_dumps(self.spark, self.paths),
                self.out)

    def check(self, i, result):
        return spark_digest(self.spark.read.parquet(self.out)) == self.expected

    def details(self, times):
        m = median(times)
        return {"ingest_mb_per_s": (self.meta["xml_bytes"] / MB / m, "MB/s"),
                "ingest_rows_per_s": (self.meta["revisions"] / m, "1/s")}

    def probe(self):
        """Each layer of the job in isolation, on the same input."""
        from diachronic_spark import pipeline
        from diachronic_spark.operators.snapshot import daily_snapshot
        from diachronic_spark.sources.sevenzip import open_7z_stream
        from diachronic_spark.sources.wiki_xml import (iterparse_revisions,
                                                       parse_dump_files)

        spark, tr, paths = self.spark, self.tracer, self.paths
        out = self.probed = {}
        # single-thread decompression and parse, in this process
        with tr.span("sevenzip.open_7z_stream") as s:
            raw = [open_7z_stream(p).read() for p in paths[:2]]
        out["sevenzip.decompress_mb_per_s"] = (
            sum(map(len, raw)) / MB / (s["end"] - s["start"]))
        with tr.span("wiki_xml.iterparse_revisions") as s:
            for _ in iterparse_revisions(io.BytesIO(raw[0])):
                pass
        out["wiki_xml.iterparse_mb_per_s"] = (
            len(raw[0]) / MB / (s["end"] - s["start"]))
        del raw
        # distributed parse alone (noop sink)
        with tr.span("wiki_xml.parse_dump_files") as s:
            (parse_dump_files(spark, paths).write.format("noop")
             .mode("overwrite").save())
        out["wiki_xml.parse_stage_s"] = s["end"] - s["start"]
        # dedup over a persisted parse (noop sink), then the write of a
        # persisted snapshot
        dest = os.path.join(self.work, "snapshot-probe")
        parsed = parse_dump_files(spark, paths).persist()
        try:
            out["snapshot.rows_in"] = parsed.count()
            with tr.span("snapshot.daily_snapshot") as s:
                daily_snapshot(parsed).write.format("noop").mode(
                    "overwrite").save()
            out["snapshot.dedup_s"] = s["end"] - s["start"]
            snap = daily_snapshot(parsed).persist()
            try:
                out["snapshot.rows_out"] = snap.count()
                with tr.span("pipeline.write_snapshots.persisted") as s:
                    pipeline.write_snapshots(snap, dest)
                out["pipeline.write_s"] = s["end"] - s["start"]
            finally:
                snap.unpersist()
        finally:
            parsed.unpersist()
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(dest)
                 for f in fs if f.endswith(".parquet")]
        out["pipeline.files_written"] = len(files)
        out["pipeline.output_mb"] = sum(map(os.path.getsize, files)) / MB

    def layer_metrics(self, log):
        tr = self.tracer
        # the parse stage's tasks are the ones reading the file-list
        # shuffle: one record per file they were handed
        parse = [t for t in log.tasks(tr.named("wiki_xml.parse_dump_files"))
                 if t["shuffle_read_records"] > 0]
        run = [t["run_s"] for t in parse]
        dedup = log.tasks(tr.named("snapshot.daily_snapshot"))
        return {
            **self.probed,
            "wiki_xml.parse_task_max_s": max(run),
            "wiki_xml.parse_task_p50_s": median(run),
            "wiki_xml.files_per_task_max": max(
                t["shuffle_read_records"] for t in parse),
            "snapshot.shuffle_write_mb": sum(
                t["shuffle_write_b"] for t in dedup) / MB,
        }


# --------------------------------------------------------------------------


STORE_COLS = ["page_id", "day", "rev_seq", "namespace", "title",
              "timestamp", "text"]


class StoreRefresh(Workload):
    """A day-partitioned snapshot store under incremental upkeep: each
    operation applies one delta batch with ``refresh_snapshot_store``
    and then reads the last few days back with ``read_snapshot_store``."""

    name = "store_refresh"
    settle_ops = 4
    READ_DAYS = 3

    def prepare(self, cpus):
        self.size = (gen.StoreSize(pages=2000, days=60, base_revisions=20_000,
                                   delta_revisions=500) if self.small
                     else gen.StoreSize())
        self.revs = gen.StoreRevisions(self.seed, self.size)
        self.inputs = os.path.join(self.work, "revisions")
        os.makedirs(self.inputs, exist_ok=True)
        base = self.revs.base()
        self.base_path = gen.write_table(
            base, os.path.join(self.inputs, "base.parquet"))
        self.state = _winners(base.to_pandas())
        self.store = os.path.join(self.work, "store")
        self.delta_paths: list[str] = []
        self.refresh_s: list[float] = []
        self.read_s: list[float] = []

    def setup(self, spark, tracer):
        super().setup(spark, tracer)
        from diachronic_spark.operators.snapshot import snapshot_state

        # one file per day, as the refresh itself writes them
        with tracer.span("snapshot.snapshot_state.base"):
            (snapshot_state(self._read_revs(self.base_path))
             .repartition("day").write.partitionBy("day")
             .parquet(self.store))

    def _read_revs(self, *paths):
        from diachronic_spark.sources.wiki_xml import REVISION_SQL_SCHEMA

        return self.spark.read.schema(REVISION_SQL_SCHEMA).parquet(*paths)

    def next_input(self, i):
        delta = self.revs.delta(i)
        self.delta_paths.append(gen.write_table(
            delta, os.path.join(self.inputs, f"delta-{i:04d}.parquet")))
        winners = _winners(delta.to_pandas())
        self.expect_touched = sorted(winners["day"].unique())
        self.state = _winners(pd.concat([self.state, winners]))
        self.read_from = self.state["day"].max() - dt.timedelta(
            days=self.READ_DAYS - 1)

    def op(self, i):
        from diachronic_spark.operators.snapshot import (
            read_snapshot_store, refresh_snapshot_store)

        path = self.delta_paths[i]
        t0 = time.perf_counter()
        with self.tracer.span("snapshot.refresh_snapshot_store",
                              delta_bytes=os.path.getsize(path)):
            touched = refresh_snapshot_store(self.spark, self.store,
                                             self._read_revs(path))
        t1 = time.perf_counter()
        with self.tracer.span("snapshot.read_snapshot_store.recent"):
            rows = (read_snapshot_store(self.spark, self.store)
                    .filter(F.col("day") >= F.lit(self.read_from))
                    .select(*STORE_COLS).collect())
        t2 = time.perf_counter()
        self.refresh_s.append(t1 - t0)
        self.read_s.append(t2 - t1)
        return touched, rows

    def check(self, i, result):
        touched, rows = result
        want = self.state[self.state["day"] >= self.read_from]
        got = pd.DataFrame([tuple(r) for r in rows], columns=STORE_COLS)
        return (list(touched) == list(self.expect_touched)
                and _frame_key(got) == _frame_key(want))

    def final_check(self):
        """q152's identity: the store equals snapshot_state recomputed
        over the base plus every delta applied."""
        from diachronic_spark.operators.snapshot import (read_snapshot_store,
                                                         snapshot_state)

        with self.tracer.span("snapshot.read_snapshot_store.full") as s:
            got = spark_digest(read_snapshot_store(self.spark, self.store))
        self.full_read_s = s["end"] - s["start"]
        want = spark_digest(snapshot_state(
            self._read_revs(self.base_path, *self.delta_paths)))
        self.record(got == want, "store != snapshot_state(base + deltas)")

    def details(self, times):
        # the timed ops are the last ones (after warm-up and settling)
        refresh, read = self.refresh_s[-len(times):], self.read_s[-len(times):]
        return {"refresh_p50_s": (median(refresh), "s"),
                "refresh_tail_s": (tail(refresh)["value"], "s"),
                "read_p50_s": (median(read), "s"),
                "read_tail_s": (tail(read)["value"], "s")}

    def layer_metrics(self, log):
        refresh = self.tracer.named("snapshot.refresh_snapshot_store")
        files = sum(1 for _, _, fs in os.walk(self.store) for f in fs
                    if f.endswith(".parquet"))
        return {
            "snapshot.refresh_s": median([s["end"] - s["start"]
                                          for s in refresh]),
            "snapshot.refresh_jobs": len(log.jobs(refresh)) / len(refresh),
            # bytes the traced refreshes wrote per byte of their deltas
            "snapshot.refresh_write_amp": sum(
                t["output_b"] for t in log.tasks(refresh))
            / sum(s["delta_bytes"] for s in refresh),
            "snapshot.store_files": files,
            "snapshot.read_store_s": self.full_read_s,
        }


def _winners(df: pd.DataFrame) -> pd.DataFrame:
    """Python model of snapshot_state: first revision per (page, day) by
    (timestamp, rev_seq), namespace 0, on or after the epoch."""
    from diachronic_spark.operators.snapshot import DEFAULT_EPOCH

    df = df[(df["namespace"] == "0") & (df["timestamp"] >= DEFAULT_EPOCH)]
    if "day" not in df:
        df = df.assign(day=df["timestamp"].dt.date)
    df = df.sort_values(["page_id", "day", "timestamp", "rev_seq"])
    return df.drop_duplicates(["page_id", "day"])[STORE_COLS]


def _frame_key(df: pd.DataFrame) -> list:
    df = df.assign(text=df["text"].fillna(""),
                   timestamp=pd.to_datetime(df["timestamp"]),
                   day=[str(d) for d in df["day"]])
    return sorted(map(tuple, df[STORE_COLS].astype(str).values.tolist()))


# --------------------------------------------------------------------------


class _Collected:
    """Rows already collected from a DataFrame, in the shape
    ``oracle_harness.compare`` reads (``columns`` and ``collect()``)."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class QueryMix(Workload):
    """The 22 core declared query plans over cached tables, in a seeded
    order on each pass."""

    name = "query_mix"
    # q22's DuckDB oracle is a nested-loop theta join (events x orders,
    # ~1.5e10 pairs at full size: minutes), so q22 is compared with its
    # oracle on a small table set made from the same seed
    SMALL_ORACLE = {"q22"}

    def prepare(self, cpus):
        from diachronic_spark.plans.queries import QUERIES

        small = gen.TableSize(0.005)
        self.tables = gen.query_tables(
            self.cache, self.seed, small if self.small else gen.TableSize())
        self.oracle_tables = gen.query_tables(self.cache, self.seed, small)
        self.fns = QUERIES
        self.names = list(QUERIES)
        if self.small:   # a probe: a few queries are enough
            self.names = random.Random(self.seed).sample(self.names, 4)
        self.batch = len(self.names)   # whole passes: the same query mix
        # pass times fall for several passes (5.9, 5.3, then 4.7-5.1 s)
        self.settle_ops = 2 * self.batch
        self.min_ops = 2 * self.batch
        self.order: list[str] = []
        self.ref: dict[str, str] = {}

    def setup(self, spark, tracer):
        super().setup(spark, tracer)
        from diachronic_spark.catalog import TABLES, load

        with tracer.span("catalog.cache_load"):
            for t in TABLES:
                load(spark, self.tables, t).persist().count()

    def query(self, i) -> str:
        """Query of timed op i (numbered from 1): pass after pass, each
        pass every query once, in a seeded order."""
        while len(self.order) < i:
            names = list(self.names)
            random.Random(f"{self.seed}-{len(self.order)}").shuffle(names)
            self.order += names
        return self.order[i - 1]

    def warmup(self):
        """One pass over every query: rows checked against the DuckDB
        oracle, and their hash kept as the reference for timed runs."""
        from diachronic_spark.plans import ORACLE
        from tests.oracle_harness import compare, duckdb_conn

        t0 = time.perf_counter()
        con = duckdb_conn(self.tables)
        small = duckdb_conn(self.oracle_tables)
        try:
            for q in self.names:
                t1 = time.perf_counter()
                cols, rows = self.op_on(q, self.tables)
                t2 = time.perf_counter()
                self.ref[q] = _rows_hash(cols, rows)
                if q in self.SMALL_ORACLE:
                    ok, msg = compare(_Collected(*self.op_on(
                        q, self.oracle_tables)), small, ORACLE[q])
                else:
                    ok, msg = compare(_Collected(cols, rows), con, ORACLE[q])
                self.record(ok, f"{q} vs its oracle: {msg}")
                t0 += t2 - t1   # the query itself is set-up, not checking
        finally:
            con.close()
            small.close()
        self.warmup_check_s = time.perf_counter() - t0

    def op_on(self, q: str, tables: str):
        tr = self.tracer
        with tr.span("plans.build", query=q):
            df = self.fns[q](self.spark, tables)
        with tr.span("plans.exec", query=q) as s:
            rows = df.collect()
        if s["group"] is not None:   # traced: Catalyst phase times
            ph = df._jdf.queryExecution().tracker().phases()
            s["catalyst_s"] = sum(
                ph.get(k).get().durationMs() / 1e3
                for k in ("analysis", "optimization", "planning")
                if ph.get(k).isDefined())
        return df.columns, [tuple(r) for r in rows]

    def op(self, i):
        return self.op_on(self.query(i), self.tables)

    def op_key(self, i):
        return self.query(i)

    def check(self, i, result):
        return _rows_hash(*result) == self.ref[self.query(i)]

    def details(self, times):
        return {"query_p50_s": (median(times), "s"),
                "query_tail_s": (tail(times)["value"], "s"),
                "queries_per_s": (len(times) / sum(times), "1/s")}

    def layer_metrics(self, log):
        tr = self.tracer
        build, execs = tr.named("plans.build"), tr.named("plans.exec")
        n = len(execs)
        load = tr.named("catalog.cache_load", traced_only=False)[0]
        return {
            "catalog.cache_load_s": load["end"] - load["start"],
            "plans.build_s": median([s["end"] - s["start"] for s in build]),
            # a mean: the phase times come in whole milliseconds
            "plans.catalyst_s": statistics.mean(s["catalyst_s"]
                                                for s in execs),
            "plans.exec_s": median([s["end"] - s["start"] for s in execs]),
            "plans.jobs_per_query": len(log.jobs(execs)) / n,
            "plans.tasks_per_query": len(log.tasks(execs)) / n,
        }


def _rows_hash(cols: list[str], rows: list[tuple]) -> str:
    """Hash of a result in the oracle harness's canonical form."""
    from tests.oracle_harness import canon_rows

    return hashlib.sha256(
        repr((sorted(cols), canon_rows(cols, rows))).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (DumpIngest, StoreRefresh, QueryMix)}
