"""Snapshot dedup semantics (SURVEY §1.2, §5.2 items 2-3).

Pins: declarative window form ≡ sequential replay on per-page-sorted
input; the documented divergence on out-of-order input; every
FIXTURES.md §3 edge case.
"""

from __future__ import annotations

import datetime as dt

import pytest

from diachronic_spark.operators.snapshot import (
    daily_snapshot,
    daily_snapshot_sequential,
    replay_page,
)
from diachronic_spark.schemas import WIKI_REVISIONS
from diachronic_spark.sources.wiki_fixture import generate_rows, wiki_revisions_df


def _key(row):
    return (row["title"], str(row["timestamp"]), row["namespace"], row["text"])


def _collect_sorted(df):
    return sorted(
        (
            (r["title"], str(r["timestamp"]), r["namespace"], r["text"])
            for r in df.collect()
        )
    )


def _replay_all(rows):
    out = []
    by_page: dict[int, list[dict]] = {}
    for page_id, seq, ns, title, ts, text in sorted(rows):
        by_page.setdefault(page_id, []).append(
            {
                "rev_seq": seq,
                "namespace": ns,
                "title": title,
                "timestamp": ts,
                "text": text,
            }
        )
    for page_rows in by_page.values():
        out.extend(replay_page(sorted(page_rows, key=lambda r: r["rev_seq"])))
    return sorted(
        (r["title"], str(r["timestamp"]), r["namespace"], r["text"]) for r in out
    )


def test_declarative_equals_replay_on_sorted_input(spark):
    rows = generate_rows(include_out_of_order=False)
    df = wiki_revisions_df(spark, include_out_of_order=False)
    assert _collect_sorted(daily_snapshot(df)) == _replay_all(rows)


def test_sequential_operator_equals_replay_even_out_of_order(spark):
    rows = generate_rows(include_out_of_order=True)
    df = wiki_revisions_df(spark, include_out_of_order=True)
    assert _collect_sorted(daily_snapshot_sequential(df)) == _replay_all(rows)


def test_out_of_order_divergence_is_the_documented_one(spark):
    """Declarative keeps the first-per-day even out of order; the
    sequential loop drops revisions behind the monotone threshold
    (SURVEY §1.2 item 3). On OOO input declarative ⊇ sequential."""
    df = wiki_revisions_df(spark, include_out_of_order=True)
    decl = set(_collect_sorted(daily_snapshot(df)))
    seq = set(_collect_sorted(daily_snapshot_sequential(df)))
    assert seq != decl
    # divergence only on ooo-marked pages
    diff = {r for r in decl.symmetric_difference(seq)}
    assert diff and all(t.startswith("ooo_") for (t, *_rest) in diff)


EPOCH = dt.datetime(2001, 1, 15)
T = dt.datetime


@pytest.mark.parametrize(
    "case,rows,expected_ts",
    [
        (
            "same_day_keeps_first",
            [
                (1, 0, "0", "A", T(2001, 2, 1, 8, 0, 0), "x"),
                (1, 1, "0", "A", T(2001, 2, 1, 9, 0, 0), "y"),
            ],
            [T(2001, 2, 1, 8, 0, 0)],
        ),
        (
            "pre_epoch_dropped",
            [
                (1, 0, "0", "A", T(2001, 1, 14, 23, 59, 59), "x"),
                (1, 1, "0", "A", T(2001, 1, 15, 0, 0, 0), "y"),
            ],
            [T(2001, 1, 15, 0, 0, 0)],
        ),
        (
            "non_ns0_dropped_and_no_state_advance",
            [
                (1, 0, "1", "A", T(2001, 2, 1, 8, 0, 0), "x"),
                (1, 1, "0", "A", T(2001, 2, 1, 9, 0, 0), "y"),
            ],
            [T(2001, 2, 1, 9, 0, 0)],
        ),
        (
            "midnight_straddle_both_kept",
            [
                (1, 0, "0", "A", T(2001, 2, 1, 23, 59, 59), "x"),
                (1, 1, "0", "A", T(2001, 2, 2, 0, 0, 1), "y"),
            ],
            [T(2001, 2, 1, 23, 59, 59), T(2001, 2, 2, 0, 0, 1)],
        ),
    ],
)
def test_edge_cases_match_both_forms(spark, case, rows, expected_ts):
    df = spark.createDataFrame(rows, WIKI_REVISIONS)
    for form in (daily_snapshot(df), daily_snapshot_sequential(df)):
        got = sorted(r["timestamp"] for r in form.collect())
        assert got == expected_ts, case


def test_null_text_coalesced(spark):
    rows = [(1, 0, "0", "A", T(2001, 2, 1, 8, 0, 0), None)]
    df = spark.createDataFrame(rows, WIKI_REVISIONS)
    assert daily_snapshot(df).collect()[0]["text"] == ""
    assert daily_snapshot_sequential(df).collect()[0]["text"] == ""


def test_cross_page_same_title_no_interference(spark):
    """FIXTURES §3.7: state is per page — two pages sharing a title on
    the same day each emit."""
    rows = [
        (1, 0, "0", "A", T(2001, 2, 1, 8, 0, 0), "p1"),
        (2, 0, "0", "A", T(2001, 2, 1, 9, 0, 0), "p2"),
    ]
    df = spark.createDataFrame(rows, WIKI_REVISIONS)
    assert daily_snapshot(df).count() == 2
    assert daily_snapshot_sequential(df).count() == 2


def test_materialized_fixture_matches_generator():
    """fixtures/wiki_revisions.parquet is the committed form of
    generate_rows(include_out_of_order=False); q21 and its DuckDB oracle
    both read it, so drift between file and generator must fail loudly
    (regenerate with tools/make_wiki_fixture.py)."""
    import pyarrow.parquet as pq

    from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH

    table = pq.read_table(FIXTURE_PATH)
    got = [
        (
            r["page_id"],
            r["rev_seq"],
            r["namespace"],
            r["title"],
            r["timestamp"],
            r["text"],
        )
        for r in table.to_pylist()
    ]
    assert got == generate_rows(include_out_of_order=False)


def test_incremental_merge_equals_full_recompute(spark):
    """merge_snapshot_state(snapshot_state(A), B) must equal
    snapshot_state(A ∪ B) — the refresh-equals-recompute contract
    (argmin associativity) — for several interleaved splits of the
    wiki fixture, and the q152 split must exercise ALL THREE merge
    cases: new (page, day) keys, delta losers, and delta rows that
    BEAT the standing winner (replacements)."""
    from diachronic_spark.operators.snapshot import (
        merge_snapshot_state,
        snapshot_state,
    )
    from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH

    from pyspark.sql import functions as F

    revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)

    def rows(df):
        return sorted(
            (r.page_id, str(r.day), r.rev_seq, str(r.timestamp), r.text)
            for r in df.collect()
        )

    full = rows(snapshot_state(revs))
    for mod, rem in ((5, 0), (3, 1), (2, 0)):
        base = revs.filter(F.col("rev_seq") % mod != rem)
        delta = revs.filter(F.col("rev_seq") % mod == rem)
        merged = merge_snapshot_state(snapshot_state(base), delta)
        assert rows(merged) == full, f"split %{mod}=={rem} diverged"

    # the declared q152 split hits all three cases
    base = revs.filter(F.col("rev_seq") % 5 != 0)
    delta = revs.filter(F.col("rev_seq") % 5 == 0)
    bstate = {
        (r.page_id, str(r.day)): r.rev_seq
        for r in snapshot_state(base).collect()
    }
    dstate = {
        (r.page_id, str(r.day)): r.rev_seq
        for r in snapshot_state(delta).collect()
    }
    fstate = {
        (r.page_id, str(r.day)): r.rev_seq
        for r in snapshot_state(revs).collect()
    }
    new_keys = [k for k in dstate if k not in bstate]
    losers = [k for k in dstate if k in bstate and fstate[k] == bstate[k]]
    replacements = [
        k for k in dstate if k in bstate and fstate[k] == dstate[k]
        and dstate[k] != bstate[k]
    ]
    assert new_keys and losers and replacements, (
        len(new_keys), len(losers), len(replacements),
    )


def test_incremental_merge_never_shuffles_the_state(spark, tmp_path):
    """The scale contract: the state side of the refresh must appear
    under NO Exchange — only the delta-sized re-argmin shuffles. The
    (key, day) membership joins must be broadcast."""
    from diachronic_spark.operators.snapshot import (
        merge_snapshot_state,
        snapshot_state,
    )
    from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH

    from pyspark.sql import functions as F

    revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)
    base = revs.filter(F.col("rev_seq") % 5 != 0)
    delta = revs.filter(F.col("rev_seq") % 5 == 0)
    state = snapshot_state(base)
    # materialize the state (the maintained table would be at rest);
    # the plan under test is the refresh over it
    state.write.parquet(str(tmp_path / "state"))
    at_rest = spark.read.parquet(str(tmp_path / "state"))
    plan = merge_snapshot_state(at_rest, delta)._jdf.queryExecution(
    ).executedPlan().toString()
    # the two membership joins run broadcast (state never shuffles)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # no sort-merge join anywhere: an SMJ would mean a membership
    # join fell back to shuffling the state side
    assert "SortMergeJoin" not in plan, plan


def test_store_refresh_prunes_and_preserves_untouched_partitions(
    spark, tmp_path
):
    """The STORAGE half (q155): refreshing the at-rest day-partitioned
    state must (1) equal a full recompute, (2) leave every untouched
    day partition's files BYTE-IDENTICAL (dynamic overwrite never
    lists them), and (3) plan the affected-state scan with a
    day-IN-literals partition filter — pruned at planning time."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from diachronic_spark.operators.snapshot import (
        refresh_snapshot_store,
        snapshot_state,
    )
    from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH

    revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)
    base = revs.filter(F.col("rev_seq") % 5 != 0)
    delta = revs.filter(F.col("rev_seq") % 5 == 0)
    path = str(tmp_path / "snapstore")
    snapshot_state(base).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)

    def file_shas():
        out = {}
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, path)] = hashlib.sha256(
                        fh.read()
                    ).hexdigest()
        return out

    before = file_shas()
    touched = refresh_snapshot_store(spark, path, delta)
    assert touched, "fixture delta must touch at least one day"
    after = file_shas()

    tset = {f"day={d}" for d in touched}
    untouched_before = {
        k: v for k, v in before.items() if k.split(os.sep)[0] not in tset
    }
    untouched_after = {
        k: v for k, v in after.items() if k.split(os.sep)[0] not in tset
    }
    assert untouched_before and untouched_before == untouched_after, (
        "untouched day partitions changed on disk"
    )
    # at least one touched partition actually rewrote its files
    assert any(
        k not in before or before[k] != after[k]
        for k in after
        if k.split(os.sep)[0] in tset
    )

    # refresh ≡ recompute, including the disk round-trip
    got = sorted(
        (r.page_id, str(r.day), r.rev_seq, str(r.timestamp), r.text)
        for r in spark.read.parquet(path).collect()
    )
    want = sorted(
        (r.page_id, str(r.day), r.rev_seq, str(r.timestamp), r.text)
        for r in snapshot_state(revs).collect()
    )
    assert got == want

    # the affected-state scan is partition-pruned at planning time:
    # the scan node carries a day-IN-literals PartitionFilter and
    # pushes nothing to DataFilters (day is purely a directory choice)
    pruned = spark.read.parquet(path).filter(F.col("day").isin(touched))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [day#" in plan and (
        " IN (" in plan or " INSET " in plan
    ), plan


def test_store_refresh_empty_delta_is_a_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    from diachronic_spark.operators.snapshot import (
        refresh_snapshot_store,
        snapshot_state,
    )
    from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH

    revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)
    path = str(tmp_path / "snapstore2")
    snapshot_state(revs).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)
    import os

    mtimes = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            mtimes[p] = os.stat(p).st_mtime_ns
    touched = refresh_snapshot_store(
        spark, path, revs.filter(F.lit(False))
    )
    assert touched == []
    for p, m in mtimes.items():
        assert os.stat(p).st_mtime_ns == m


def test_store_refresh_delta_with_only_new_days(spark, tmp_path):
    """A delta whose days are all ABSENT from the store must create
    those partitions from its own winners without reading any state
    (the merged = dstate branch) — and leave every existing partition
    byte-identical."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from diachronic_spark.operators.snapshot import (
        refresh_snapshot_store,
        snapshot_state,
    )
    from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH

    revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)
    path = str(tmp_path / "snapstore3")
    snapshot_state(revs).repartition("day").write.mode(
        "overwrite"
    ).partitionBy("day").parquet(path)

    # shift the whole fixture +4000 days: every delta day is new
    delta = revs.withColumn(
        "timestamp", F.col("timestamp") + F.expr("INTERVAL 4000 DAYS")
    )

    def shas():
        out = {}
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, path)] = hashlib.sha256(
                        fh.read()
                    ).hexdigest()
        return out

    before = shas()
    touched = refresh_snapshot_store(spark, path, delta)
    assert touched and all(str(d) > "2010" for d in touched)
    after = shas()
    assert before == {k: v for k, v in after.items() if k in before}, (
        "existing partitions changed"
    )
    got = spark.read.parquet(path).count()
    want = snapshot_state(revs.unionByName(delta)).count()
    assert got == want


def test_daily_snapshot_is_one_shuffle_on_page_and_day(spark):
    """The window dedup plans exactly one Exchange, a hash partitioning
    on (page_id, calendar day of timestamp) — the one-shuffle shape
    the dump ingest and q21 run."""
    import re

    from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH

    revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)
    plan = daily_snapshot(revs)._jdf.queryExecution().executedPlan(
    ).toString()
    assert plan.count("Exchange") == 1, plan
    m = re.search(r"Exchange hashpartitioning\(page_id#\d+L?, (\w+#\d+)", plan)
    assert m, plan
    assert re.search(
        rf"cast\(timestamp#\d+ as date\) AS {re.escape(m.group(1))}\b", plan
    ), plan


def test_store_refresh_seeds_a_missing_store(spark, tmp_path):
    """A missing root is an empty store: the refresh writes every day
    of the delta, one file per day, with the same rows as
    ``snapshot_state`` written ``partitionBy("day")``."""
    import os

    from diachronic_spark.operators.snapshot import (
        STORE_READ_SCHEMA,
        refresh_snapshot_store,
        snapshot_state,
    )
    from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH

    revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)
    path = str(tmp_path / "new" / "store")
    touched = refresh_snapshot_store(spark, path, revs)
    state = snapshot_state(revs)
    assert touched == sorted(
        r.day for r in state.select("day").distinct().collect()
    )
    ref = str(tmp_path / "ref")
    state.write.partitionBy("day").parquet(ref)

    def rows(p):
        return sorted(
            tuple(r) for r in spark.read.schema(STORE_READ_SCHEMA).parquet(p)
            .collect()
        )

    assert rows(path) == rows(ref)
    days = [d for d in os.listdir(path) if d.startswith("day=")]
    assert sorted(days) == sorted(
        d for d in os.listdir(ref) if d.startswith("day=")
    )
    assert sorted(days) == [f"day={d}" for d in touched]
    for d in days:
        files = [
            f for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)


def test_read_snapshot_store_missing_root_names_the_path(spark, tmp_path):
    from diachronic_spark.operators.snapshot import read_snapshot_store

    path = str(tmp_path / "no_such_store")
    with pytest.raises(FileNotFoundError, match="no_such_store"):
        read_snapshot_store(spark, path)


def test_read_snapshot_store_without_day_dirs_names_the_path(
    spark, tmp_path
):
    from diachronic_spark.operators.snapshot import read_snapshot_store

    path = tmp_path / "empty_store"
    (path / "not_a_day").mkdir(parents=True)
    with pytest.raises(ValueError, match="empty_store"):
        read_snapshot_store(spark, str(path))
