#!/usr/bin/env python
"""10x STATE-size scaling point for the partition-pruned snapshot-store
refresh (q155/q158's operator, round 8).

The claim under test is the storage half of the O(delta) refresh
contract: with the state at rest partitioned by day, a delta batch's
refresh reads and rewrites ONLY the day partitions it touches, so
refresh cost must be INDEPENDENT of how much state exists in OTHER
partitions. The experiment grows the corpus 10x along the PARTITIONED
dimension — each extra copy shifts page_ids AND timestamps by +400
days per copy, so the 10x store has ~10x rows across ~10x day
partitions — while the delta batch stays FIXED (copy 0's rev_seq%5==0
slice, touching only copy-0 days). A flat ratio is the pass; growth
tracking state size would mean pruning is broken.

Stated honestly: the refresh granularity is the PARTITION, so growth
WITHIN a touched day (fan-in: more pages per day) does show up in
refresh cost — that axis is O(touched-partition bytes) by contract
(operators/snapshot.py docstring) and its knob is finer partitioning
(day + key-hash bucket). This tool measures the pruning axis, which
is the one that dominates a years-long history at 100 TB.

Methodology: stores founded once per size; per timed run the pristine
store is restored by hardlink (metadata-only, the q136/q155 trick),
then ONE refresh_snapshot_store call is timed end-to-end (touched-day
collect + pruned scan + re-argmin + dynamic partition overwrite).
Warmup run first, then best-of-2. Flag ratio 3.0: a pruned refresh
at 10x state should be ~1x; anything approaching the 10x data factor
means the state scan is not pruned.

Usage: python tools/scaling_store10x.py [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from diachronic_spark.operators.snapshot import (  # noqa: E402
    refresh_snapshot_store,
)
from diachronic_spark.plans._scratch import restore_tree  # noqa: E402
from diachronic_spark.schemas import WIKI_REVISIONS  # noqa: E402
from diachronic_spark.session import get_spark  # noqa: E402
from diachronic_spark.sources.wiki_fixture import FIXTURE_PATH  # noqa: E402

COPIES = 10
FLAG_RATIO = 3.0
DAY_SHIFT = 400  # days per copy — disjoint day-partition ranges
ID_SHIFT = 10_000_000


def _corpus(spark, n_copies: int):
    revs = spark.read.schema(WIKI_REVISIONS).parquet(FIXTURE_PATH)
    parts = [revs]
    for c in range(1, n_copies):
        parts.append(
            revs.withColumn(
                "page_id", F.col("page_id") + F.lit(c * ID_SHIFT)
            ).withColumn(
                "timestamp",
                F.col("timestamp") + F.expr(f"INTERVAL {c * DAY_SHIFT} DAYS"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def measure(spark, n_copies: int, root: str) -> tuple[float, int, int]:
    base = _corpus(spark, n_copies).filter(F.col("rev_seq") % 5 != 0)
    # the FIXED delta: copy 0's held-out slice — same bytes, same
    # touched days at every state size
    delta = spark.read.schema(WIKI_REVISIONS).parquet(
        FIXTURE_PATH
    ).filter(F.col("rev_seq") % 5 == 0)
    pristine = f"{root}/pristine_{n_copies}"
    refresh_snapshot_store(spark, pristine, base)
    state_rows = spark.read.parquet(pristine).count()
    n_parts = len(
        [d for d in os.listdir(pristine) if d.startswith("day=")]
    )
    store = f"{root}/store_{n_copies}"

    def once() -> float:
        restore_tree(pristine, store)
        t0 = time.perf_counter()
        touched = refresh_snapshot_store(spark, store, delta)
        dt = time.perf_counter() - t0
        assert touched, "delta must touch partitions"
        return dt

    once()  # warmup (codegen/JIT for this plan shape)
    best = min(once(), once())
    return round(best, 3), state_rows, n_parts


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SCALING_STORE10X.json"
    spark = get_spark("diachronic-spark-scaling-store10x")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="diachronic_store10x_")
    try:
        t1, rows1, parts1 = measure(spark, 1, root)
        t10, rows10, parts10 = measure(spark, COPIES, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    ratio = round(t10 / t1, 2) if t1 else None
    result = {
        "metric": "store_refresh_vs_state_size_10x",
        "unit": "sec",
        "state_factor": COPIES,
        "flag_ratio": FLAG_RATIO,
        "base": {"refresh_s": t1, "state_rows": rows1,
                 "day_partitions": parts1},
        "scaled": {"refresh_s": t10, "state_rows": rows10,
                   "day_partitions": parts10},
        "x_1_to_10": ratio,
        "flagged": ratio is not None and ratio > FLAG_RATIO,
        "note": (
            "fixed delta, state grown 10x along the PARTITIONED "
            "dimension (new days); flat ratio = planning-time pruning "
            "holds and refresh cost is O(delta + touched partitions), "
            "independent of total state"
        ),
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
