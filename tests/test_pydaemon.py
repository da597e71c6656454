"""The engine's PySpark daemon (diachronic_spark/_pydaemon.py): a reused
Python worker keeps its zip import directories from task to task
instead of re-reading every archive on each one."""

from __future__ import annotations

import os
import sys

import pytest

# Archive -> directory dict as this worker's previous task saw it. The
# dicts are held, not their ids, so an id cannot be recycled between
# tasks. Lives in the worker: the task function below is pickled by
# reference, so every task in one worker process shares this module.
_PREV: dict[str, dict] = {}


def _zip_dirs_replaced(_rows):
    """(pid, has_zip, directories replaced since this worker's last task,
    or None on its first)."""
    import zipimport

    has_zip = any(os.path.isfile(p) for p in sys.path)
    current = dict(zipimport._zip_directory_cache)
    replaced = (
        sum(current.get(a) is not d for a, d in _PREV.items()) if _PREV else None
    )
    _PREV.clear()
    _PREV.update(current)
    yield os.getpid(), has_zip, replaced


def test_reused_worker_keeps_zip_directories(spark):
    sc = spark.sparkContext
    n = 2 * sc.defaultParallelism
    results = []
    for _ in range(3):  # until some worker has run two tasks
        results += sc.parallelize(range(n), n).mapPartitions(
            _zip_dirs_replaced
        ).collect()
        if any(r[2] is not None for r in results):
            break
    if not all(has_zip for _pid, has_zip, _ in results):
        pytest.skip("Python workers have no zip archive on sys.path")
    reused = [(pid, replaced) for pid, _, replaced in results if replaced is not None]
    assert reused, "no Python worker ran two tasks"
    assert all(replaced == 0 for _pid, replaced in reused), reused
