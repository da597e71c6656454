"""PySpark worker daemon that keeps zip import directories across tasks.

Every Python task calls ``importlib.invalidate_caches()`` before it runs
the user function (pyspark/worker_util.py). On CPython 3.11 that makes
each ``zipimporter`` re-read its whole archive directory: pyspark.zip,
the py4j zip and the Spark jars on the worker's ``sys.path`` cost
150-270 ms a task, against ~1 ms of work in a small ``mapInPandas``
call. This module patches ``zipimporter.invalidate_caches`` to re-read
an archive only when its ``(st_mtime_ns, st_size)`` changed, then runs
the stock daemon, so forked workers inherit the patch and the already
read directories. Archives shipped later with ``addPyFile`` are new
paths and still get fresh importers. ``session.get_spark`` selects it
through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


_stamps: dict[str, tuple[int, int] | None] = {}


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:
        # another importer of the same archive may have re-read it
        self._files = files


def main() -> None:
    # Stamp the directories this process read while importing pyspark
    # before the daemon forks, so no worker re-reads them on its first
    # task.
    _stamps.update((a, _stamp(a)) for a in zipimport._zip_directory_cache)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    daemon.manager()


if __name__ == "__main__":
    main()
