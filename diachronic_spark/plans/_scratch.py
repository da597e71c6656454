"""Process-scoped scratch directories for the query plans.

This module is the only code in the package that creates or removes
scratch directories. Every directory lives under one process root,
``tempfile.mkdtemp(prefix="diachronic_")``, created on first use;
stream checkpoints live under a second root on ``/dev/shm`` when it
exists, which keeps the WAL, offset and commit fsyncs of a drain off
the disk (~0.1-0.3 s per drain at sf0.1). One ``atexit`` hook removes
both roots, so a process leaves nothing behind however many queries it
runs.

Callers name a directory by a key that carries the sf, e.g.
``f"q155:{sf}"``; the key maps to one directory name under the root.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame

_roots: dict[str, str] = {}  # "disk" / "ram" -> root created this process
_built: set[str] = set()  # scratch_dir keys whose build finished


def _root(kind: str) -> str:
    if kind not in _roots:
        ram = kind == "ram" and os.path.isdir("/dev/shm")
        _roots[kind] = tempfile.mkdtemp(
            prefix="diachronic_", dir="/dev/shm" if ram else None
        )
    return _roots[kind]


@atexit.register
def _remove_roots() -> None:
    for root in _roots.values():
        shutil.rmtree(root, ignore_errors=True)


def _path(kind: str, key: str) -> str:
    # readable prefix for a person looking at the root, digest for
    # uniqueness: two sf paths may slug alike ("a/b_c" and "a_b/c")
    slug = re.sub(r"[^A-Za-z0-9.]+", "_", key).strip("_")[:64]
    digest = hashlib.sha1(key.encode()).hexdigest()[:8]
    return os.path.join(_root(kind), f"{slug}-{digest}")


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def scratch_dir(key: str, build: Callable[[str], None]) -> str:
    """``<root>/<key>``, created once per process and then reused.

    On first use the empty directory is filled by ``build(path)``. If
    ``build`` raises, the partial directory is removed and the next
    call builds again. Use it for inputs that stay the same for the
    life of the process: staged sources, pristine stores and indexes.
    """
    path = _path("disk", key)
    if key not in _built:
        _fresh(path)
        try:
            build(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        _built.add(key)
    return path


def run_dir(key: str) -> str:
    """``<root>/<key>``, emptied on every call.

    Each key has one live copy, however often its query runs, so a
    long-lived process does not gain a directory per call. A query
    whose returned DataFrame reads from its run dir must be consumed
    (collected or written) before the same query runs again: the next
    call empties the directory the previous frame reads."""
    return _fresh(_path("disk", key))


def checkpoint_dir(key: str) -> str:
    """A stream checkpoint dir: ``run_dir`` under the RAM-backed root.

    Drains here are verification runs whose checkpoints are ephemeral
    by construction; Spark's own default (a temp dir deleted on stop)
    has the same durability. The dir is fresh per call because reusing
    one would resume the previous run's committed offsets and drain
    nothing. A production stream points its checkpoint at a durable
    location instead."""
    return _fresh(_path("ram", key))


def _link_data_copy_markers(src: str, dst: str) -> None:
    if os.path.basename(src).startswith(("_", ".")):
        shutil.copyfile(src, dst)
    else:
        os.link(src, dst)


def restore_tree(pristine: str, dst: str) -> None:
    """Replace ``dst`` with a copy of the parquet tree ``pristine``.

    DATA files hardlink, so the restore is metadata-only at any size;
    this is safe while every later write to ``dst`` unlinks or creates
    files and never rewrites one in place. Commit MARKERS (names that
    start with ``_`` or ``.``: ``_SUCCESS``, ``.crc``) get real,
    writable byte copies, because Hadoop's committer rewrites them in
    place, which through a hardlink would change the pristine inode.
    Where linking fails (another filesystem), every file is
    byte-copied; ``copyfile``, not ``copy2``, so a read-only pristine
    tree does not hand the committer read-only markers.
    """
    shutil.rmtree(dst, ignore_errors=True)
    try:
        shutil.copytree(pristine, dst, copy_function=_link_data_copy_markers)
    except OSError:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(pristine, dst, copy_function=shutil.copyfile)


def write_single_file(df: DataFrame, dst: str, mtime: float) -> None:
    """Write ``df`` as the ONE parquet file ``dst`` with modification
    time ``mtime``. The file stream source orders its inputs by mtime
    and does not recurse into non-partition subdirectories, so staged
    micro-batch files are written flat with increasing mtimes."""
    parts = f"{dst}.parts"
    df.coalesce(1).write.mode("overwrite").parquet(parts)
    (part,) = [f for f in os.listdir(parts) if f.endswith(".parquet")]
    shutil.move(os.path.join(parts, part), dst)
    shutil.rmtree(parts, ignore_errors=True)
    os.utime(dst, (mtime, mtime))
