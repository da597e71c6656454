"""The one owner of query scratch directories (plans/_scratch.py)."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import uuid

import pytest

from diachronic_spark.plans import _scratch

REPO = pathlib.Path(__file__).resolve().parents[1]


def _key(name: str) -> str:
    # unique per test run: the process root and memo are shared with
    # every other test in this process
    return f"test_{name}:{uuid.uuid4().hex}"


def test_scratch_dir_builds_once():
    calls = []

    def build(path: str) -> None:
        calls.append(path)
        pathlib.Path(path, "data").write_text("x")

    key = _key("once")
    first = _scratch.scratch_dir(key, build)
    assert _scratch.scratch_dir(key, build) == first
    assert calls == [first]
    assert pathlib.Path(first, "data").read_text() == "x"


def test_scratch_dir_failed_build_leaves_no_dir_and_no_memo():
    key = _key("fails")
    seen = []

    def bad(path: str) -> None:
        seen.append(path)
        pathlib.Path(path, "partial").write_text("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        _scratch.scratch_dir(key, bad)
    assert not os.path.exists(seen[0])
    # not memoized: the next call builds again, into an empty dir
    path = _scratch.scratch_dir(key, lambda p: seen.append(os.listdir(p)))
    assert path == seen[0] and seen[1] == []


def test_run_dir_returns_same_path_emptied():
    key = _key("run")
    path = _scratch.run_dir(key)
    pathlib.Path(path, "sub").mkdir()
    pathlib.Path(path, "sub", "f").write_text("x")
    assert _scratch.run_dir(key) == path
    assert os.listdir(path) == []


def _pristine(root: pathlib.Path) -> pathlib.Path:
    src = root / "pristine"
    (src / "day=1").mkdir(parents=True)
    (src / "day=1" / "part-0.parquet").write_bytes(b"data")
    (src / "day=1" / ".part-0.parquet.crc").write_bytes(b"crc")
    (src / "_SUCCESS").write_bytes(b"")
    return src


def test_restore_tree_links_data_and_copies_markers(tmp_path):
    src = _pristine(tmp_path)
    dst = tmp_path / "store"
    dst.mkdir()
    (dst / "stale").write_text("from an earlier run")
    _scratch.restore_tree(str(src), str(dst))
    assert sorted(p.name for p in dst.rglob("*")) == sorted(
        p.name for p in src.rglob("*")
    )
    data = "day=1/part-0.parquet"
    assert os.path.samefile(src / data, dst / data)
    for marker in ("day=1/.part-0.parquet.crc", "_SUCCESS"):
        assert not os.path.samefile(src / marker, dst / marker)
        assert (src / marker).read_bytes() == (dst / marker).read_bytes()


def test_restore_tree_falls_back_to_copies_when_link_fails(
    tmp_path, monkeypatch
):
    src = _pristine(tmp_path)
    dst = tmp_path / "store"

    def no_link(a, b):
        raise OSError("cross-device link")

    monkeypatch.setattr(os, "link", no_link)
    _scratch.restore_tree(str(src), str(dst))
    for p in src.rglob("*"):
        q = dst / p.relative_to(src)
        if p.is_file():
            assert not os.path.samefile(p, q)
            assert p.read_bytes() == q.read_bytes()


def _scratch_calls(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr == "mkdtemp":
            found.append(f"{path}:{node.lineno} .mkdtemp")
        elif isinstance(node, ast.Import):
            if any(a.name == "atexit" for a in node.names):
                found.append(f"{path}:{node.lineno} import atexit")
        elif isinstance(node, ast.ImportFrom):
            names = {a.name for a in node.names}
            if node.module == "atexit" or (
                node.module == "tempfile" and "mkdtemp" in names
            ):
                found.append(f"{path}:{node.lineno} from {node.module}")
    return found


def test_only_scratch_module_makes_temp_dirs_or_exit_hooks():
    pkg = REPO / "diachronic_spark"
    owner = pkg / "plans" / "_scratch.py"
    assert _scratch_calls(owner), "the scan no longer sees the owner's calls"
    found = [
        hit
        for path in sorted(pkg.rglob("*.py"))
        if path != owner
        for hit in _scratch_calls(path)
    ]
    assert not found, f"temp dirs or exit hooks outside _scratch: {found}"


_RUN_QUERIES = """
import sys
from diachronic_spark.plans import QUERIES
from diachronic_spark.session import get_spark

spark = get_spark("scratch-leak-check", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
for name in ("q155", "q156", "q189", "q121"):
    for _ in range(2):
        QUERIES[name](spark, sys.argv[1]).collect()
spark.stop()
"""


def test_process_leaves_no_scratch_dirs(tmp_path, sf_dir):
    """A process that runs q155, q156, q189 and q121, each twice,
    leaves no ``diachronic_*`` dir in its temp dir on exit."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    pythonpath = [str(REPO), os.environ.get("PYTHONPATH")]
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(filter(None, pythonpath)),
    }
    out = subprocess.run(
        [sys.executable, "-c", _RUN_QUERIES, sf_dir],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    left = sorted(p.name for p in tmp.glob("diachronic_*"))
    assert not left, f"scratch dirs left behind: {left}"
