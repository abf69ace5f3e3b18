"""The ``scratch.staged_once`` lifecycle (no Spark needed): one write
per source version, a rewrite when the source changes, and no marker
left behind by a write that fails."""

from __future__ import annotations

import os

import pytest

from simplemapreduce_spark import scratch


@pytest.fixture
def staging(tmp_path, monkeypatch):
    """A private scratch root and an sf dir holding one source table
    ``src``; returns (sf_dir, calls, stage) where ``stage(writer)``
    stages kind ``k`` from ``src`` and ``calls`` lists the writer's
    target paths."""
    monkeypatch.setattr(scratch, "scratch_root", lambda: str(tmp_path / "scratch"))
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    (sf_dir / "src.parquet").write_bytes(b"v1")
    calls: list[str] = []

    def record(path: str) -> None:
        calls.append(path)
        os.makedirs(path, exist_ok=True)

    def stage(writer=record) -> str:
        return scratch.staged_once("k", str(sf_dir), "src", writer)

    return sf_dir, calls, stage


def _marker(path: str) -> str:
    with open(os.path.join(path, scratch.MARKER)) as f:
        return f.read()


def test_same_stamp_writes_once(staging):
    sf_dir, calls, stage = staging
    path = stage()
    assert stage() == path
    assert calls == [path]
    assert path == scratch.scratch_dir("k", str(sf_dir))
    assert _marker(path) == scratch.table_stamp(str(sf_dir), "src")


def test_changed_stamp_restages_and_rewrites_marker(staging):
    sf_dir, calls, stage = staging
    path = stage()
    old = _marker(path)
    (sf_dir / "src.parquet").write_bytes(b"version 2")
    assert stage() == path
    assert calls == [path, path]
    assert _marker(path) != old
    assert _marker(path) == scratch.table_stamp(str(sf_dir), "src")


def test_failed_write_leaves_no_marker(staging):
    sf_dir, calls, stage = staging
    path = stage()
    (sf_dir / "src.parquet").write_bytes(b"version 2")

    def crash(p: str) -> None:
        raise OSError("disk full")

    with pytest.raises(OSError):
        stage(crash)
    assert not os.path.exists(os.path.join(path, scratch.MARKER))
    stage()
    assert calls == [path, path]


def test_directory_source_rewritten_in_place_restages(staging):
    """A directory's own stat does not change when a part file is
    rewritten in place, so the stamp must come from the files inside
    it; a single file keeps its ``mtime_ns:size`` stamp."""
    sf_dir, calls, stage = staging
    st = os.stat(sf_dir / "src.parquet")
    assert scratch.table_stamp(str(sf_dir), "src") == f"{st.st_mtime_ns}:{st.st_size}"

    (sf_dir / "src.parquet").unlink()
    (sf_dir / "src.parquet").mkdir()
    part = sf_dir / "src.parquet" / "part-0.parquet"
    part.write_bytes(b"v1")
    path = stage()
    dir_stat = os.stat(sf_dir / "src.parquet")
    part.write_bytes(b"version 2")
    after = os.stat(sf_dir / "src.parquet")
    assert (after.st_mtime_ns, after.st_size) == (dir_stat.st_mtime_ns, dir_stat.st_size)
    assert stage() == path
    assert calls == [path, path]
    assert _marker(path) == scratch.table_stamp(str(sf_dir), "src")
