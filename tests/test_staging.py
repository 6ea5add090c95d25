"""The stage cache behind the staged streaming replays
(``streaming.source.cached_stage``), without Spark: stages live under the
temp directory, are published whole or not at all, are built once per
source identity, and carry arrival order as file-name order."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
import pyarrow.parquet as pq

from aws_localstack_stream_processing_spark.streaming.source import (
    staged_event_batches,
    staged_join_sides,
)

from .conftest import SF_DIR


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    return tmp_path


def _names(d: str) -> list[str]:
    return sorted(os.listdir(d))


def test_stage_lands_under_the_temp_directory(tmp_root):
    stage = staged_event_batches(SF_DIR, 3)
    assert os.path.dirname(stage) == str(tmp_root)
    assert _names(stage) == ["b0.parquet", "b1.parquet", "b2.parquet"]


def test_failed_build_leaves_no_stage(tmp_root, monkeypatch):
    real_write = pq.write_table
    calls = []

    def write_then_fail(table, path, *a, **kw):
        calls.append(path)
        if len(calls) == 2:
            raise OSError("disk gone mid-stage")
        return real_write(table, path, *a, **kw)

    monkeypatch.setattr(pq, "write_table", write_then_fail)
    with pytest.raises(OSError, match="mid-stage"):
        staged_event_batches(SF_DIR, 3)
    assert os.listdir(tmp_root) == []  # neither the stage nor its sibling
    monkeypatch.setattr(pq, "write_table", real_write)
    stage = staged_event_batches(SF_DIR, 3)
    assert _names(stage) == ["b0.parquet", "b1.parquet", "b2.parquet"]
    rows = sum(pq.read_metadata(f"{stage}/{f}").num_rows for f in _names(stage))
    assert rows == pq.read_metadata(f"{SF_DIR}/events.parquet").num_rows


def test_second_call_reuses_the_stage(tmp_root, monkeypatch):
    first = staged_event_batches(SF_DIR, 3)

    def no_build(*a, **kw):
        raise AssertionError("stage rebuilt")

    monkeypatch.setattr(pq, "write_table", no_build)
    assert staged_event_batches(SF_DIR, 3) == first
    assert glob.glob(f"{tmp_root}/*") == [first]


def test_mtimes_follow_file_names(tmp_root):
    dirs = [staged_event_batches(SF_DIR, 3), *staged_join_sides(SF_DIR)]
    for d in dirs:
        mtimes = [os.stat(os.path.join(d, f)).st_mtime_ns for f in _names(d)]
        assert len(mtimes) >= 3
        assert all(a < b for a, b in zip(mtimes, mtimes[1:])), d


def test_racing_build_returns_the_published_stage(tmp_root, monkeypatch):
    """A build that loses the publish race to a concurrent one returns
    the winner's stage and removes its own copy."""
    real_write = pq.write_table
    winner = []

    def write_after_rival(table, path, *a, **kw):
        if not winner:
            winner.append(None)
            winner[0] = staged_event_batches(SF_DIR, 3)  # the rival build
        return real_write(table, path, *a, **kw)

    monkeypatch.setattr(pq, "write_table", write_after_rival)
    assert staged_event_batches(SF_DIR, 3) == winner[0]
    assert glob.glob(f"{tmp_root}/*") + glob.glob(f"{tmp_root}/.*") == winner
