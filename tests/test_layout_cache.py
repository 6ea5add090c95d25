"""The scan-layout remediation cache (catalog._maybe_relayout): content
preservation, skip conditions, idempotence, and source invalidation."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from aws_localstack_stream_processing_spark.catalog import (
    _MIN_ROWS_PER_GROUP,
    _RELAYOUT_MIN_ROWS,
    _layout_cache_root,
    _maybe_relayout,
)

from .conftest import SF_DIR


def test_small_tables_scan_in_place():
    # region/nation are far below the relayout threshold: the catalog must
    # hand back the original path untouched
    for name in ("region", "nation"):
        assert _maybe_relayout(SF_DIR, name) == f"{SF_DIR}/{name}.parquet"


def test_relayout_is_byte_exact_and_multi_group():
    # sf0.1: large enough that the bytes-aware policy always relays events
    # (sf0.001's 30 KB events file legitimately stays single-group now)
    sf_dir = SF_DIR.replace("sf0.001", "sf0.1")
    src = f"{sf_dir}/events.parquet"
    out = _maybe_relayout(sf_dir, "events")
    if out == src:  # source already well-grouped on this driver build
        assert pq.ParquetFile(src).metadata.num_row_groups > 1
        return
    a, b = pq.read_table(src), pq.read_table(out)
    assert a.equals(b)  # values AND logical types identical, order preserved
    assert a.schema.equals(b.schema)
    meta = pq.ParquetFile(out).metadata
    assert meta.num_row_groups > 1
    assert all(
        meta.row_group(i).num_rows >= _MIN_ROWS_PER_GROUP
        for i in range(meta.num_row_groups - 1)
    )


def test_relayout_idempotent_no_rewrite():
    out1 = _maybe_relayout(SF_DIR, "events")
    if out1 == f"{SF_DIR}/events.parquet":
        return  # nothing cached on this layout; covered above
    mtime = os.path.getmtime(out1)
    out2 = _maybe_relayout(SF_DIR, "events")
    assert out2 == out1
    assert os.path.getmtime(out2) == mtime  # cache hit, not a rewrite


def test_regenerated_source_invalidates_cache(tmp_path):
    # ADVICE r4: the cache key must carry source identity — rewriting the
    # source parquet at the same path must produce a NEW cache file, never
    # serve the stale relayout of the old contents.
    import shutil

    sf_dir = SF_DIR.replace("sf0.001", "sf0.01")
    src = f"{sf_dir}/events.parquet"
    work = tmp_path / "sfX"
    work.mkdir()
    shutil.copy(src, work / "events.parquet")
    os.environ["SPARK_GRAFT_LAYOUT_CACHE_DIR"] = str(tmp_path / "cache")
    try:
        out1 = _maybe_relayout(str(work), "events")
        if out1 == str(work / "events.parquet"):
            return  # too small to relayout on this build; nothing to invalidate
        # regenerate the source: drop a row so content AND stat identity change
        t = pq.read_table(src)
        pq.write_table(t.slice(0, t.num_rows - 1), work / "events.parquet")
        out2 = _maybe_relayout(str(work), "events")
        assert out2 != out1
        assert not os.path.exists(out1)  # superseded variant cleaned up
        assert pq.read_table(out2).num_rows == t.num_rows - 1
    finally:
        del os.environ["SPARK_GRAFT_LAYOUT_CACHE_DIR"]


def test_threshold_constants_sane():
    # the cache only pays off when a single task would otherwise scan the
    # whole table; relaying tiny tables would just add file-open overhead
    assert _RELAYOUT_MIN_ROWS >= 10 * _MIN_ROWS_PER_GROUP
    assert os.path.basename(_layout_cache_root()) == ".layout_cache"
