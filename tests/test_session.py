"""Session helpers: the sequential fallback of ``concurrent_jobs`` and the
package archive's temp-directory placement."""

from __future__ import annotations

import os
import tempfile

from pyspark import SparkContext

from aws_localstack_stream_processing_spark import session


def test_concurrent_jobs_runs_sequentially_without_pinned_threads(monkeypatch):
    """With thread pinning off the py4j gateway is not a ``ClientServer``;
    the thunks then run one after another on the calling thread, and the
    results come back in submission order."""
    import threading

    monkeypatch.setattr(SparkContext, "_gateway", object())
    order = []

    def thunk(i):
        def run():
            order.append((i, threading.get_ident()))
            return i * 10

        return run

    out = session.concurrent_jobs(None, *(thunk(i) for i in range(4)))
    assert out == [0, 10, 20, 30]
    assert [i for i, _ in order] == [0, 1, 2, 3]
    assert {t for _, t in order} == {threading.get_ident()}


def test_package_zip_honors_tmpdir(monkeypatch, tmp_path):
    """The package archive goes to ``tempfile.gettempdir()``, so a run
    that sets ``TMPDIR`` keeps it inside that directory."""
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)  # re-read TMPDIR
    out = session._package_zip()
    assert os.path.dirname(out) == str(tmp_path)
    assert os.path.isfile(out)
