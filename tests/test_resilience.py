"""Unit tests for streaming.resilience.start_and_await (VERDICT r11 #2).

No Spark: the helper's contract is exception-classification + bounded
restart, testable with fake queries. The real failure it exists for —
"Python worker failed to connect back" raised while a stream is still
INITIALIZING (zero committed offsets) — is reproduced by message text,
exactly what pyspark surfaces through its wrapper layers.
"""

from __future__ import annotations

import pytest

from aws_localstack_stream_processing_spark.streaming.resilience import (
    query_never_progressed,
    start_and_await,
)

_SPAWN_MSG = (
    "[STREAM_FAILED] Query [id = x, runId = y] terminated with exception: "
    "Python worker failed to connect back. SQLSTATE: XXKST\n"
    "=== Streaming Query ===\n"
    "Current Committed Offsets: {}\n"
    "Current Available Offsets: {}\n"
    "Current State: INITIALIZING\n"
)


class _FakeQuery:
    def __init__(self, exc=None):
        self.exc = exc

    def awaitTermination(self):
        if self.exc is not None:
            raise self.exc


def test_retries_spawn_flake_and_returns_successful_query():
    attempts = []

    def start():
        attempts.append(1)
        if len(attempts) == 1:
            return _FakeQuery(RuntimeError(_SPAWN_MSG))
        return _FakeQuery()

    q = start_and_await(start)
    assert len(attempts) == 2
    assert q.exc is None  # the SUCCESSFUL attempt's query is returned


def test_reraises_after_bounded_retries():
    attempts = []

    def start():
        attempts.append(1)
        return _FakeQuery(RuntimeError(_SPAWN_MSG))

    with pytest.raises(RuntimeError):
        start_and_await(start)
    assert len(attempts) == 3  # initial + 2 retries, then give up


def test_non_transient_failure_not_retried():
    # an unrelated stream failure is never retried, even before any commit
    for exc in (
        ValueError("schema mismatch in batch 0"),
        RuntimeError(
            "terminated with exception: division by zero\n"
            "Current Committed Offsets: {}\n"
        ),
    ):
        attempts = []

        def start():
            attempts.append(1)
            return _FakeQuery(exc)

        with pytest.raises(type(exc)):
            start_and_await(start)
        assert len(attempts) == 1


class _FakeQueryWithProgress(_FakeQuery):
    """Query handle exposing the progress API (ADVICE r12: the second
    virgin-detection channel, for wrapper layers that truncate the
    status dump out of the exception message)."""

    def __init__(self, exc=None, progress=None):
        super().__init__(exc)
        self.lastProgress = progress[-1] if progress else None
        self.recentProgress = list(progress or [])


_TRUNCATED_SPAWN_MSG = (
    "[STREAM_FAILED] Query terminated with exception: "
    "Python worker failed to connect back. SQLSTATE: XXKST"
)  # no "=== Streaming Query ===" dump at all — Connect-style truncation


def test_query_never_progressed_channel():
    assert query_never_progressed(_FakeQueryWithProgress())
    assert not query_never_progressed(
        _FakeQueryWithProgress(progress=[{"batchId": 0}])
    )
    # handles without the progress API are fail-safe: not virgin
    assert not query_never_progressed(object())


def test_truncated_message_retried_via_progress_channel():
    """A spawn flake whose exception text lost the offsets dump is still
    retried when the query handle proves no batch ever completed."""
    attempts = []

    def start():
        attempts.append(1)
        if len(attempts) == 1:
            return _FakeQueryWithProgress(RuntimeError(_TRUNCATED_SPAWN_MSG))
        return _FakeQueryWithProgress()

    q = start_and_await(start)
    assert len(attempts) == 2
    assert q.exc is None


def test_truncated_message_with_progress_not_retried():
    """Same truncated text, but the handle shows a completed batch —
    restart is no longer provably pre-data, so re-raise."""
    attempts = []

    def start():
        attempts.append(1)
        return _FakeQueryWithProgress(
            RuntimeError(_TRUNCATED_SPAWN_MSG), progress=[{"batchId": 0}]
        )

    with pytest.raises(RuntimeError):
        start_and_await(start)
    assert len(attempts) == 1


def test_committed_offsets_failure_not_retried():
    """A spawn-class error after ANY offset committed must re-raise —
    restarting could double side effects on non-checkpointed sinks."""
    committed = _SPAWN_MSG.replace(
        "Committed Offsets: {}", 'Committed Offsets: {"src": 2}'
    )
    attempts = []

    def start():
        attempts.append(1)
        return _FakeQuery(RuntimeError(committed))

    with pytest.raises(RuntimeError):
        start_and_await(start)
    assert len(attempts) == 1
