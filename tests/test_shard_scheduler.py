"""The shard coordinator (``job._run_shards``) without Spark.

Fake shard functions synchronise on ``threading.Event``s with a
timeout, never on sleeps: a wrong schedule shows up as a shard that
times out, not as a slow test.
"""

from __future__ import annotations

import threading

import pytest

from ocr_spark import job

TIMEOUT_S = 10


def test_next_shard_starts_as_soon_as_any_shard_finishes():
    """Shard 0 can finish only once shard 2 has started: with two slots,
    shard 2 must take the slot shard 1 frees, not wait for shard 0."""
    started = {s: threading.Event() for s in range(3)}
    marked: list[int] = []

    def run_one(shard):
        started[shard].set()
        if shard == 0 and not started[2].wait(TIMEOUT_S):
            raise TimeoutError("shard 2 never started while shard 0 ran")

    assert job._run_shards([0, 1, 2], 2, run_one, marked.append) == [0, 1, 2]
    # each shard is marked when it commits, not in shard order
    assert marked[0] == 1
    assert sorted(marked) == [0, 1, 2]


def test_failed_shard_drains_in_flight_and_starts_none(monkeypatch):
    """Shard 1 raises while shard 0 runs. Shard 0 finishes only after
    the coordinator has seen the failure; it is still marked, no shard
    starts after the failure, and the error is re-raised."""
    failure_seen = threading.Event()
    real_wait = job.wait

    def observing_wait(fs, **kwargs):
        finished, rest = real_wait(fs, **kwargs)
        if any(f.exception() is not None for f in finished):
            failure_seen.set()
        return finished, rest

    monkeypatch.setattr(job, "wait", observing_wait)
    started: list[int] = []
    marked: list[int] = []

    def run_one(shard):
        started.append(shard)
        if shard == 1:
            raise RuntimeError("shard 1 failed")
        if not failure_seen.wait(TIMEOUT_S):
            raise TimeoutError("the coordinator never saw shard 1 fail")

    with pytest.raises(RuntimeError, match="shard 1 failed"):
        job._run_shards([0, 1, 2, 3], 2, run_one, marked.append)
    assert sorted(started) == [0, 1]
    assert marked == [0]


def test_no_pending_shards():
    assert job._run_shards([], 1, lambda s: None, lambda s: None) == []
