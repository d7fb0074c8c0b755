"""Bench/replay transient-retry harness (VERDICT r08 #1).

Round 8's driver bench crashed (rc=1) because one transient
"Python worker failed to connect back" inside a TWS streaming replay
propagated straight out of bench.py's run_one. These tests pin the
two retry layers added in round 9:

- ``replay_stream`` takes ONE bounded retry — with fresh source +
  checkpoint directories — when the failure matches a transient
  worker-spawn signature, and records it in
  ``TRANSIENT_RETRY_EVENTS``;
- any OTHER failure, or a second consecutive transient failure,
  propagates unchanged (a real regression cannot hide behind the
  retry);
- the retry audit trail is what bench.py folds into its sidecar.
"""

import pytest
from pyspark.sql import functions as F

from det_module_spark.streaming import replay as replay_mod
from det_module_spark.streaming.replay import (
    TRANSIENT_RETRY_EVENTS,
    _is_transient_worker_failure,
    replay_stream,
)


def _tiny(spark):
    return spark.range(4).select(
        (F.col("id") % 2).cast("int").alias("batch"),
        F.lit("k").alias("key"),
        F.col("id").cast("long").alias("v"),
    )


def _count_build(stream):
    return stream.groupBy("key").agg(F.count("*").alias("n"))


class _FakeWorkerCrash(Exception):
    pass


def _flaky_once(calls, real_once):
    """A _replay_stream_once stand-in that crashes with the r8
    signature on the first call, then delegates to the real path."""

    def inner(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise _FakeWorkerCrash(
                "StreamingQueryException: Python worker failed to "
                "connect back in time"
            )
        return real_once(*args, **kwargs)

    return inner


def test_transient_predicate_matches_r8_signature():
    e = Exception("Python worker failed to connect back")
    assert _is_transient_worker_failure(e)
    # ... including when buried in the cause chain, as PySpark wraps it
    outer = RuntimeError("StreamingQueryException: query terminated")
    outer.__cause__ = Exception(
        "org.apache.spark.SparkException: Python worker exited "
        "unexpectedly (crashed)"
    )
    assert _is_transient_worker_failure(outer)
    # self-referential chains terminate
    loop = Exception("boring")
    loop.__cause__ = loop
    assert not _is_transient_worker_failure(loop)
    assert not _is_transient_worker_failure(Exception("AnalysisException"))


def test_replay_retries_once_on_transient_failure(spark, monkeypatch):
    calls: list[int] = []
    monkeypatch.setattr(
        replay_mod,
        "_replay_stream_once",
        _flaky_once(calls, replay_mod._replay_stream_once),
    )
    before = len(TRANSIENT_RETRY_EVENTS)
    out = replay_stream(_tiny(spark), "batch", _count_build, "update")
    rows = {(r["key"], r["n"]) for r in out.collect()}
    # update-mode count over 2 micro-batches of 2 rows: trajectory
    # (k,2) then (k,4)
    assert (("k", 2) in rows) and (("k", 4) in rows)
    assert len(calls) == 2  # failed once, succeeded on retry
    events = TRANSIENT_RETRY_EVENTS[before:]
    assert len(events) == 1 and "connect back" in events[0]


def test_replay_does_not_retry_real_failures(spark, monkeypatch):
    calls: list[int] = []

    def always_analysis(*a, **k):
        calls.append(1)
        raise ValueError("genuine plan bug: column not found")

    monkeypatch.setattr(replay_mod, "_replay_stream_once", always_analysis)
    before = len(TRANSIENT_RETRY_EVENTS)
    with pytest.raises(ValueError, match="genuine plan bug"):
        replay_stream(_tiny(spark), "batch", _count_build, "update")
    assert len(calls) == 1  # no retry taken
    assert len(TRANSIENT_RETRY_EVENTS) == before


def test_replay_second_transient_failure_propagates(spark, monkeypatch):
    calls: list[int] = []

    def always_crash(*a, **k):
        calls.append(1)
        raise _FakeWorkerCrash("Python worker failed to connect back")

    monkeypatch.setattr(replay_mod, "_replay_stream_once", always_crash)
    with pytest.raises(_FakeWorkerCrash):
        replay_stream(_tiny(spark), "batch", _count_build, "update")
    assert len(calls) == 2  # exactly one retry, then propagate


def test_bench_run_one_retry_is_recorded(spark):
    """bench.py's run_one layer: one bounded retry per query, counted.
    Reproduce its exact control flow against a fail-once callable."""
    import time

    retries: dict[str, int] = {}
    attempts: list[int] = []

    class _FailOnceQuery:
        def __call__(self, s, d):
            attempts.append(1)
            if len(attempts) == 1:
                raise _FakeWorkerCrash("failed to connect back")
            return s.range(3)

    # mirror of bench.main's run_one (kept in sync by this test);
    # the retry is GATED on the transient predicate (ADVICE r9)
    def run_one(name, fn, d):
        t0 = time.time()
        try:
            n = len(fn(spark, d).collect())
        except Exception as e:  # noqa: BLE001
            if not _is_transient_worker_failure(e):
                raise
            retries[name] = retries.get(name, 0) + 1
            t0 = time.time()
            n = len(fn(spark, d).collect())
        return n, time.time() - t0

    n, _ = run_one("flaky", _FailOnceQuery(), "unused")
    assert n == 3 and retries == {"flaky": 1} and len(attempts) == 2

    # a NON-transient first failure must propagate, not retry
    class _RealBug:
        def __call__(self, s, d):
            raise ValueError("genuine plan bug: column not found")

    with pytest.raises(ValueError, match="genuine plan bug"):
        run_one("broken", _RealBug(), "unused")
    assert "broken" not in retries


def test_transient_predicate_matches_cancelled_key():
    """r9 judge reproduced a CancelledKeyException in a plain
    foreachPartition stage under host load (passes in isolation) —
    now a recognized transient signature."""
    e = RuntimeError(
        "org.apache.spark.SparkException: Job aborted due to stage "
        "failure: java.nio.channels.CancelledKeyException"
    )
    assert _is_transient_worker_failure(e)


def test_bench_sidecar_name_keeps_the_headline_record():
    """Only the headline run (sf0.1, both passes, cached, 32 cores)
    writes BENCH_FULL.json; every other run gets a name of its own."""
    from bench import _sidecar_name

    assert _sidecar_name(0.1, "both", False, "32") == "BENCH_FULL.json"
    assert _sidecar_name(0.1, "both", False, "8") == "BENCH_FULL_c8.json"
    assert _sidecar_name(0.01, "both", False, "32") == "BENCH_FULL_sf0.01.json"
    assert (
        _sidecar_name(0.1, "seq", True, "8")
        == "BENCH_FULL_sf0.1_seq_nocache_c8.json"
    )
