"""Custom stateful streaming processors (Spark 4.x transformWithState).

``transformWithStateInPandas`` is the arbitrary-state successor to
``applyInPandasWithState`` (used by streaming/intake.py): typed state
variables (ValueState/ListState/MapState), optional TTL, and timers.
Here it powers a per-key running aggregate with a bounded-state
contract — the building block the reference's request tracker needs
when requests never stop arriving (state TTL evicts abandoned keys
instead of growing forever).

Scale shape: state lives in the state store partitioned by key —
parallel across executors, checkpointed incrementally; the Python hook
sees Arrow batches per key.
"""

from __future__ import annotations

import importlib
import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_VENDOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vendor",
    "protofallback",
)
_SHIPPED_ZIP: str | None = None
PROTOBUF_MODE: str | None = None


def ensure_protobuf() -> str:
    """Make ``google.protobuf`` importable, preferring the real
    package; when absent, install the vendored pure-Python runtime
    subset (vendor/protofallback) that the generated
    ``StateMessage_pb2`` module needs. Returns "native"/"fallback"."""
    global PROTOBUF_MODE
    if PROTOBUF_MODE is not None:
        return PROTOBUF_MODE
    try:
        import google.protobuf  # noqa: F401

        PROTOBUF_MODE = "native"
        return PROTOBUF_MODE
    except ImportError:
        pass
    if _VENDOR not in sys.path:
        sys.path.insert(0, _VENDOR)
    # TWS spawns TWO kinds of helper Python processes: executor UDF
    # workers (reached via addPyFile, _ship_fallback) and a DRIVER
    # worker (transform_with_state_driver_worker.py) launched by the
    # JVM with a PYTHONPATH inherited from the JVM's environment —
    # which the JVM in turn inherited from this process at session
    # start. Export the vendor dir so both resolve google.protobuf.
    # (Call ensure_protobuf()/import this module BEFORE creating the
    # SparkSession for the driver-worker path to see it.)
    existing = os.environ.get("PYTHONPATH", "")
    if _VENDOR not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _VENDOR + os.pathsep + existing if existing else _VENDOR
        )
    importlib.invalidate_caches()
    # ADVICE r04: the failed native import above may have CACHED a
    # 'google' namespace package (e.g. google-auth installed without
    # protobuf) in sys.modules; the vendored 'google' is a regular
    # package (__init__.py) so namespace-path recalculation never
    # sees it and the retry would raise. If the cached entry isn't
    # ours, graft the vendor dir onto its __path__ (keeps any other
    # google.* subpackages importable); drop stale half-imports of
    # google.protobuf either way.
    cached = sys.modules.get("google")
    if cached is not None:
        vendor_google = os.path.join(_VENDOR, "google")
        paths = list(getattr(cached, "__path__", []) or [])
        if vendor_google not in paths:
            try:
                cached.__path__.append(vendor_google)
            except Exception:  # noqa: BLE001 - frozen/odd module: rebuild
                del sys.modules["google"]
    sys.modules.pop("google.protobuf", None)
    import google.protobuf  # noqa: F401 - the fallback

    PROTOBUF_MODE = "fallback"
    return PROTOBUF_MODE


def _ship_fallback(spark) -> None:
    """transformWithState's state client runs in the EXECUTOR Python
    workers, which import the pb2 module there — ship the fallback
    package as a py-file so worker sys.path can resolve it. No-op on
    a machine with real protobuf installed."""
    global _SHIPPED_ZIP
    if ensure_protobuf() != "fallback":
        return
    if _SHIPPED_ZIP is None:
        import tempfile
        import zipfile

        fd, zpath = tempfile.mkstemp(suffix="_protofallback.zip")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as z:
            pkg = os.path.join(_VENDOR, "google")
            for root, _, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, _VENDOR))
        _SHIPPED_ZIP = zpath
    try:
        spark.sparkContext.addPyFile(_SHIPPED_ZIP)
    except Exception:  # noqa: BLE001 - already registered on this ctx
        pass
    # The TWS *driver worker* is a separate process the JVM launches
    # with the env vars captured into the Python function at UDF
    # creation (sc.environment) — os.environ["PYTHONPATH"] only helps
    # when it was set before the JVM started. Injecting the vendor
    # dir into sc.environment here covers sessions that were already
    # running when the fallback was installed.
    # NOTE: consult only sc.environment here — os.environ already
    # carries the vendor (ensure_protobuf set it), but the worker
    # factory merges sc.environment with the JVM's STARTUP env, and
    # when the JVM predates the fallback install only this dict can
    # still deliver the path.
    env = spark.sparkContext.environment
    existing = env.get("PYTHONPATH", "")
    if _VENDOR not in existing.split(os.pathsep):
        env["PYTHONPATH"] = (
            _VENDOR + os.pathsep + existing if existing else _VENDOR
        )


try:  # Spark >= 4.0; protobuf is the state-server wire protocol —
    # real package when installed, else the vendored fallback above.
    ensure_protobuf()
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    HAS_TWS = True
except ImportError:  # pragma: no cover - Spark < 4
    StatefulProcessor = object  # type: ignore[assignment,misc]
    StatefulProcessorHandle = None  # type: ignore[assignment,misc]
    HAS_TWS = False

RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
    ]
)


class RunningTotalsProcessor(StatefulProcessor):
    """Per-key running (count, sum): emits the updated totals once per
    key per micro-batch. State is one ValueState row per key, with TTL
    when the caller configures it."""

    def __init__(self, ttl_ms: int | None = None) -> None:
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "totals", _STATE_SCHEMA, ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n, s = 0, 0.0
        if self._state.exists():
            prev = self._state.get()
            n, s = int(prev[0]), float(prev[1])
        for pdf in rows:
            n += len(pdf)
            s += float(pdf["value"].sum())
        self._state.update((n, s))
        yield pd.DataFrame(
            {"key": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    def close(self) -> None:
        pass


def running_totals(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming per-key running totals via transformWithStateInPandas.
    Works on a streaming DataFrame; each micro-batch emits the new
    running (count, sum) for every key it touched."""
    from pyspark.sql import functions as F

    _ship_fallback(events.sparkSession)
    prepared = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return prepared.groupBy("key").transformWithStateInPandas(
        statefulProcessor=RunningTotalsProcessor(ttl_ms),
        outputStructType=RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


TOPK_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("topk", T.StringType()),
    ]
)


class TopKDistinctProcessor(StatefulProcessor):
    """Per-key running top-k DISTINCT values, kept in a ListState.

    Dropping everything below the current k-th largest is lossless for
    a running top-k: the retained k values all stay present, so any
    dropped (strictly smaller) value can never re-enter the top-k.
    State is therefore bounded at k rows per key — the canonical
    bounded-state streaming summary.

    Protocol coverage: ListState get/clear/put + string-schema
    parsing (UtilsRequest.ParseStringSchema on the server side).
    Output: one (key, "v1,v2,..." desc CSV) row per key per
    micro-batch that touched it.
    """

    def __init__(self, k: int = 3) -> None:
        self._k = k

    def init(self, handle: StatefulProcessorHandle) -> None:
        # string schema on purpose: exercises the parse-string-schema
        # round trip of the state protocol
        self._vals = handle.getListState("vals", "v BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        cur = {int(t[0]) for t in self._vals.get()}
        for pdf in rows:
            cur.update(int(v) for v in pdf["value"])
        top = sorted(cur, reverse=True)[: self._k]
        self._vals.clear()
        self._vals.put([(v,) for v in top])
        yield pd.DataFrame(
            {"key": [key[0]], "topk": [",".join(map(str, top))]}
        )

    def close(self) -> None:
        pass


def topk_distinct(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    k: int = 3,
) -> DataFrame:
    """Streaming per-key running top-k distinct integer values via
    transformWithStateInPandas ListState."""
    from pyspark.sql import functions as F

    _ship_fallback(events.sparkSession)
    # null values would raise int(None) inside the processor (ADVICE
    # r04): a null contributes nothing to a top-k, so define the
    # behavior as drop-before-state.
    prepared = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("long").alias("value"),
    ).where(F.col("value").isNotNull())
    return prepared.groupBy("key").transformWithStateInPandas(
        statefulProcessor=TopKDistinctProcessor(k),
        outputStructType=TOPK_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


BUCKETS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_buckets", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


class BucketCountProcessor(StatefulProcessor):
    """Per-key MapState: bucket -> event count; emits (key, #distinct
    buckets seen, total events) after each micro-batch that touched
    the key. State is bounded by the bucket-id domain per key.

    Protocol coverage: MapState getValue/containsKey/updateValue/keys
    (the userKey-bearing message family of the state protocol)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._m = handle.getMapState("buckets", "bucket BIGINT", "cnt BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        for pdf in rows:
            for b, n in pdf.groupby("bucket").size().items():
                b = int(b)
                prev = (
                    self._m.getValue((b,))
                    if self._m.containsKey((b,))
                    else (0,)
                )
                self._m.updateValue((b,), (int(prev[0]) + int(n),))
        counts = [int(v[0]) for v in self._m.values()]
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_buckets": [len(counts)],
                "n_events": [sum(counts)],
            }
        )

    def close(self) -> None:
        pass


def bucket_counts(
    events: DataFrame,
    key_col: str = "event_type",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Streaming per-key distinct-bucket tracker via
    transformWithStateInPandas MapState."""
    from pyspark.sql import functions as F

    _ship_fallback(events.sparkSession)
    # null buckets would raise int(None) in the processor (ADVICE
    # r04) — defined behavior: dropped before entering state.
    prepared = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(bucket_col).cast("long").alias("bucket"),
    ).where(F.col("bucket").isNotNull())
    return prepared.groupBy("key").transformWithStateInPandas(
        statefulProcessor=BucketCountProcessor(),
        outputStructType=BUCKETS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


SESSION_FLUSH_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("end_ms", T.LongType()),
    ]
)

_SESS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("timer_ms", T.LongType()),
    ]
)


class SessionFlushProcessor(StatefulProcessor):
    """Per-key gap sessionization with EVENT-TIME timers: a session is
    a maximal run of events with inter-arrival ≤ gap. Sessions closed
    BY DATA (the next event jumps the gap) are emitted inline from
    ``handleInputRows``; the last, still-open session of a key is
    emitted by ``handleExpiredTimer`` when the WATERMARK passes
    last_event + gap — the classic inactivity flush, and the only
    correct way to close a session nobody sends events to again.

    Emission CONTENT is batch-schedule independent as long as batches
    are event-time ordered (the replay uses an ntile-over-ts batch
    assignment): a session is emitted exactly once as
    (key, n_events, end_ms), whether the gap was detected inline or a
    mid/end-of-stream timer fired — which is what makes an exact SQL
    oracle possible: every session except each key's last, plus the
    last iff end_ms + gap ≤ final watermark.

    Protocol coverage: handleExpiredTimer + ExpiredTimerRequest /
    StateResponseWithTimer — the state-protocol family nothing else
    exercises. The state carries its own registered-timer timestamp so
    re-registration deletes the stale timer (one live timer per key).
    """

    def __init__(self, gap_ms: int) -> None:
        self._gap = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._h = handle
        self._s = handle.getValueState("sess", _SESS_STATE)

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        batch = pd.concat(list(rows))
        ts_sorted = sorted(int(t) for t in batch["ts_ms"])
        if self._s.exists():
            n, last, timer = (int(x) for x in self._s.get())
        else:
            n, last, timer = 0, None, None
        flushed = []
        for ts in ts_sorted:
            if n > 0 and ts - last > self._gap:
                flushed.append((key[0], n, last))
                n = 0
            n += 1
            last = ts
        if timer is not None:
            self._h.deleteTimer(timer)
        new_timer = last + self._gap
        self._h.registerTimer(new_timer)
        self._s.update((n, last, new_timer))
        if flushed:
            yield pd.DataFrame(
                flushed, columns=["key", "n_events", "end_ms"]
            )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd

        if self._s.exists():
            n, last, timer = (int(x) for x in self._s.get())
            # only honor the timer the state believes is live — a
            # stale fire (should be deleted, but belt-and-braces)
            # must not double-emit
            if n > 0 and expiredTimerInfo.getExpiryTimeInMs() == timer:
                self._s.clear()
                yield pd.DataFrame(
                    [(key[0], n, last)],
                    columns=["key", "n_events", "end_ms"],
                )

    def close(self) -> None:
        pass


def session_flush(
    events: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    gap_ms: int = 3_600_000,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming gap sessionization with inactivity flush via
    event-time timers. ``events`` needs an event-time TIMESTAMP column
    (watermarked here) and the key column; the ms epoch used for gap
    arithmetic is derived to match SQL's epoch-µs//1000."""
    from pyspark.sql import functions as F

    _ship_fallback(events.sparkSession)
    prepared = (
        events.withColumn(
            # TIMESTAMP_NTZ-safe epoch-ms: cast through TIMESTAMP (the
            # session is pinned to UTC, so NTZ->TZ is the identity)
            "ts_ms",
            F.floor(
                F.unix_micros(F.col(ts_col).cast("timestamp")) / 1000
            ).cast("long"),
        )
        .select(
            F.col(key_col).cast("string").alias("key"),
            # watermarks require TIMESTAMP (not NTZ); UTC session
            # makes the cast the identity
            F.col(ts_col).cast("timestamp").alias(ts_col),
            "ts_ms",
        )
        # a null event time cannot place in any session — without
        # this drop it reaches the processor as NaN and int(NaN)
        # kills the query (same ADVICE-r04 guard class as the
        # topk/bucket wrappers)
        .where(F.col("ts_ms").isNotNull())
        .withWatermark(ts_col, watermark)
    )
    return prepared.groupBy("key").transformWithStateInPandas(
        statefulProcessor=SessionFlushProcessor(gap_ms),
        outputStructType=SESSION_FLUSH_SCHEMA,
        outputMode="Update",
        timeMode="EventTime",
    )
