"""Ordered scans over the whole table without a global window.

``ROW_NUMBER() OVER (ORDER BY key)`` is the classic surrogate-key
recipe and the classic scale trap: an empty-partition-spec window
collapses the whole table onto ONE task. Every operator here that
needs a running quantity in global key order (dense ids, ntile,
cumulative sums; also ``chunking.pack_sequences``, ``skyline.skyline``
and ``sequence.sequence_gaps``) runs the one distributed equivalent,
:func:`ordered_scan`:

1. range-partition by the order key and sort within partitions — the
   standard total-order layout (same machinery as ``orderBy``, no
   single-task stage). No partition number is given: AQE coalesces
   adjacent range partitions by size, so a small input is one
   partition and a large one splits by data volume;
2. pin the layout and collect one summary row per partition
   (#partitions rows — control plane);
3. fold the summaries into a per-partition carry on the driver
   (:func:`exclusive_prefix`) and finish each partition locally.

The result depends only on the global key order, not on partition
boundaries, so it is deterministic at any parallelism — PROVIDED the
order key is unique (ties could straddle a range boundary and would
then be enumerated in partition-dependent order; use a composite key
to break ties, as with ``shard_plan``).
"""

from __future__ import annotations

from operator import add

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ordered_scan(
    df: DataFrame, order: list[str], *aggs: Column
) -> tuple[DataFrame, list]:
    """Range partition ``df`` on ``order``, sort within partitions and
    PIN the layout (the range partitioner re-samples per action — the
    summary job and the consumer job must see IDENTICAL partitions),
    then collect one summary Row per partition: its row count ``n``
    and each of ``aggs``.

    Returns ``(pinned, parts)``: ``parts[pid]`` is partition ``pid``'s
    summary, or None when that partition is empty. The list stops at
    the last non-empty partition: any later partition is empty, and
    the final carry of :func:`exclusive_prefix` is its carry."""
    pinned = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .localCheckpoint(eager=True)
    )
    rows = (
        pinned.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
        .collect()
    )
    parts = [None] * (1 + max((r["pid"] for r in rows), default=-1))
    for r in rows:
        parts[r["pid"]] = r
    # one range partition must stay under 2^33 rows: _jvm_rank packs
    # (pid << 33) | row, and past the cap the row counter bleeds into
    # the pid bits and ranks corrupt SILENTLY. Fail loudly with the fix.
    biggest = max((r["n"] for r in rows), default=0)
    if biggest >= 1 << 33:
        raise ValueError(
            f"range layout holds {biggest} rows in one partition, "
            ">= 2^33 — lower spark.sql.adaptive.advisoryPartitionSizeInBytes "
            "(or raise spark.sql.shuffle.partitions) so the range splits"
        )
    return pinned, parts


def exclusive_prefix(parts, field: str, op, start=None) -> list:
    """``op`` folded over ``field`` of the partitions before each one:
    entry ``pid`` is the carry into partition ``pid`` and the extra last
    entry folds them all. Empty partitions and NULL fields carry
    through unchanged; with ``start=None`` the carry stays None until
    the first value."""
    acc, out = start, []
    for p in parts:
        out.append(acc)
        v = None if p is None else p[field]
        if v is not None:
            acc = v if acc is None else op(acc, v)
    return out + [acc]


def by_pid(values: list, pid: Column) -> Column:
    """The entry of ``values`` for each row's partition id ``pid``."""
    return F.element_at(F.array(*[F.lit(v) for v in values]), pid + 1)


def _jvm_rank(pinned: DataFrame, offsets: list[int], out: str):
    """Rank over a PINNED sorted range layout, entirely JVM-side:
    ``monotonically_increasing_id`` encodes (partition id << 33) |
    in-partition row number over the checkpointed partitions, so the
    global rank is offsets[pid] + low bits — no Python crossing of the
    dataset (a mapInPandas enumerator ships every row through a Python
    worker). The nondeterministic id is materialized once in its own
    projection (multiple references are multiple stateful instances;
    see global_ntile's note). ``ordered_scan`` enforces the 2^33-row
    partition cap of the bit split."""
    staged = pinned.withColumn("__mid", F.monotonically_increasing_id())
    pid = F.shiftrightunsigned(F.col("__mid"), 33).cast("int")
    local = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    return staged.withColumn(
        out, (by_pid(offsets, pid) + local).cast("long")
    ).drop("__mid")


def dense_ids(
    df: DataFrame,
    order_col: str | list[str],
    out: str = "row_id",
) -> DataFrame:
    """Assign contiguous ids 0..n-1 in ``order_col`` order (which must
    be unique; pass a list for a composite total order). Two jobs: the
    :func:`ordered_scan` summary that sizes the range partitions, and
    the enumerated result (pure Column arithmetic, see ``_jvm_rank``)."""
    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    pinned, parts = ordered_scan(df, cols)
    return _jvm_rank(pinned, exclusive_prefix(parts, "n", add, 0), out)


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int,
    out: str = "bucket",
) -> DataFrame:
    """``NTILE(k) OVER (ORDER BY ...)`` without the single-partition
    global window — the distributed exact equi-depth bucketer.

    An empty-partition-spec ``ntile`` collapses the whole table onto
    one task (Spark's "No Partition Defined" scale killer). But the
    bucket of a row is pure arithmetic on its global rank: with
    n rows, k buckets, q = n div k, rem = n mod k, the SQL-standard
    ntile gives the first ``rem`` buckets q+1 rows and the rest q, so
    for 0-based rank r:

        bucket = r div (q+1) + 1                      if r < rem·(q+1)
        bucket = rem + (r − rem·(q+1)) div q + 1      otherwise

    The rank comes from the pinned range layout entirely JVM-side
    (``_jvm_rank``: r = driver-side offset[pid] + the low bits of
    ``monotonically_increasing_id``). The nondeterministic id is
    materialized ONCE in its own projection: each reference is a
    separate stateful instance, and a reference inside a when/otherwise
    branch would silently desync its per-row counter on
    short-circuited rows (observed, and pinned by the randomized
    equivalence test in tests/test_scale_windows.py).

    All rank arithmetic is exact: ranks are int64 and the divisions
    are SQL ``div`` (true integer division — the float
    (x − x % d) / d identity is only exact below 2^53).
    Equivalence to ``F.ntile`` over the same total order is
    pytest-proven on randomized (n, k). ``order_cols`` must form a
    total order (unique composite) so ranks — and therefore
    buckets — are partition-independent.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    pinned, parts = ordered_scan(df, list(order_cols))
    offsets = exclusive_prefix(parts, "n", add, 0)
    n_total = offsets[-1]
    q, rem = divmod(n_total, n_buckets)
    pivot = rem * (q + 1)  # first rank served by a size-q bucket
    qq = max(q, 1)

    staged = _jvm_rank(pinned, offsets, "__r")
    # SQL `div` is true int64 division — the (x − x%d)/d float form
    # is only exact below 2^53, and this module's contract is exact
    # ranks at any size
    bucket = F.expr(
        f"CAST(CASE WHEN __r < {pivot}L THEN __r div {q + 1}L + 1 "
        f"ELSE {rem}L + greatest(__r - {pivot}L, 0L) div {qq}L + 1 "
        f"END AS INT)"
    )
    return staged.withColumn(out, bucket).drop("__r")


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out: str = "cumsum",
    inclusive: bool = True,
) -> DataFrame:
    """``SUM(value) OVER (ORDER BY ...)`` without the single-partition
    global window — the distributed exact prefix sum over
    :func:`ordered_scan` (``order_cols`` a total order — unique
    composite): per-partition value totals become driver-side
    exclusive offsets, and a window partitioned by the MATERIALIZED
    partition id (never an empty partition spec — each window
    partition is one range partition, bounded by the layout) gives the
    within-partition prefix; offset + prefix is the global cumulative
    sum.

    ``inclusive=False`` returns the exclusive prefix (sum of strictly
    earlier rows). ``value_col`` must be integral for an exact
    result (the contract of this module); the per-partition window
    sum is long arithmetic.
    """
    pinned, parts = ordered_scan(
        df, order_cols, F.sum(value_col).cast("long").alias("s")
    )
    offsets = exclusive_prefix(parts, "s", add, 0)
    frame = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = F.coalesce(
        F.sum(F.col(value_col)).over(frame).cast("long"), F.lit(0)
    )
    return (
        pinned.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            out, (by_pid(offsets, F.col("__pid")) + local).cast("long")
        )
        .drop("__pid")
    )
