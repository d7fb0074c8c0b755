"""Skyline (Pareto frontier) query: the rows not dominated in the
(minimize x, maximize y) plane.

The textbook SQL form — ``NOT EXISTS (SELECT ... WHERE x' <= x AND
y' >= y AND (x' < x OR y' > y))`` — is an O(n²) self-join; the
textbook single-node form is one pass over an x-sorted stream keeping
the running max of y. The distributed version keeps the one-pass idea
without a global window, over the shared ordered scan
(``operators/ids.ordered_scan``):

1. range-partition by x and sort within partitions — the standard
   total-order layout; equal x values land in ONE partition (the range
   partitioner assigns by key), so cross-partition state reduces to a
   single scalar per partition;
2. the scan's summary job: per-partition max(y), prefix-maxed on the
   driver (``ids.exclusive_prefix``), giving each partition the best y
   among ALL strictly-cheaper partitions;
3. an Arrow-batched pass per partition. A row survives iff its y
   beats the running max of y over strictly-smaller x (partition
   prefix ∪ earlier groups in the partition) AND it holds the max y of
   its own x-group (ties on both dims all survive — neither dominates).
   Within a partition only x order matters: a group's max comes from
   ``_emit_groups``, not from the row order.

Scale shape: one range exchange + one tiny collect + one map — no
self-join, no global single-task stage. Caveat shared with dense_ids:
a heavily skewed x (one value = half the corpus) concentrates that
value's rows in one range partition; the per-batch pass only ever
buffers one x-group, so memory tracks the largest tie group, not the
partition.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from det_module_spark.operators.ids import exclusive_prefix, ordered_scan


def skyline(df: DataFrame, x: str, y: str) -> DataFrame:
    """Rows of ``df`` on the Pareto frontier minimizing ``x`` while
    maximizing ``y`` (negate a column to flip its direction). Rows
    with a NULL in either dimension are not comparable and are
    dropped. Duplicate (x, y) points on the frontier all survive."""
    clean = df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
    pinned, parts = ordered_scan(clean, [x], F.max(y).alias("m"))
    prefix = exclusive_prefix(parts, "m", max)

    def scan(iterator):
        from pyspark import TaskContext

        # best y among strictly smaller x (all earlier partitions;
        # the last carry is that of every empty partition after them)
        run_max = prefix[min(TaskContext.get().partitionId(), len(prefix) - 1)]
        pending = None  # buffered rows of the (possibly open) x-group
        for pdf in iterator:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if len(pdf) == 0:
                pending = None
                continue
            last_x = pdf[x].iloc[-1]
            closed = pdf[pdf[x] != last_x]
            pending = pdf[pdf[x] == last_x]
            if len(closed):
                yield _emit_groups(closed, x, y, run_max)
                top = closed[y].max()
                if run_max is None or top > run_max:
                    run_max = top
        if pending is not None and len(pending):
            yield _emit_groups(pending, x, y, run_max)

    return pinned.mapInPandas(scan, schema=pinned.schema)


def _emit_groups(pdf: pd.DataFrame, x: str, y: str, run_max) -> pd.DataFrame:
    """Filter a frame of COMPLETE x-groups (sorted x asc) to its
    skyline rows given the running max of y over strictly-smaller x.

    The prev-group running max stays in the column's OWN dtype:
    ``cummax().shift(1)`` would route int64 y through float64 (shift
    inserts NaN), and above 2^53 a true frontier row with
    y = prev_max + 1 rounds onto prev_max and the strict ``>`` drops
    it — the same hazard sequence_gaps documents for pandas
    diff/shift. A boolean has-predecessor mask replaces the NaN
    sentinel instead."""
    import numpy as np

    gmax = pdf.groupby(x, sort=False)[y].transform("max")
    # running max over groups strictly before each row's group,
    # dtype-preserving (no shift/NaN)
    per_group = pdf.groupby(x, sort=True)[y].max()
    vals = per_group.to_numpy()
    acc = np.maximum.accumulate(vals)
    prev_vals = np.empty_like(vals)
    prev_vals[1:] = acc[:-1]
    has_prev = np.ones(len(vals), dtype=bool)
    if run_max is not None:
        prev_vals[0] = run_max
        prev_vals = np.maximum(prev_vals, run_max)
    else:
        prev_vals[0] = vals[0]  # placeholder, masked by has_prev
        has_prev[0] = False
    m1 = pdf[x].map(pd.Series(prev_vals, index=per_group.index))
    h1 = pdf[x].map(pd.Series(has_prev, index=per_group.index))
    beats_cheaper = ~h1 | (pdf[y] > m1)
    holds_group = pdf[y] == gmax
    return pdf[beats_cheaper & holds_group]
