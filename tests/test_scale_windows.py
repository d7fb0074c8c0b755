"""Equivalence tests for the distributed replacements of data-sized
unpartitioned windows (VERDICT r05 "What's wrong #1"):

- ids.global_ntile ≡ F.ntile over the same total order — randomized
  (n, k) including n < k, n % k == 0, and tie-heavy value columns;
- sequence_gaps(group=None) ≡ the global-lag reference, including
  gaps that straddle range-partition boundaries;
- equidepth_histogram(group=None) ≡ the single-group windowed path.

These pin the contract that let the rewrites ship hash-identical:
the outputs depend only on the total order, never on partitioning.
"""

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from det_module_spark.operators.ids import global_ntile


def _ntile_reference(spark, rows, k):
    df = spark.createDataFrame(rows, "v int, tb int")
    w = Window.orderBy(F.asc("v"), F.asc("tb"))
    return {
        (r["v"], r["tb"]): r["b"]
        for r in df.withColumn("b", F.ntile(k).over(w)).collect()
    }


def test_global_ntile_matches_window_ntile(spark, partitions):
    rng = random.Random(42)
    for n, k in [(1, 1), (5, 8), (8, 8), (40, 8), (97, 8), (1000, 7),
                 (64, 4), (3, 2)]:
        # tie-heavy values; tb unique -> total order
        rows = [(rng.randrange(max(2, n // 5)), i) for i in range(n)]
        rng.shuffle(rows)
        want = _ntile_reference(spark, rows, k)
        df = spark.createDataFrame(rows, "v int, tb int")
        with partitions(5):
            got = {
                (r["v"], r["tb"]): r["bucket"]
                for r in global_ntile(df, ["v", "tb"], k).collect()
            }
        assert got == want, (n, k)


def test_dense_ids_composite_order(spark, partitions):
    """dense_ids with a multi-column total order: ids follow the
    composite (v, tb) order and are partition-count invariant."""
    from det_module_spark.operators.ids import dense_ids

    rng = random.Random(11)
    rows = [(rng.randrange(7), i) for i in range(200)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "v int, tb int")
    want = {
        kv: i for i, kv in enumerate(sorted(rows))
    }
    for p in (1, 5, 32):
        with partitions(p):
            got = {
                (r["v"], r["tb"]): r["row_id"]
                for r in dense_ids(df, ["v", "tb"]).collect()
            }
        assert got == want, p


def test_global_ntile_rejects_bad_k(spark):
    import pytest

    df = spark.createDataFrame([(1, 1)], "v int, tb int")
    with pytest.raises(ValueError):
        global_ntile(df, ["v", "tb"], 0)


def test_sequence_gaps_ungrouped_matches_reference(spark, partitions):
    from det_module_spark.operators.sequence import sequence_gaps

    rng = random.Random(7)
    # sparse ids with guaranteed boundary-straddling holes under a
    # small partition count
    ids = sorted(rng.sample(range(0, 5000), 180))
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    with partitions(7):
        got = sorted(map(tuple, sequence_gaps(df, "event_id").collect()))
    want = []
    for a, b in zip(ids, ids[1:]):
        if b - a > 1:
            want.append((a + 1, b - 1, b - a - 1))
    assert got == want


def test_sequence_gaps_partition_count_invariant(spark, partitions):
    from det_module_spark.operators.sequence import sequence_gaps

    ids = [0, 1, 5, 6, 7, 100, 101, 200]
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    runs = []
    for p in (1, 3, 32):
        with partitions(p):
            runs.append(
                sorted(map(tuple, sequence_gaps(df, "event_id").collect()))
            )
    assert runs[0] == runs[1] == runs[2] == [
        (2, 4, 3),
        (8, 99, 92),
        (102, 199, 98),
    ]


def test_sequence_gaps_exact_above_2_53(spark, partitions):
    """Snowflake-scale 64-bit ids: the per-partition scan must use
    exact int64 arithmetic — pandas diff/shift would round through
    float64 (resolution 128 near 2^60) and misplace or drop gaps."""
    from det_module_spark.operators.sequence import sequence_gaps

    base = 2**60
    ids = [base, base + 3, base + 4, base + 131]
    df = spark.createDataFrame([(i,) for i in ids], "event_id long")
    with partitions(2):
        got = sorted(map(tuple, sequence_gaps(df, "event_id").collect()))
    assert got == [
        (base + 1, base + 2, 2),
        (base + 5, base + 130, 126),
    ]


def test_equidepth_ungrouped_matches_grouped_single_group(spark):
    from det_module_spark.operators.profile import equidepth_histogram

    rng = random.Random(3)
    rows = [(rng.randrange(50), i) for i in range(333)]
    df = spark.createDataFrame(rows, "v int, k int")
    got = sorted(
        map(tuple, equidepth_histogram(df, "v", "k", 8).collect())
    )
    g = df.withColumn("g", F.lit(1))
    want = sorted(
        (r["bucket"], r["n"], r["min_val"], r["max_val"])
        for r in equidepth_histogram(g, "v", "k", 8, group="g").collect()
    )
    assert got == want


def test_no_unpartitioned_window_in_fixed_plans(spark):
    """The three rewritten queries must not contain a Window node with
    an empty partition spec anywhere in their optimized plans. Uses
    the same robust JVM-side partitionSpec().isEmpty() walker as the
    global scale-audit gate (test_scale_audit.py) — a string heuristic
    false-negatives on ORDER BY expressions containing commas."""
    from test_scale_audit import _unpartitioned_window_nodes

    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ("woe_bins", "sequence_gaps", "equidepth_hist"):
        df = qs[name](spark, "/root/testdata/sf0.001")
        nodes = _unpartitioned_window_nodes(df)
        assert not nodes, f"{name}: unpartitioned window:\n{nodes}"


def test_ordered_scan_operators_with_empty_partitions(spark, partitions):
    """Fewer distinct keys than forced partitions leaves range
    partitions empty (the range bounds are the distinct keys, so the
    partition after the last bound is empty). Each ordered-scan operator returns the same
    rows there as on the one-partition layout. Rows tied on the key are
    identical, so every output is a layout-independent multiset; the
    carry past an empty partition in the middle is checked on
    ``exclusive_prefix`` directly, since a range layout leaves none."""
    from collections import Counter
    from operator import add

    from det_module_spark.operators.chunking import pack_sequences
    from det_module_spark.operators.ids import (
        dense_ids,
        exclusive_prefix,
        global_cumsum,
        global_ntile,
        ordered_scan,
    )
    from det_module_spark.operators.sequence import sequence_gaps
    from det_module_spark.operators.skyline import skyline

    parts = [{"n": 2, "m": 4}, None, {"n": 3, "m": 1}, None]
    assert exclusive_prefix(parts, "n", add, 0) == [0, 2, 2, 5, 5]
    assert exclusive_prefix(parts, "m", max) == [None, 4, 4, 4, 4]

    rows = [(k, k % 4, " ".join(["w"] * (k + 1))) for k in (0, 5, 9) * 40]
    df = spark.createDataFrame(rows, "k long, v long, text string")
    ops = {
        "dense_ids": lambda: dense_ids(df.select("k"), "k"),
        "global_ntile": lambda: global_ntile(df.select("k"), ["k"], 7),
        "global_cumsum": lambda: global_cumsum(df.select("k", "v"), ["k"], "v"),
        "pack_sequences": lambda: pack_sequences(
            df.withColumnRenamed("k", "doc_id"), budget=8, part_col=None
        ),
        "skyline": lambda: skyline(df, "k", "v"),
        "sequence_gaps": lambda: sequence_gaps(df, "k"),
    }

    def run(p):
        with partitions(p):
            pinned, layout = ordered_scan(df, ["k"])
            sizes = [p and p["n"] for p in layout]
            sizes += [None] * (pinned.rdd.getNumPartitions() - len(layout))
            return sizes, {n: Counter(map(tuple, op().collect())) for n, op in ops.items()}

    one_layout, want = run(1)
    layout, got = run(16)
    assert one_layout == [120] and layout == [40, 40, 40, None]
    for name in ops:
        assert got[name] == want[name], name
    assert sorted(want["sequence_gaps"]) == [(1, 4, 4), (6, 8, 3)]
