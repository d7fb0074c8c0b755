"""Event-sequence operators: Markov transition matrices and
id-sequence gap detection.

Product-analytics staples over the ``events`` stream shape. Both are
single-window dataflows: partition by the sequence key, order by
(time, unique id) — the unique tiebreak makes every window
deterministic across engines and partitionings (ROUND_NOTES.md #6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from det_module_spark.operators.ids import by_pid, exclusive_prefix, ordered_scan


def _transition_counts(
    events: DataFrame, key: str, state: str, ts: str, tiebreak: str
) -> DataFrame:
    """Shared pair extraction for the two transition-matrix variants:
    (from_state, to_state, n) via one lead window over the per-key
    sequence + one hash aggregation. Kept in ONE place so the pair
    semantics (ordering tiebreak, final-event drop) cannot diverge
    between the float and ppm outputs."""
    w = Window.partitionBy(key).orderBy(F.asc(ts), F.asc(tiebreak))
    return (
        events.select(
            F.col(state).alias("from_state"),
            F.lead(state).over(w).alias("to_state"),
        )
        .filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def event_transitions(
    events: DataFrame,
    key: str = "user_id",
    state: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
    prob_digits: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: → (from_state, to_state, n, p) where p = n / Σn over
    the from_state row, rounded once (exact-int inputs).

    Shape: one window (lead over the per-key sequence) + one hash
    aggregation keyed by the state pair — the matrix is |states|²
    regardless of event volume; the shuffle is the window's hash
    exchange on ``key``."""
    pairs = _transition_counts(events, key, state, ts, tiebreak)
    tot = Window.partitionBy("from_state")
    scale = F.lit(float(10**prob_digits))
    p = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    return pairs.select(
        "from_state",
        "to_state",
        "n",
        (F.floor(p * scale + F.lit(0.5)) / scale).alias("p"),
    )


def sequence_gaps(
    df: DataFrame,
    id_col: str,
    group: str | None = None,
) -> DataFrame:
    """Find holes in an integer id sequence: → (group?, gap_start,
    gap_end, gap_len) for every maximal run of missing ids between
    observed neighbors. The audit for "did ingestion drop rows?"
    when upstream assigns monotone ids.

    Gap columns are always BIGINT (ids are cast to long in both
    paths — one output contract regardless of the input id width).
    Both paths pair each distinct id with its predecessor by a ``lag``
    window in exact long arithmetic.

    Grouped: one per-``group`` lag window (hash-partitioned, scale-
    safe). Ungrouped: a global lag window would collapse onto one
    partition, so the distinct ids go through the shared ordered scan
    (``ids.ordered_scan``: range layout on the id, pinned) and the lag
    runs per pinned partition. Each partition's first id is seeded
    with the max id of the nearest earlier non-empty partition (the
    scan's per-partition max, prefix-maxed on the driver), so gaps
    that straddle a partition boundary are found in the same pass.
    The output depends only on the id set, not on the layout.
    """
    keys = [group] if group else []
    ids = df.select(*keys, F.col(id_col).cast("long").alias("id")).distinct()
    if group:
        prev = F.lag("id").over(Window.partitionBy(group).orderBy("id"))
    else:
        ids, parts = ordered_scan(ids, ["id"], F.max("id").alias("hi"))
        ids = ids.withColumn("__pid", F.spark_partition_id())
        seed = by_pid(exclusive_prefix(parts, "hi", max), F.col("__pid"))
        prev = F.coalesce(
            F.lag("id").over(Window.partitionBy("__pid").orderBy("id")),
            seed,
        )
    return (
        ids.withColumn("prev", prev)
        .filter(F.col("id") - F.col("prev") > 1)
        .select(
            *keys,
            (F.col("prev") + 1).alias("gap_start"),
            (F.col("id") - 1).alias("gap_end"),
            (F.col("id") - F.col("prev") - 1).alias("gap_len"),
        )
    )


def transition_matrix_ppm(
    events: DataFrame,
    key: str = "user_id",
    state: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Integer first-order transition matrix: → (from_state, to_state,
    p_ppm) with p_ppm = n·10⁶ div Σn over the from_state row — the
    exact-integer sibling of ``event_transitions`` that
    ``markov_power`` can raise to the k-th power without float
    accumulation. One window + one agg; the matrix is |states|²."""
    pairs = _transition_counts(events, key, state, ts, tiebreak)
    tot = Window.partitionBy("from_state")
    return pairs.select(
        "from_state",
        "to_state",
        F.expr("n * 1000000 div sum(n) over (partition by from_state)")
        .alias("p_ppm"),
    )


def markov_power(trans: DataFrame, k: int) -> DataFrame:
    """P^k for a ppm transition matrix by join-based exponentiation:
    squaring is the matrix self-join P²(a,b) = Σ_m P(a,m)·P(m,b),
    carried in integer ppm (terms multiply to ppm², the row sum stays
    inside int64 for any real state count, one ``div 10⁶`` per
    squaring; the ≤1-ppm truncation per squaring is documented and
    deterministic). k must be a power of two — each squaring is one
    equi-join on the shared mid-state plus one hash agg, so the whole
    power is log₂k shuffles over |states|²-sized frames, independent
    of event volume.

    "Where does a user end up after k steps?" — the k-step reach
    matrix behind churn-path and funnel-escape analyses.

    SUBSTOCHASTIC semantics, by construction: a state observed only
    as a destination (a terminal — e.g. the churn/exit event) has no
    outgoing row, so the mid-state join drops every path through it
    and a row's P^k mass can sum below 10⁶ by exactly the
    mass absorbed at terminals within k steps (plus the documented
    ≤1-ppm truncation per squaring). That is the standard
    hitting-probability reading ("still transitioning after k
    steps"); for ABSORBING semantics instead, union an identity row
    (t, t, 10⁶) for each terminal state into ``trans`` before
    powering.
    """
    if k < 1 or (k & (k - 1)) != 0:
        raise ValueError("k must be a power of two")
    out = trans
    steps = k.bit_length() - 1
    for _ in range(steps):
        a = out.alias("a")
        b = out.alias("b")
        out = (
            a.join(b, F.col("a.to_state") == F.col("b.from_state"))
            .groupBy(
                F.col("a.from_state").alias("from_state"),
                F.col("b.to_state").alias("to_state"),
            )
            .agg(
                F.expr("CAST(sum(a.p_ppm * b.p_ppm) div 1000000 AS BIGINT)")
                .alias("p_ppm")
            )
        )
    return out
