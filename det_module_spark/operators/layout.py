"""Data-layout keys: Morton (Z-order) interleaving for multi-column
clustering.

At 100 TB, sorting a table by a single column only prunes scans that
filter on that column. Writing files ordered by the Morton key of two
(or more) dimension columns gives every file a tight min/max range on
BOTH dimensions, so parquet row-group statistics prune 2-D range
queries (the technique behind Delta/Iceberg ``ZORDER BY``). The key
itself is pure integer bit arithmetic — codegen'd Column expressions,
no shuffle beyond the final write-time sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# magic masks that spread a 16-bit value's bits into the even bit
# positions of a 32-bit word (classic interleave-by-shifts)
_SPREAD_STEPS = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def spread_bits16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` to even bit positions (bits of
    the result at odd positions are 0)."""
    c = c.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def morton_key(x: Column, y: Column) -> Column:
    """Interleave the low 16 bits of ``x`` and ``y`` into a 32-bit
    Z-order key: bit i of x lands at position 2i, bit i of y at 2i+1.
    Lexicographic order on the key is Z-curve order on (x, y)."""
    return spread_bits16(x).bitwiseOR(F.shiftleft(spread_bits16(y), 1))


def morton_sql(x_expr: str, y_expr: str) -> str:
    """The identical interleave as a SQL scalar expression (DuckDB /
    ANSI bit operators) — used by the oracle so both engines compute
    the key with the same arithmetic."""

    def spread(e: str) -> str:
        e = f"(({e}) & 65535)"
        for shift, mask in _SPREAD_STEPS:
            e = f"((({e} | ({e} << {shift})) & {mask}))"
        return e

    return f"({spread(x_expr)} | ({spread(y_expr)} << 1))"


def shard_plan(
    df: DataFrame,
    size_col: str,
    order_col: str,
    target_bytes: int,
    by: list[str],
) -> DataFrame:
    """Size-balanced output sharding: within each ``by`` group, rows
    in ``order_col`` order are packed into consecutive shards of
    ≈``target_bytes`` (a shard closes once the running size reaches
    the target) — the planning step before writing a sharded corpus
    (WebDataset-style tars, packed parquet) with bounded file sizes.

    shard = exclusive-prefix-sum(size) div target: deterministic,
    engine-replayable (integer window SUM — no floats), and stable
    under repartitioning because the order is a data column, not the
    physical layout. ``order_col`` must be UNIQUE within each group:
    a running sum over a ROWS frame is tie-order-dependent, so
    duplicate keys would make the plan nondeterministic (use a
    composite key column if the natural key repeats).

    Scale shape: ONE partitioned window per group (never a global
    window — the shard namespace is (group, shard), so parallelism is
    the number of groups; at 100 TB your groups are date/source/
    bucket partitions, which is exactly how a real writer fans out).

    Output: one row per shard — (by…, shard, n_rows, shard_bytes,
    first_key, last_key).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*by)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    t = F.lit(target_bytes)
    # integer floor-div as Columns (ROUND_NOTES #7: never floor(a/b))
    shard = ((start - start % t) / t).cast("long")
    return (
        df.withColumn("shard", shard)
        .groupBy(*by, "shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(size_col).alias("shard_bytes"),
            F.min(order_col).alias("first_key"),
            F.max(order_col).alias("last_key"),
        )
    )


def bucket_plan(
    df: DataFrame,
    key: Column,
    var_len_cols: list[str],
    fixed_bytes: int,
    target_bucket_bytes: int,
    seed: str = "bp0",
) -> DataFrame:
    """Cross-engine-exact bucketed-layout SIZING report — the
    pure-plan sibling of ``sources.tables.write_bucketed_spill_aware``
    (which measures with Spark-native hash/width and then writes).
    Everything here is integer arithmetic on engine-independent
    hashes, so a SQL twin reproduces it bit-for-bit:

    - ``est_total_bytes = n_rows·fixed_bytes + Σ length(var cols)``
      (caller supplies the fixed per-row width for the non-varlen
      columns; lengths are summed exactly, no averages, no floats);
    - ``n_buckets`` = smallest power of two with
      ``n_buckets·target >= est_total`` — computed as
      ``1 << length(bin(need-1))`` on the integer bucket need, no
      log2 float edge at exact powers;
    - bucket occupancy under ``stable_hash64(seed:key) % n_buckets``
      (md5-based — same value in any engine, unlike Spark's hash());
    - ``skew_ppm = max_bucket_rows · n_buckets · 1e6 div n_rows``
      (1e6 = perfectly uniform; the write-time warn threshold in the
      measuring sibling corresponds to 4e6 here).

    Output: 1 row — (n_rows, est_total_bytes, n_buckets,
    max_bucket_rows, skew_ppm), all BIGINT.

    Scale shape: two hash aggregations (global sums; per-bucket
    counts → 1-row max), no collect, no window. The two-phase plan —
    size first, occupancy second — costs one extra scan; fusing them
    would need the bucket count before the pass that computes it.
    """
    from det_module_spark.operators.dedup import stable_hash64

    spark = df.sparkSession
    sums = df.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.coalesce(F.length(F.col(c)), F.lit(0)).cast("long")
            ).alias(f"len_{c}")
            for c in var_len_cols
        ],
    )
    sized = sums.select(
        F.col("n").cast("long").alias("n_rows"),
        (
            F.col("n") * F.lit(fixed_bytes)
            + sum(
                (F.col(f"len_{c}") for c in var_len_cols), F.lit(0)
            )
        )
        .cast("long")
        .alias("est_total_bytes"),
    ).select(
        "n_rows",
        "est_total_bytes",
        # integer bucket need, then next power of two via bit length
        # integer div + bit-length power of two (playbook #7: never
        # floor a double quotient; no log2 float edge at exact powers).
        # One SQL expression because python-API shiftleft wants a
        # literal bit count.
        F.expr(
            f"CAST(CASE WHEN est_total_bytes <= {target_bucket_bytes} "
            "THEN 1 ELSE shiftleft(CAST(1 AS BIGINT), length(bin("
            f"(est_total_bytes + {target_bucket_bytes - 1}) "
            f"div {target_bucket_bytes} - 1))) END AS BIGINT)"
        ).alias("n_buckets"),
    )
    # occupancy pass needs n_buckets as a literal-free join: cross the
    # 1-row plan into the per-row bucket assignment. No broadcast
    # hint (house rule: bounded frames stay un-hinted, the planner
    # broadcasts a 1-row side on its own; same shape as
    # blocking_eval's scalar cross joins)
    assigned = df.select(
        stable_hash64(
            F.concat(F.lit(f"{seed}:"), key.cast("string"))
        ).alias("h")
    ).crossJoin(sized)
    occupancy = (
        assigned.groupBy(
            "n_rows", "est_total_bytes", "n_buckets",
            F.pmod(F.col("h"), F.col("n_buckets")).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("n_rows", "est_total_bytes", "n_buckets")
        .agg(F.max("c").cast("long").alias("max_bucket_rows"))
    )
    return occupancy.select(
        "n_rows",
        "est_total_bytes",
        "n_buckets",
        "max_bucket_rows",
        F.when(
            F.col("n_rows") > 0,
            F.expr(
                "max_bucket_rows * n_buckets * 1000000 div n_rows"
            ),
        )
        .cast("long")
        .alias("skew_ppm"),
    )


def bucket_plan_sql(
    table: str,
    key_expr: str,
    var_len_exprs: list[str],
    fixed_bytes: int,
    target_bucket_bytes: int,
    seed: str = "bp0",
) -> str:
    """DuckDB twin of :func:`bucket_plan` — identical integer algebra
    (md5 hash, bit-length power of two, exact length sums)."""
    len_sum = " + ".join(
        f"COALESCE(SUM(CAST(length({e}) AS BIGINT)), 0)"
        for e in var_len_exprs
    ) or "0"
    t = target_bucket_bytes
    return f"""
    WITH sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) * {fixed_bytes} + {len_sum} AS BIGINT)
               AS est_total_bytes
      FROM {table}),
    sized AS (
      SELECT n_rows, est_total_bytes,
             CAST(CASE WHEN est_total_bytes <= {t} THEN 1
                  ELSE (CAST(1 AS BIGINT) << length(bin(
                        (est_total_bytes + {t - 1}) // {t} - 1)))
                  END AS BIGINT) AS n_buckets
      FROM sums),
    assigned AS (
      SELECT CAST(concat('0x', substr(md5(concat('{seed}:',
               CAST({key_expr} AS VARCHAR))), 1, 15)) AS BIGINT)
               % (SELECT n_buckets FROM sized) AS b
      FROM {table}),
    occ AS (
      SELECT CAST(MAX(c) AS BIGINT) AS max_bucket_rows
      FROM (SELECT COUNT(*) AS c FROM assigned GROUP BY b))
    SELECT s.n_rows, s.est_total_bytes, s.n_buckets,
           o.max_bucket_rows,
           CAST(o.max_bucket_rows * s.n_buckets * 1000000
                // s.n_rows AS BIGINT) AS skew_ppm
    FROM sized s CROSS JOIN occ o"""


def rendezvous_assign(
    df: DataFrame, key: Column, shards: int, seed: str = "hrw"
) -> Column:
    """Highest-random-weight (rendezvous) shard assignment: the shard
    s ∈ [0, shards) maximizing hash(key, s) — the consistent-placement
    scheme whose defining property is MINIMAL MOVEMENT: growing to
    shards+1 relocates only ≈ 1/(shards+1) of keys (exactly those
    whose new shard's draw beats all previous), vs ≈ all of them for
    `hash(key) % shards`.

    Returned as a Column so callers embed it in any projection. The
    argmax runs entirely row-local (an array_max over `shards`
    structs, JVM-side, no explode — no row-count blow-up at 100 TB);
    ties break toward the higher shard id, mirrored in SQL twins via
    ORDER BY h DESC, s DESC. ``df`` is unused except to document the
    call shape; the expression is pure.
    """
    from det_module_spark.operators.dedup import stable_hash64

    draws = [
        F.struct(
            stable_hash64(
                F.concat_ws(":", F.lit(seed), key.cast("string"), F.lit(str(s)))
            ).alias("h"),
            F.lit(s).alias("s"),
        )
        for s in range(shards)
    ]
    return F.array_max(F.array(*draws))["s"]


def rendezvous_draw_sql(key_expr: str, shard: str, seed: str = "hrw") -> str:
    """The per-(key, shard) draw of :func:`rendezvous_assign` as a
    DuckDB expression (same md5 algebra), for oracle argmax via
    ROW_NUMBER over (h DESC, s DESC)."""
    return (
        "CAST(concat('0x', substr(md5(concat_ws(':', "
        f"'{seed}', CAST({key_expr} AS VARCHAR), "
        f"CAST({shard} AS VARCHAR))), 1, 15)) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Hilbert curve: the better space-filling layout key
# ---------------------------------------------------------------------------

def hilbert_by(
    df: DataFrame,
    x: str,
    y: str,
    bits: int = 8,
    key_col: str = "hkey",
) -> DataFrame:
    """Add a Hilbert-curve index over the low ``bits`` bits of (x, y).

    Z-order (``morton_key``) is cheap but has long diagonal jumps at
    quadrant boundaries; the Hilbert curve is fully adjacent (every
    consecutive key step moves one cell), so equal-size key ranges
    cover tighter rectangles — measurably better file-stat pruning at
    the same sort cost (the curve choice ClickHouse/Databricks expose
    as an alternative to Z-order).

    Per-bit recurrence, mod-reduced so every intermediate stays
    non-negative (floor-div/mod are then portable across engines,
    no signed bit-twiddling):

        rx, ry = x div s, y div s        (x, y < 2s invariant)
        x, y   = x mod s, y mod s
        d     += s²·((3·rx) xor ry)      xor via 3rx + ry − 2·rx·ry
        if ry = 0: reflect (if rx = 1) then swap x, y

    Unrolled into one ``select`` per bit level — staged projections,
    not one giant nested expression (ROUND_NOTES playbook #15). The
    adjacency property is exhaustively unit-tested against a pure-
    Python reference.
    """
    out = df.select(
        "*",
        F.pmod(F.col(x).cast("long"), F.lit(1 << bits)).alias("_hx"),
        F.pmod(F.col(y).cast("long"), F.lit(1 << bits)).alias("_hy"),
        F.lit(0).cast("long").alias(key_col),
    )
    s = 1 << (bits - 1)
    while s > 0:
        rx = F.expr(f"_hx div {s}")
        ry = F.expr(f"_hy div {s}")
        xm = F.col("_hx") % s
        ym = F.col("_hy") % s
        d = F.col(key_col) + F.lit(s * s) * (
            3 * rx + ry - 2 * rx * ry
        )
        nx = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - ym).otherwise(ym),
        ).otherwise(xm)
        ny = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - xm).otherwise(xm),
        ).otherwise(ym)
        keep = [c for c in out.columns if c not in ("_hx", "_hy", key_col)]
        out = out.select(
            *keep,
            nx.alias("_hx"),
            ny.alias("_hy"),
            d.alias(key_col),
        )
        s >>= 1
    return out.drop("_hx", "_hy")


def hilbert_sql(
    base: str,
    keys: list[str],
    x_expr: str,
    y_expr: str,
    bits: int = 8,
    key_col: str = "hkey",
) -> str:
    """The identical Hilbert recurrence as a chained-CTE SQL query
    (DuckDB dialect: // floor-division is exact on the non-negative
    intermediates the mod-reduction guarantees). ``base`` is a SQL
    relation providing the passthrough ``keys``; one CTE per bit
    level, so the oracle plans linearly instead of nesting 4^bits
    expression copies."""
    cols = ", ".join(keys)
    parts = [
        f"WITH h{bits} AS (\n  SELECT {cols},"
        f" ({x_expr}) % {1 << bits} AS hx,"
        f" ({y_expr}) % {1 << bits} AS hy,"
        f" CAST(0 AS BIGINT) AS {key_col}\n  FROM ({base}))"
    ]
    s = 1 << (bits - 1)
    lvl = bits
    while s > 0:
        rx = f"(hx // {s})"
        ry = f"(hy // {s})"
        parts.append(
            f"h{lvl - 1} AS (\n  SELECT {cols},\n"
            f"    CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
            f" THEN {s - 1} - (hy % {s}) ELSE hy % {s} END)"
            f" ELSE hx % {s} END AS hx,\n"
            f"    CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
            f" THEN {s - 1} - (hx % {s}) ELSE hx % {s} END)"
            f" ELSE hy % {s} END AS hy,\n"
            f"    {key_col} + {s * s} * (3 * {rx} + {ry}"
            f" - 2 * {rx} * {ry}) AS {key_col}\n  FROM h{lvl})"
        )
        s >>= 1
        lvl -= 1
    return (
        ",\n".join(parts)
        + f"\nSELECT {cols}, {key_col} FROM h0"
    )


def layout_pruning_eval(
    df: DataFrame,
    order_col: str,
    x: str,
    y: str,
    n_buckets: int = 32,
    probes: list[tuple[int, int, int, int]] | None = None,
) -> DataFrame:
    """Measure how well a layout key prunes 2-D range scans: order
    rows by ``order_col`` (the candidate layout key — Morton, Hilbert,
    single-column…; MUST be unique, combine with an id upstream),
    split into ``n_buckets`` equal "files", record each file's
    min/max box on (x, y), and for each probe rectangle count the
    files whose box intersects it — exactly the file-skipping
    decision parquet/Iceberg/Delta make from column min/max stats.
    Fewer files touched = better layout. → (probe_id, n_touched,
    n_buckets).

    Shape: dense_ids two-phase enumeration (no global window), one
    agg over bucket ids, one crossJoin of two PARAMETER-bounded
    frames (n_buckets × len(probes) rows)."""
    from det_module_spark.operators.ids import dense_ids

    if probes is None:
        probes = [(0, 31, 0, 31), (96, 127, 96, 127), (0, 15, 112, 127)]
    ranked = dense_ids(df.select(order_col, x, y), order_col, out="_rid")
    n = ranked.count()
    stats = (
        ranked.select(
            F.expr(f"_rid * {n_buckets} div {n}").alias("bucket"),
            F.col(x).alias("_x"),
            F.col(y).alias("_y"),
        )
        .groupBy("bucket")
        .agg(
            F.min("_x").alias("x_lo"),
            F.max("_x").alias("x_hi"),
            F.min("_y").alias("y_lo"),
            F.max("_y").alias("y_hi"),
        )
    )
    spark = df.sparkSession
    pdf = spark.createDataFrame(
        [(i, *p) for i, p in enumerate(probes)],
        ["probe_id", "px0", "px1", "py0", "py1"],
    )
    hit = (
        stats.crossJoin(F.broadcast(pdf))
        .where(
            (F.col("x_lo") <= F.col("px1"))
            & (F.col("x_hi") >= F.col("px0"))
            & (F.col("y_lo") <= F.col("py1"))
            & (F.col("y_hi") >= F.col("py0"))
        )
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_touched"))
    )
    return (
        pdf.select("probe_id")
        .join(hit, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_touched", F.lit(0)).alias("n_touched"),
            F.lit(n_buckets).cast("long").alias("n_buckets"),
        )
    )
