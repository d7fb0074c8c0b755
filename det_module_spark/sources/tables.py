"""Parquet table catalog over a scale-factor directory.

The driver's testdata layout (TESTDATA.md): one parquet per table under
``/root/testdata/sf*/``. Parquet scans get predicate pushdown + column
pruning + partition pruning from Catalyst for free; at 100 TB the same
loader points at a partitioned table root instead of a single file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from det_module_spark.session import spark_cpus

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Resolved-DataFrame memo: schema inference reads parquet footers on
# every ``spark.read.parquet`` (~100ms each); a workload that builds
# many queries over the same tables pays that once per (session, dir,
# table) instead of once per query. This caches METADATA (the resolved
# logical plan), not data — exactly what a table catalog does; scans
# still stream from disk and pick up nothing stale because the
# testdata directories are immutable inputs.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Accepts both ``<dir>/<name>.parquet`` (driver
    testdata) and ``<dir>/<name>/`` (partitioned production layout).

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; it is read as raw nanos (legacy conf) and converted
    to a microsecond TimestampType column with integer arithmetic
    (``div`` — double division would lose precision above 2^53 ns).
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _ts_unit(path: str) -> str | None:
    """Footer-only probe of the events ``ts`` column's timestamp unit
    ('ns'/'us'/'ms'), via one pyarrow schema read of one shard —
    bounded I/O, no Spark job."""
    import glob

    f = path
    if os.path.isdir(path):
        shards = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not shards:
            return None
        f = shards[0]
    try:
        import pyarrow.parquet as pq

        return getattr(pq.read_schema(f).field("ts").type, "unit", None)
    except Exception:
        return None


# String-derivation corpora: operators over these (tokenization,
# shingling, n-gram/deletion-neighborhood explodes over text and name
# payloads) spend an order of magnitude more CPU per input byte than
# numeric/categorical scans, so their unsplittable-input floor uses a
# finer per-partition byte target (measured: the edit1 neighborhood
# over customer names ran as ONE 2.1 s task at the default floor).
TEXT_TABLES = {"documents", "customer"}


def _scan_floor_partitions(path: str, name: str) -> int:
    """Parallelism floor for unsplittable inputs (optimization guide
    §2.5 "one huge unsplittable file ... repartition immediately after
    the read"): the driver testdata ships each table as ONE parquet
    file with ONE row group, which Spark cannot split below one task —
    every corpus map stage then runs 1-3-way parallel on a 32-core
    executor. Target = one partition per ``SPARK_GRAFT_SCAN_PART_BYTES``
    of on-disk bytes (``..._TEXT`` for free-text corpora, whose
    per-byte CPU is far higher), capped at the core count — derived
    from INPUT SIZE, not a constant: dims (region, supplier) stay at
    1 partition, and at production scale the scan already yields
    ≥ cores partitions so the floor never fires."""
    import glob

    default = 64 * 1024 if name in TEXT_TABLES else 1024 * 1024
    env = (
        "SPARK_GRAFT_SCAN_PART_BYTES_TEXT"
        if name in TEXT_TABLES
        else "SPARK_GRAFT_SCAN_PART_BYTES"
    )
    raw = os.environ.get(env, str(default))
    try:
        target = int(raw)
    except ValueError:
        target = 0
    if target <= 0:
        raise ValueError(f"{env} must be a positive integer byte count, got {raw!r}")
    files = (
        [path]
        if os.path.isfile(path)
        else glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    total = sum(os.path.getsize(f) for f in files if os.path.exists(f))
    return max(1, min(spark_cpus(), total // target))


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    single = os.path.join(sf_dir, f"{name}.parquet")
    root = os.path.join(sf_dir, name)
    path = single if os.path.exists(single) else root
    df = _read_table(spark, path, name)
    floor = _scan_floor_partitions(path, name)
    if floor > 1 and df.rdd.getNumPartitions() < floor:
        # round-robin repartition right after the read; filters and
        # column pruning still push through to the parquet scan
        # (Catalyst commutes them past Repartition), and the bench's
        # untimed persist absorbs the one-time shuffle
        df = df.repartition(floor)
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # TIMESTAMP(NANOS) parquet needs the legacy nanosAsLong conf —
        # which is SESSION-WIDE and consulted again at task execution,
        # so a set/restore around the (lazy) read would break it.
        # Scope the blast radius instead: probe the footer and set the
        # conf only when the file really carries nanos; micros/millis
        # files read plainly and the session conf is never touched
        # (setting it unconditionally silently retyped every later
        # TIMESTAMP(NANOS) read in the caller's session as bigint).
        if _ts_unit(path) == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            from pyspark.sql import functions as F

            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            return df
        return spark.read.parquet(path)
    return spark.read.parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet layout: queries filtering on the partition
    columns prune whole directories (verified via PartitionFilters in
    the scan node). The 100 TB default for fact tables — partition by
    low-cardinality time/dataset keys, never by high-cardinality ids."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int = 32,
    sort_by: str | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Bucketed table: pre-shuffles data by join key at write time so
    later joins/aggregations on that key are exchange-free (both sides
    bucketed by the same key and count -> zero-shuffle sort-merge
    join). This is the 'pay the shuffle once' strategy for fact-fact
    joins repeated across a workload.

    ``max_records_per_file`` caps file size via the PER-WRITE
    ``maxRecordsPerFile`` option — scoped to this writer only, so
    concurrent jobs sharing the SparkSession never observe it
    (ADVICE r8: the previous session-conf round-trip raced under the
    bench's concurrent streams)."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.format("parquet").saveAsTable(table)


def write_bucketed_spill_aware(
    df: DataFrame,
    table: str,
    bucket_by: str,
    target_bucket_bytes: int = 256 * 1024 * 1024,
    sort_by: str | None = None,
    mode: str = "overwrite",
    skew_warn_ratio: float = 4.0,
    max_buckets: int = 65536,
) -> dict:
    """``write_bucketed`` with the bucket COUNT sized from the data so
    each bucket fits an executor's working memory — the knob that
    decides whether the zero-shuffle sort-merge joins this layout
    exists for sort in memory or spill to disk on every read.

    Sizing: one aggregation pass estimates the IN-MEMORY bytes
    (fixed per-type widths + measured average length of
    string/binary/array columns — uncompressed, because spill
    pressure is about memory, not parquet-encoded size), then
    ``n_buckets = next power of two >= total / target_bucket_bytes``.
    Power of two keeps bucket counts of independently-written tables
    divisible into each other, the condition for Spark to still plan
    a shuffle-free join when the counts differ.

    Skew: a second aggregation measures per-bucket row counts under
    the chosen count; ``skew_ratio = max/mean`` is returned and a
    UserWarning fires above ``skew_warn_ratio`` — a hot key makes one
    bucket a straggler at ANY bucket count (the fix is a composite
    bucket key, not more buckets; surfacing it at write time is the
    point). ``maxRecordsPerFile`` is pinned for the write so even a
    skewed bucket splits into target-sized FILES (readers of a
    bucketed table get one task per bucket, but compaction, vacuum,
    and raw-file consumers keep bounded units).

    Returns the sizing report:
    ``{n_rows, est_row_bytes, est_total_bytes, n_buckets,
    max_bucket_rows, skew_ratio}``.
    """
    import warnings

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fixed = {
        T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2,
        T.IntegerType: 4, T.FloatType: 4, T.DateType: 4,
        T.LongType: 8, T.DoubleType: 8, T.TimestampType: 8,
        T.TimestampNTZType: 8,
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    var_cols = []
    width_fixed = 0
    for f in df.schema.fields:
        t = type(f.dataType)
        if t in fixed:
            width_fixed += fixed[t]
        elif isinstance(f.dataType, (T.StringType, T.BinaryType)):
            var_cols.append(f.name)
            aggs.append(
                F.avg(F.length(F.col(f.name))).alias(f"__w_{f.name}")
            )
        elif isinstance(f.dataType, T.ArrayType):
            el = type(f.dataType.elementType)
            per = fixed.get(el, 16)
            var_cols.append(f.name)
            aggs.append(
                (F.avg(F.size(F.col(f.name))) * per).alias(
                    f"__w_{f.name}"
                )
            )
        else:  # struct/map/decimal: coarse default
            width_fixed += 32
    row = df.agg(*aggs).collect()[0]
    n_rows = int(row["__n"])
    est_row_bytes = width_fixed + sum(
        float(row[f"__w_{c}"] or 0.0) for c in var_cols
    )
    est_total = int(n_rows * est_row_bytes)
    n_buckets = 1
    while n_buckets * target_bucket_bytes < est_total and n_buckets < max_buckets:
        n_buckets *= 2

    bucket_counts = (
        df.groupBy(
            F.pmod(F.hash(F.col(bucket_by)), F.lit(n_buckets)).alias("__b")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.max("__c").alias("mx"), F.avg("__c").alias("mean"))
        .collect()[0]
    )
    max_bucket_rows = int(bucket_counts["mx"] or 0)
    mean_rows = float(bucket_counts["mean"] or 0.0)
    skew_ratio = (max_bucket_rows / mean_rows) if mean_rows else 0.0
    if skew_ratio > skew_warn_ratio:
        warnings.warn(
            f"write_bucketed_spill_aware({table}): bucket key "
            f"'{bucket_by}' is skewed (max/mean = {skew_ratio:.1f} at "
            f"{n_buckets} buckets) — the hot bucket straggles at any "
            f"count; bucket by a composite key instead",
            UserWarning,
            stacklevel=2,
        )

    # per-write option, not session conf: a concurrent job in the same
    # SparkSession must never race on (or pick up) this value
    rows_per_file = max(
        1, int(target_bucket_bytes // max(1.0, est_row_bytes))
    )
    write_bucketed(
        df, table, bucket_by,
        n_buckets=n_buckets, sort_by=sort_by, mode=mode,
        max_records_per_file=rows_per_file,
    )
    return {
        "n_rows": n_rows,
        "est_row_bytes": round(est_row_bytes, 1),
        "est_total_bytes": est_total,
        "n_buckets": n_buckets,
        "max_bucket_rows": max_bucket_rows,
        "skew_ratio": round(skew_ratio, 2),
    }


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` sees the
    same names the DuckDB oracle does."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
