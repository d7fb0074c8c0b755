"""Stream-stream interval join and the streaming cache sink."""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from det_module_spark.plans.cache import CacheManifest
from det_module_spark.streaming.cache_sink import stream_to_cache
from det_module_spark.streaming.joins import interval_join


def _t(m):
    return dt.datetime(2024, 1, 1, 10, m, 0)


CLICK_SCHEMA = T.StructType(
    [T.StructField("user_id", T.LongType()), T.StructField("lts", T.TimestampType())]
)
VIEW_SCHEMA = T.StructType(
    [T.StructField("user_id", T.LongType()), T.StructField("rts", T.TimestampType()),
     T.StructField("value", T.DoubleType())]
)


def test_interval_join_batch_semantics(spark):
    clicks = spark.createDataFrame(
        [Row(user_id=1, lts=_t(10)), Row(user_id=2, lts=_t(30))], CLICK_SCHEMA
    )
    views = spark.createDataFrame(
        [
            Row(user_id=1, rts=_t(12), value=1.0),   # within 15m after
            Row(user_id=1, rts=_t(40), value=2.0),   # too late for click@10
            Row(user_id=2, rts=_t(29), value=3.0),   # before click -> excluded
            Row(user_id=2, rts=_t(44), value=4.0),   # within window
        ],
        VIEW_SCHEMA,
    )
    out = interval_join(clicks, views, "user_id", upper="15 minutes")
    got = {(r["user_id"], r["value"]) for r in out.collect()}
    assert got == {(1, 1.0), (2, 4.0)}


def test_interval_join_streaming(spark, tmp_path):
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [Row(user_id=1, lts=_t(10))], CLICK_SCHEMA
    ).coalesce(1).write.parquet(lsrc)
    spark.createDataFrame(
        [Row(user_id=1, rts=_t(12), value=1.0),
         Row(user_id=1, rts=_t(50), value=9.0)],
        VIEW_SCHEMA,
    ).coalesce(1).write.parquet(rsrc)

    lstream = spark.readStream.schema(CLICK_SCHEMA).parquet(lsrc)
    rstream = spark.readStream.schema(VIEW_SCHEMA).parquet(rsrc)
    joined = interval_join(lstream, rstream, "user_id", upper="15 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("sj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    rows = spark.sql("SELECT value FROM sj_out").collect()
    assert [r["value"] for r in rows] == [1.0]


def test_stream_to_cache_commit(spark, tmp_path):
    cache = CacheManifest(spark, str(tmp_path / "cache"))
    schema = T.StructType(
        [T.StructField("spec_hash", T.StringType()),
         T.StructField("asdf_id", T.LongType()),
         T.StructField("exfield_0", T.DoubleType())]
    )
    src = str(tmp_path / "results")
    spark.createDataFrame(
        [("h_a", 1, 1.5), ("h_a", 2, 2.5), ("h_b", 1, 9.0)], schema
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_to_cache(
        stream, cache, checkpoint=str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    items = {"h_a", "h_b", "h_c"}
    assert items - cache.cached(items) == {"h_c"}
    got = {r["asdf_id"]: r["exfield_0"] for r in cache.get("h_a").collect()}
    assert got == {1: 1.5, 2: 2.5}
    assert "spec_hash" not in cache.get("h_a").columns
