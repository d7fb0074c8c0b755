"""Streaming → content-addressed cache: foreachBatch commit.

Ties the streaming front-end to the engine's defining feature: extract
results computed incrementally land in the same content-addressed
cache the batch planner probes. ``foreachBatch`` gives
exactly the transactional seam needed — each micro-batch is collected
once with ``toArrow``, split by spec hash on the driver and committed
through ``CacheManifest.put_many`` (publish-then-commit, so a crashed
batch can't fake a hit; replays of the same batch are idempotent
upserts).
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame

from det_module_spark.plans.cache import CacheManifest


def stream_to_cache(
    results: DataFrame,
    cache: CacheManifest,
    hash_col: str = "spec_hash",
    kind: str = "extract",
    checkpoint: str | None = None,
    query_name: str = "cache_sink",
):
    """Start a streaming query that commits each micro-batch's rows to
    the cache, grouped by spec hash. Returns the StreamingQuery."""

    def commit(batch: DataFrame, batch_id: int) -> None:
        # one job per micro-batch: collect it once (results are bounded
        # — one row per boundary feature per hash) and split it by hash
        # on the driver. A NULL spec hash cannot address an artifact,
        # so its rows are dropped.
        table = batch.toArrow()
        hashes = pc.unique(table[hash_col].drop_null()).to_pylist()
        cache.put_many(
            [
                (h, kind, table.filter(pc.equal(table[hash_col], h)).drop_columns(hash_col))
                for h in hashes
            ]
        )

    writer = (
        results.writeStream.foreachBatch(commit)
        .queryName(query_name)
        .outputMode("append")
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
