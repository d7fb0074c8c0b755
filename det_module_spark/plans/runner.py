"""End-to-end request lifecycle (SURVEY.md §3.4).

``request spec → validate/normalize → expand to items → hash →
probe the cache manifest → run missing items → cache results →
join-merge with rename algebra → sinks``

The reference drives this with a cron loop, Mongo queues and two
sibling worker repos; here it is one function over one SparkSession —
Spark's DAG scheduler replaces the hand-rolled work queues (SURVEY.md
§1.1), and the content-addressed cache provides the cross-request
incremental evaluation that was the reference's defining feature.

Item execution is pluggable: the caller provides source callbacks
(cells for extract items, project locations for MSR items) so the
same lifecycle runs against synthetic fixtures, parquet lakes, or
raster-derived cell tables.

The probe is a set lookup against the manifest log replayed on the
driver, and cached results are read with their footer schema, so a
fully cached request starts no Spark job until its merge runs.

Dry-run mode (reference: queue/processing.py:85,163,213-216) expands
and probes but mutates nothing — the engine's EXPLAIN.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from det_module_spark.operators.extract_types import zonal_extract
from det_module_spark.operators.merge import MergeItem, merge_extracts
from det_module_spark.operators.msr import even_split_allocation, msr_surface
from det_module_spark.plans.cache import CacheManifest
# items_df stays bound only because perfbench's trace wraps runner.items_df
from det_module_spark.plans.planner import Item, expand_request, items_df  # noqa: F401

# request states (queue/processing.py:144-216)
STATUS_ERROR = -2
STATUS_NEW = -1
STATUS_WAITING = 0
STATUS_DONE = 1
STATUS_PROCESSING = 2


@dataclass
class RunResult:
    status: int
    items: list[Item]
    missing: list[Item]
    merged: DataFrame | None = None
    artifacts: dict[str, str] = field(default_factory=dict)
    error: str | None = None


class Engine:
    """One engine = one SparkSession + one cache root + data sources."""

    def __init__(
        self,
        spark: SparkSession,
        cache_root: str,
        cell_source: Callable[[Item], DataFrame],
        release_source: Callable[[Item], DataFrame] | None = None,
        categories: list[str] | None = None,
        notify: Callable[[str, dict], None] | None = None,
        manifest: CacheManifest | None = None,
    ):
        self.spark = spark
        self.cache = (
            manifest if manifest is not None else CacheManifest(spark, cache_root)
        )
        self.cell_source = cell_source
        self.release_source = release_source
        self.categories = categories
        # K8 notification hook (the reference's email sink,
        # request_tools.py:193-326, is out-of-engine; this is its seam)
        self.notify = notify or (lambda event, payload: None)

    def _execute(self, item: Item) -> DataFrame:
        if item.kind == "msr":
            if self.release_source is None:
                raise ValueError("msr item but no release_source configured")
            locations = self.release_source(item)
            # MSR surfaces are bounded by the 0.05-resolution grid of
            # the project extent — single-file artifacts like extracts
            return msr_surface(even_split_allocation(locations)).coalesce(1)
        out = zonal_extract(
            self.cell_source(item),
            item.extract_type,
            categories=self.categories,
        )
        # extract results are one row per boundary feature — bounded
        # small by construction (SURVEY §1.1) — so cache artifacts are
        # single-file parquet: 1 file instead of shuffle-partition-many
        # tiny files per item, and the merge re-read scans 1 file
        out = out.coalesce(1)
        if item.source == "release" and "exfield_0" in out.columns:
            # aid extracts name exfields by method, so the worldbank
            # hash7 rename yields `<ds>.<hash7>.sum` not `.0`
            # (reference contract: request_tools.py:675-681)
            out = out.withColumnRenamed("exfield_0", f"exfield_{item.extract_type}")
        return out

    def run_request(self, request: dict[str, Any], dry_run: bool = False) -> RunResult:
        items = expand_request(request)
        # K8 lifecycle notifications (reference: email_report on
        # request received / completed / error,
        # queue/request_tools.py:254-326) — transport-free callback
        # seam; SMTP/webhook adapters plug in outside the engine
        self.notify(
            "received",
            {
                "request_id": request.get("_id"),
                "title": request.get("custom_name"),
                "n_items": len(items),
                "dry_run": dry_run,
            },
        )
        cached = self.cache.cached(i.spec_hash for i in items)
        missing = [i for i in items if i.spec_hash not in cached]

        if dry_run:
            # EXPLAIN-style: report the plan, touch nothing
            return RunResult(STATUS_WAITING if missing else STATUS_DONE, items, missing)

        try:
            if missing:
                self.cache.put_many(
                    [(i.spec_hash, i.kind, self._execute(i)) for i in missing]
                )
        except Exception as e:  # noqa: BLE001 - E4 error state
            # reference parity: failed requests land in status −2 with
            # nothing partially merged (processing.py:144-216)
            self.notify("error", {"request_id": request.get("_id"), "error": str(e)})
            return RunResult(STATUS_ERROR, items, missing, error=str(e))

        merge_items = [
            MergeItem(
                self.cache.get(i.spec_hash),
                i.dataset,
                i.temporal,
                i.extract_type,
            )
            for i in items
            if i.kind == "extract"
        ]
        merged = merge_extracts(merge_items) if merge_items else None
        self.notify(
            "complete",
            {
                "request_id": request.get("_id"),
                "n_items": len(items),
                "n_executed": len(missing),
                "n_cached": len(items) - len(missing),
            },
        )
        return RunResult(STATUS_DONE, items, missing, merged)
