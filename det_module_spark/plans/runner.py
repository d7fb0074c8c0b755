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

Cold path: the missing extract items are grouped by data file, whose
cells ``cell_source`` builds once, and every plain type on one file
fuses into ONE aggregation (``zonal_aggregate``). Each fused result,
two-phase extract and MSR surface is collected once with ``toArrow``
— the collects run concurrently — split into per-item tables, and
``put_many`` publishes them from Arrow. A cache hit is a set lookup
against the driver-replayed manifest; cached results are read into
Arrow and merged on the driver (``merge_extracts``), and Spark
receives the merge as one local relation, so a fully cached request
starts no Spark job.

Dry-run mode (reference: queue/processing.py:85,163,213-216) expands
and probes but mutates nothing — the engine's EXPLAIN.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from det_module_spark.operators.extract_types import (
    fusable,
    unfuse,
    zonal_aggregate,
    zonal_extract,
)
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


def _unfused(table: pa.Table, item: Item) -> pa.Table:
    """One item's columns of a fused aggregate, named as its own result.
    A release extract names its exfield by method, so the worldbank
    hash7 rename yields ``<ds>.<hash7>.sum`` not ``.0`` (reference
    contract: request_tools.py:675-681)."""
    pairs = [("asdf_id", "asdf_id")] + unfuse(table.column_names, item.extract_type)
    if item.source == "release":
        pairs = [(c, f"exfield_{item.extract_type}" if f == "exfield_0" else f) for c, f in pairs]
    return table.select([c for c, _ in pairs]).rename_columns([f for _, f in pairs])


@dataclass
class RunResult:
    status: int
    items: list[Item]
    missing: list[Item]
    merged: DataFrame | None = None
    error: str | None = None


class Engine:
    """One engine = one SparkSession + one cache root + data sources.
    The source callbacks run on the engine's pool threads, several at
    once within one cold request."""

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

    def _results(self, missing: list[Item]) -> list[tuple[str, str, pa.Table]]:
        """Each missing item's result as an Arrow table. The work units
        — each MSR item, and each data file's extract items — are built
        and collected concurrently from one pool, so one unit's plan
        building (source callbacks, table loads) overlaps another's
        Spark jobs."""
        files: dict[tuple[str, str], list[Item]] = {}
        units = []
        for item in missing:
            if item.kind == "msr":
                units.append([item])
            else:
                files.setdefault((item.source, item.data), []).append(item)
        units += files.values()
        with ThreadPoolExecutor(max_workers=min(8, len(units))) as pool:
            return [r for results in pool.map(self._collect, units) for r in results]

    def _collect(self, unit: list[Item]) -> list[tuple[str, str, pa.Table]]:
        """Build one unit's plans and collect each once to the driver.
        Results are bounded — one row per boundary feature (SURVEY
        §1.1), or one per cell of an MSR grid. A data file's cells come
        from one ``cell_source`` call, and all its plain extract types
        fuse into one aggregation; two-phase types keep their own."""
        first = unit[0]
        if first.kind == "msr":
            if self.release_source is None:
                raise ValueError("msr item but no release_source configured")
            surface = msr_surface(even_split_allocation(self.release_source(first)))
            return [(first.spec_hash, first.kind, surface.toArrow())]
        cells = self.cell_source(first)
        fused = [i for i in unit if fusable(i.extract_type)]
        out = [
            (i.spec_hash, i.kind,
             zonal_extract(cells, i.extract_type, categories=self.categories).toArrow())
            for i in unit
            if i not in fused
        ]
        if fused:
            table = zonal_aggregate(cells, [i.extract_type for i in fused]).toArrow()
            out += [(i.spec_hash, i.kind, _unfused(table, i)) for i in fused]
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
                self.cache.put_many(self._results(missing))
            merge_items = [
                MergeItem(self.cache.table(i.spec_hash), i.dataset, i.temporal, i.extract_type)
                for i in items
                if i.kind == "extract"
            ]
            merged = None
            if merge_items:
                # every artifact is written from Arrow (its footer's Spark
                # schema is derived from its Arrow schema), so the merged
                # table's Arrow types are the Spark types
                merged = self.spark.createDataFrame(merge_extracts(merge_items))
        except Exception as e:  # noqa: BLE001 - E4 error state
            # reference parity: failed requests land in status −2 with
            # nothing partially merged (processing.py:144-216)
            self.notify("error", {"request_id": request.get("_id"), "error": str(e)})
            return RunResult(STATUS_ERROR, items, missing, error=str(e))

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
