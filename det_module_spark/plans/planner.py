"""Request fan-out: declarative spec → flat item plan (E1).

The reference's triple-nested loops (queue/request_tools.py:350,
398-450, 454-498) become a single items table:

- each ``release_data[ix]`` → one MSR item + one extract item over the
  MSR surface (extract type ``reliability``, or ``sum`` for
  ``worldbank_*`` — P9);
- each ``raster_data × files × extract_types`` → one extract item, with
  the temporal label sliced from the file name
  (queue/request_tools.py:467).

The item plan is the unit of content-addressed caching: anti-join the
items table against the cache manifest to get the to-run set, inner
join for the to-merge set (E2). Expansion is driver-side pure Python —
requests are small; the *data* never flows through here.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from det_module_spark.functions.hashing import spec_hash
from det_module_spark.functions.strings import temporal_suffix
from det_module_spark.operators.extract_types import validate_extract_type
from det_module_spark.plans.spec import (
    effective_extract_type,
    msr_spec,
    normalize_filters,
    validate_request,
)

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'msr' | 'extract'
        T.StructField("boundary", T.StringType(), True),
        T.StructField("dataset", T.StringType(), False),
        # dataset+hash for release extracts, file name for raster extracts
        T.StructField("data", T.StringType(), False),
        T.StructField("temporal", T.StringType(), True),
        T.StructField("extract_type", T.StringType(), True),
        T.StructField("source", T.StringType(), False),  # 'release' | 'raster'
        T.StructField("spec_hash", T.StringType(), False),
    ]
)


@dataclass(frozen=True)
class Item:
    request_id: str
    kind: str
    boundary: str | None
    dataset: str
    data: str
    temporal: str | None
    extract_type: str | None
    source: str  # 'release' (MSR-derived, method-named exfields) | 'raster'
    spec_hash: str


def expand_request(request: dict[str, Any], msr_version: str = "0.1") -> list[Item]:
    """Spec → flat item list. Raises on invalid requests / extract types
    (plan-time validation, queue/processing.py:144-147 +
    extract_check.py:54-57)."""
    if not validate_request(request):
        raise ValueError("invalid request: needs boundary and release/raster data")

    rid = str(request.get("_id", ""))
    boundary = request["boundary"]["name"]
    items: list[Item] = []

    for raw in request.get("release_data", []):
        dataset = raw["dataset"]
        spec = msr_spec(dataset, normalize_filters(raw.get("filters")), msr_version)
        h = spec_hash(spec)
        items.append(
            Item(rid, "msr", None, dataset, f"{dataset}_{h}", None, None,
                 "release", h)
        )
        etype = effective_extract_type(dataset)
        ex_spec = {
            "boundary": boundary,
            "data": f"{dataset}_{h}",
            "extract_type": etype,
            "version": msr_version,
        }
        items.append(
            Item(
                rid, "extract", boundary, dataset, f"{dataset}_{h}",
                h, validate_extract_type(etype), "release",
                spec_hash(ex_spec),
            )
        )

    for raster in request.get("raster_data", []):
        name = raster["name"]
        for f in raster.get("files", []):
            temporal = temporal_suffix(f["name"], name)
            for etype in raster["options"]["extract_types"]:
                ex_spec = {
                    "boundary": boundary,
                    "data": f["name"],
                    "extract_type": etype,
                    "version": msr_version,
                }
                items.append(
                    Item(
                        rid, "extract", boundary, name, f["name"],
                        temporal, validate_extract_type(etype), "raster",
                        spec_hash(ex_spec),
                    )
                )

    # one item per spec hash, first wins: a spec listed twice (say, a
    # raster naming one file twice) is one content-addressed result,
    # and two copies would merge into duplicate column names
    seen: set[str] = set()
    return [i for i in items if not (i.spec_hash in seen or seen.add(i.spec_hash))]


def items_df(spark: SparkSession, items: list[Item]) -> DataFrame:
    return spark.createDataFrame([asdict(i) for i in items], schema=ITEM_SCHEMA)
