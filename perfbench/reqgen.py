"""Seeded request generator, item sources and DuckDB twin for the
request-lifecycle workload.

A request names one boundary, one release (aid) dataset with filters
and one raster dataset with two distinct files and two extract types,
so it expands to 6 items: an MSR surface, the reliability (or
worldbank ``sum``) extract over it, and one zonal extract per raster
file and type.

Everything the checks compare against is derived here, without the
engine: the SHA-1 spec hashes (canonical JSON, sorted keys, ``", "`` /
``": "`` separators), the merged ``<dataset>.<filter>.<method>``
column names and per-item values computed by DuckDB over the same
parquet files.

Engine bug kept out of the generator: a raster entry that lists the
same file twice expands to two identical items, and
``merge_extracts`` then fails with ``AMBIGUOUS_REFERENCE`` on the
duplicated output column (``operators/merge.py``). Files are drawn
without replacement.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
from dataclasses import dataclass

import numpy as np

BOUNDARY = "bench_adm2"
N_FEATURES = 200
CATEGORIES = ["A", "N", "R"]
MSR_VERSION = "0.1"
MSR_RESOLUTION = 0.05

RASTERS = [
    "udel_precip_v401",
    "udel_air_temp_v401",
    "ltdr_ndvi_v4",
    "viirs_ntl_v1",
    "srtm_slope_500m",
    "gpw_pop_v4",
]
YEARS = list(range(1990, 2020))
RASTER_TYPES = [
    "mean",
    "sum",
    "count",
    "min",
    "max",
    "weighted_mean",
    "weighted_sum",
    "weighted_count",
    "categorical",
    "std",
    "var",
    "range",
]
RELEASES = ["aiddata_nga_v3", "aiddata_uga_v1", "aiddata_mwi_v13", "worldbank_v1_4"]
DONORS = ["AFDB", "France", "Japan", "UK", "USA"]
SECTORS = ["Agriculture", "Education", "Energy", "Health", "Transport", "Water"]
FILTER_YEARS = list(range(1995, 2002))

# per-type aggregate over the cell columns, as DuckDB SQL
_TYPE_SQL = {
    "mean": "AVG(value)",
    "sum": "SUM(value)",
    "count": "COUNT(value)",
    "min": "MIN(value)",
    "max": "MAX(value)",
    "weighted_mean": "SUM(value * coverage) / SUM(coverage)",
    "weighted_sum": "SUM(value * coverage)",
    "weighted_count": "SUM(coverage)",
    "std": "STDDEV_SAMP(value)",
    "var": "VAR_SAMP(value)",
    "range": "MAX(value) - MIN(value)",
}


def canonical_sha1(obj) -> str:
    text = json.dumps(obj, sort_keys=True, ensure_ascii=True, separators=(", ", ": "))
    return hashlib.sha1(text.encode("utf-8")).hexdigest()


def _noop(values: list) -> bool:
    return any(v in ("All", "None", None) for v in values)


def msr_hash(dataset: str, filters: dict) -> str:
    pruned = {k: v for k, v in filters.items() if not _noop(v)}
    return canonical_sha1(
        {
            "dataset": dataset,
            "type": "release",
            "resolution": MSR_RESOLUTION,
            "version": MSR_VERSION,
            "filters": pruned,
        }
    )


def file_shift(file_name: str) -> int:
    """Per-file offset added to the cell values, so items differ."""
    return int(hashlib.sha1(file_name.encode()).hexdigest()[:8], 16) % 97


def release_index(dataset: str) -> int:
    return RELEASES.index(dataset)


@dataclass(frozen=True)
class Expected:
    """One output column group of the merged table: the item it comes
    from and the merged column names it must produce."""

    kind: str  # 'raster' | 'release'
    dataset: str
    label: str  # temporal for raster items, MSR hash for release items
    extract_type: str
    columns: tuple[str, ...]
    filters: tuple = ()

    @property
    def spec_hash(self) -> str:
        """Cache key of the extract item behind these columns."""
        data = f"{self.dataset}_{self.label}"
        return canonical_sha1(
            {
                "boundary": BOUNDARY,
                "data": data,
                "extract_type": self.extract_type,
                "version": MSR_VERSION,
            }
        )


def expected_items(request: dict) -> list[Expected]:
    """The merged column groups of a request, in merge order."""
    out: list[Expected] = []
    for rel in request.get("release_data", []):
        ds = rel["dataset"]
        h = msr_hash(ds, rel.get("filters") or {})
        if ds.startswith("worldbank_"):
            et, methods = "sum", ["sum"]
        else:
            et, methods = "reliability", ["sum", "potential", "reliability"]
        cols = tuple(f"{ds}.{h[:7]}.{m}" for m in methods)
        frozen = tuple(sorted((k, tuple(v)) for k, v in (rel.get("filters") or {}).items()))
        out.append(Expected("release", ds, h, et, cols, frozen))
    for ras in request.get("raster_data", []):
        name = ras["name"]
        for f in ras["files"]:
            temporal = f["name"][len(name) + 1 :]
            for et in ras["options"]["extract_types"]:
                stem = f"{name}.{temporal}.{et}"
                cols = (
                    tuple(f"{stem}_{c}" for c in CATEGORIES)
                    if et == "categorical"
                    else (stem,)
                )
                out.append(Expected("raster", name, temporal, et, cols))
    return out


def expected_columns(request: dict) -> list[str]:
    return ["asdf_id"] + [c for e in expected_items(request) for c in e.columns]


class RequestGen:
    """Seeded generator of the hot workload's template pool.

    Templates draw from a small item universe (two release specs, one
    raster dataset with three files and three extract types), so they
    share items the way repeated traffic does. Each has one release
    spec, two distinct files and two types: 6 items."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)

    def _filters(self) -> dict:
        rng = self.rng
        donors = sorted(str(d) for d in rng.choice(DONORS, int(rng.integers(2, 5)), replace=False))
        if rng.random() < 0.3:
            sectors = ["All"]  # no-op filter: pruned before hashing
        else:
            sectors = sorted(str(s) for s in rng.choice(SECTORS, int(rng.integers(2, 5)), replace=False))
        lo = int(rng.integers(0, len(FILTER_YEARS) - 2))
        hi = int(rng.integers(lo + 1, len(FILTER_YEARS)))
        years = [str(y) for y in FILTER_YEARS[lo : hi + 1]]
        return {"donors": donors, "ad_sector_names": sectors, "years": years}

    def templates(self) -> list[dict]:
        """Every request of one fixed shape over the universe, in seeded
        order: 2 release specs x 3 file pairs x 3 type pairs = 18
        templates over 2 x 2 + 3 x 3 = 13 items."""
        rng = self.rng
        releases: dict[str, tuple[str, dict]] = {}
        while len(releases) < 2:
            ds = str(rng.choice(RELEASES))
            filters = self._filters()
            releases.setdefault(msr_hash(ds, filters), (ds, filters))
        name = str(rng.choice(RASTERS))
        years = sorted(int(y) for y in rng.choice(YEARS, 3, replace=False))
        types = [str(t) for t in rng.choice(RASTER_TYPES, 3, replace=False)]
        combos = [
            (rel, files, ts)
            for rel in releases.values()
            # distinct files: a repeated file duplicates items (see the
            # module docstring)
            for files in itertools.combinations(years, 2)
            for ts in itertools.combinations(types, 2)
        ]
        out = []
        for k, i in enumerate(rng.permutation(len(combos))):
            (ds, filters), files, ts = combos[int(i)]
            out.append(
                {
                    "_id": f"t{k:03d}",
                    "custom_name": f"bench template {k}",
                    "boundary": {"name": BOUNDARY, "title": "bench ADM2"},
                    "release_data": [{"dataset": ds, "custom_name": ds, "filters": filters}],
                    "raster_data": [
                        {
                            "name": name,
                            "title": name,
                            "type": "raster",
                            "temporal_type": "year",
                            "options": {"extract_types": list(ts)},
                            "files": [
                                {"name": f"{name}_{y}", "path": f"/rasters/{name}_{y}.tif"}
                                for y in files
                            ],
                        }
                    ],
                }
            )
        return out

    def zipf_ranks(self, n_templates: int, count: int, s: float = 1.1) -> list[int]:
        p = 1.0 / np.arange(1, n_templates + 1) ** s
        return [int(i) for i in self.rng.choice(n_templates, count, p=p / p.sum())]


def union_request(templates: list[dict]) -> dict:
    """One valid request holding every distinct item of ``templates``:
    one release entry per distinct (dataset, filters), one raster entry
    per distinct file with the union of its extract types."""
    release: dict = {}
    files: dict = {}
    for t in templates:
        for rel in t["release_data"]:
            release[msr_hash(rel["dataset"], rel["filters"])] = rel
        for ras in t["raster_data"]:
            for f in ras["files"]:
                entry = files.setdefault(f["name"], (ras["name"], f, []))
                for et in ras["options"]["extract_types"]:
                    if et not in entry[2]:
                        entry[2].append(et)
    return {
        "_id": "prefill",
        "boundary": templates[0]["boundary"],
        "release_data": list(release.values()),
        "raster_data": [
            {"name": name, "options": {"extract_types": types}, "files": [f]}
            for name, f, types in files.values()
        ],
    }


# ---------------------------------------------------------------------------
# Spark-side item sources (the Engine's callbacks)
# ---------------------------------------------------------------------------


class Sources:
    """Cell and project-location sources read from the parquet tables
    through ``load_table`` (not persisted), keyed back to their release
    filters by MSR hash."""

    def __init__(self, spark, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.filters: dict[str, tuple[str, dict]] = {}

    def register(self, request: dict) -> None:
        for rel in request.get("release_data", []):
            h = msr_hash(rel["dataset"], rel["filters"])
            self.filters[h] = (rel["dataset"], rel["filters"])

    def _table(self, name: str):
        from det_module_spark.sources.tables import load_table

        return load_table(self.spark, self.data_dir, name)

    def locations(self, msr_item_hash: str):
        from pyspark.sql import functions as F

        from det_module_spark.operators.msr import apply_release_filters

        dataset, filters = self.filters[msr_item_hash]
        li, orders = self._table("lineitem"), self._table("orders")
        locs = li.join(orders, li.l_orderkey == orders.o_orderkey).where(
            F.pmod(F.col("l_orderkey"), F.lit(len(RELEASES))) == release_index(dataset)
        )
        start = F.year("o_orderdate")
        locs = locs.select(
            F.col("l_orderkey").alias("project_id"),
            ((F.col("l_partkey") % N_FEATURES) * F.lit(MSR_RESOLUTION) + F.lit(0.025)).alias("lon"),
            ((F.col("l_suppkey") * 7 + F.col("l_linenumber")) % N_FEATURES * F.lit(MSR_RESOLUTION) + F.lit(0.025)).alias("lat"),
            F.element_at(F.array(*[F.lit(d) for d in DONORS]), (F.col("o_custkey") % len(DONORS) + 1).cast("int")).alias("donors"),
            F.element_at(F.array(*[F.lit(s) for s in SECTORS]), (F.col("l_partkey") % len(SECTORS) + 1).cast("int")).alias("ad_sector_names"),
            start.alias("start_year"),
            (start + F.col("l_linenumber") % 3).alias("end_year"),
            F.floor(F.col("o_totalprice")).cast("double").alias("total_commitments"),
        )
        active = {k: v for k, v in filters.items() if not _noop(v)}
        years = [int(y) for y in active.get("years", [])]
        return apply_release_filters(
            locs,
            donors=active.get("donors"),
            sectors=active.get("ad_sector_names"),
            years=(min(years), max(years)) if years else None,
        )

    def release_source(self, item):
        return self.locations(item.spec_hash)

    def cell_source(self, item):
        from pyspark.sql import functions as F

        from det_module_spark.operators.msr import even_split_allocation, msr_surface

        if item.source == "release":
            surf = msr_surface(even_split_allocation(self.locations(item.temporal)))
            return surf.select(
                F.pmod(F.col("cell_x") * 13 + F.col("cell_y"), F.lit(N_FEATURES)).alias("asdf_id"),
                F.col("sum").alias("value"),
                F.lit(1.0).alias("coverage"),
                F.col("potential"),
                F.lit("A").alias("category"),
            )
        shift = file_shift(item.data)
        li = self._table("lineitem")
        return li.select(
            (F.col("l_orderkey") % N_FEATURES).alias("asdf_id"),
            (F.floor(F.col("l_extendedprice") + F.lit(0.5)) + F.lit(shift)).cast("double").alias("value"),
            (F.col("l_linenumber").cast("double") / F.lit(8.0)).alias("coverage"),
            F.floor(F.col("l_extendedprice") * (F.lit(1.0) + F.col("l_tax")) + F.lit(0.5)).cast("double").alias("potential"),
            F.col("l_returnflag").alias("category"),
        )


# ---------------------------------------------------------------------------
# DuckDB twin: the same per-item values, computed without Spark
# ---------------------------------------------------------------------------


class Twin:
    """Per-item expected values ``{column: {asdf_id: value}}``,
    memoized by item (items are immutable once their data is fixed)."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in ("lineitem", "orders"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._memo: dict[Expected, dict[str, dict]] = {}

    def _release_cells(self, e: Expected) -> str:
        filters = {k: list(v) for k, v in e.filters if not _noop(list(v))}
        conds = [f"l_orderkey % {len(RELEASES)} = {release_index(e.dataset)}"]
        if "donors" in filters:
            conds.append("donors IN (" + ", ".join(f"'{d}'" for d in filters["donors"]) + ")")
        if "ad_sector_names" in filters:
            conds.append("ad_sector_names IN (" + ", ".join(f"'{s}'" for s in filters["ad_sector_names"]) + ")")
        if "years" in filters:
            ys = [int(y) for y in filters["years"]]
            conds.append(f"start_year <= {max(ys)} AND end_year >= {min(ys)}")
        donors = "[" + ", ".join(f"'{d}'" for d in DONORS) + "]"
        sectors = "[" + ", ".join(f"'{s}'" for s in SECTORS) + "]"
        return f"""
        WITH locs AS (
          SELECT l_orderkey AS project_id,
                 (l_partkey % {N_FEATURES}) * {MSR_RESOLUTION} + 0.025 AS lon,
                 ((l_suppkey * 7 + l_linenumber) % {N_FEATURES}) * {MSR_RESOLUTION} + 0.025 AS lat,
                 {donors}[o_custkey % {len(DONORS)} + 1] AS donors,
                 {sectors}[l_partkey % {len(SECTORS)} + 1] AS ad_sector_names,
                 year(o_orderdate) AS start_year,
                 year(o_orderdate) + l_linenumber % 3 AS end_year,
                 CAST(floor(o_totalprice) AS DOUBLE) AS total_commitments,
                 l_orderkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), sel AS (SELECT * FROM locs WHERE {' AND '.join(conds)}),
        alloc AS (
          SELECT s.lon, s.lat, s.total_commitments / c.n AS allocated,
                 s.total_commitments AS potential
          FROM sel s JOIN (SELECT project_id, COUNT(*) AS n FROM sel GROUP BY project_id) c
            USING (project_id)
        ), surf AS (
          SELECT CAST(floor(lon / {MSR_RESOLUTION}) AS BIGINT) AS cell_x,
                 CAST(floor(lat / {MSR_RESOLUTION}) AS BIGINT) AS cell_y,
                 SUM(allocated) AS s, SUM(potential) AS p
          FROM alloc GROUP BY 1, 2
        ), cells AS (
          SELECT (cell_x * 13 + cell_y) % {N_FEATURES} AS asdf_id, s AS value,
                 1.0 AS coverage, p AS potential, 'A' AS category FROM surf
        )"""

    def _raster_cells(self, e: Expected) -> str:
        shift = file_shift(f"{e.dataset}_{e.label}")
        return f"""
        WITH cells AS (
          SELECT l_orderkey % {N_FEATURES} AS asdf_id,
                 floor(l_extendedprice + 0.5) + {shift} AS value,
                 CAST(l_linenumber AS DOUBLE) / 8.0 AS coverage,
                 floor(l_extendedprice * (1.0 + l_tax) + 0.5) AS potential,
                 l_returnflag AS category
          FROM lineitem
        )"""

    def values(self, e: Expected) -> dict[str, dict]:
        got = self._memo.get(e)
        if got is not None:
            return got
        if e.kind == "release":
            cte = self._release_cells(e)
            aggs = (
                ["SUM(value)"]
                if e.extract_type == "sum"
                else ["SUM(value)", "SUM(potential)", "SUM(value) / SUM(potential)"]
            )
        else:
            cte = self._raster_cells(e)
            if e.extract_type == "categorical":
                aggs = [f"COUNT(*) FILTER (WHERE category = '{c}')" for c in CATEGORIES]
            else:
                aggs = [_TYPE_SQL[e.extract_type]]
        sql = f"{cte} SELECT asdf_id, {', '.join(aggs)} FROM cells GROUP BY asdf_id"
        rows = self.con.execute(sql).fetchall()
        got = {c: {r[0]: r[i + 1] for r in rows} for i, c in enumerate(e.columns)}
        self._memo[e] = got
        return got


def values_match(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    fa, fb = float(a), float(b)
    if math.isnan(fa) or math.isnan(fb):
        return math.isnan(fa) and math.isnan(fb)
    return math.isclose(fa, fb, rel_tol=rel, abs_tol=1e-9)


def check_merged(request: dict, columns: list[str], rows: list[tuple], twin: Twin) -> str | None:
    """None when the merged output is right, else the first problem:
    column names, row count (one row per boundary feature) and every
    value against the DuckDB twin."""
    want = expected_columns(request)
    if columns != want:
        return f"columns {columns[:4]}... != expected {want[:4]}..."
    if len(rows) != N_FEATURES:
        return f"{len(rows)} rows != {N_FEATURES} boundary features"
    by_id = {r[0]: r for r in rows}
    if len(by_id) != len(rows):
        return "duplicate asdf_id"
    pos = {c: i for i, c in enumerate(columns)}
    for e in expected_items(request):
        for col, expect in twin.values(e).items():
            i = pos[col]
            for fid, row in by_id.items():
                if not values_match(row[i], expect.get(fid)):
                    return f"{col}[{fid}]: {row[i]} != twin {expect.get(fid)}"
    return None


def checksum(rows: list[tuple]) -> str:
    return hashlib.sha1(repr(sorted(rows, key=lambda r: r[0])).encode()).hexdigest()


def stored_checksum(request: dict, result_path) -> str:
    """Checksum of the merged table a request must return, assembled
    from the stored per-item results (``result_path(spec_hash)``) in
    merge order, without the engine's merge."""
    import pyarrow.parquet as pq

    per_item = []
    for e in expected_items(request):
        t = pq.read_table(result_path(e.spec_hash)).to_pydict()
        fields = [c for c in t if c.startswith("exfield_")]
        if len(fields) != len(e.columns):
            raise ValueError(f"{e.spec_hash}: {fields} for {e.columns}")
        per_item.append({k: tuple(t[c][i] for c in fields) for i, k in enumerate(t["asdf_id"])})
    ids = sorted(set().union(*per_item))
    rows = [
        (k,) + sum((item.get(k, (None,) * len(e.columns)) for item, e in zip(per_item, expected_items(request))), ())
        for k in ids
    ]
    return checksum(rows)
