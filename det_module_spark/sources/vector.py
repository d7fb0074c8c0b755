"""Vector boundary source (SURVEY.md S10): GeoJSON → feature DataFrame.

Boundary datasets are feature collections with geometry + attributes;
``asdf_id`` is the unique per-feature key (templates/column_info.txt:2).
The engine's model keeps geometry as WKT-ish strings / bbox columns:

- GeoJSON parses with ``spark.read.json`` + ``explode(features)`` —
  no geo library needed;
- the bbox (minx/miny/maxx/maxy) is computed from raw coordinate
  arrays with higher-order functions, which is all the grid-bucketed
  spatial join (operators/spatial.py) needs for rectangles and for
  the bucketing stage of general polygons;
- exact polygon coverage is operators/geometry.polygon_coverage, pure
  Column expressions with no geo library.

Boundary tables are small (10²–10⁵ features) — always the broadcast
side of the zonal join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_geojson_boundaries(spark: SparkSession, path: str) -> DataFrame:
    """FeatureCollection → one row per feature with asdf_id, attribute
    columns (``prop_*``), and bbox columns derived from the geometry
    coordinates.

    Geometry handling is TYPE-AWARE, via an EXPLICIT schema that
    captures ``geometry`` and ``properties`` as raw JSON strings
    (Spark's JSON reader passes an object node through verbatim when
    the declared type is string). Schema inference is deliberately
    not used for the geometry: Polygon ring arrays (3-deep) and
    MultiPolygon (4-deep — islands in real admin boundaries) don't
    unify, and a mixed file makes inference mangle the innermost
    points into strings irrecoverably. Per row, the feature's own
    ``type`` picks the parse depth; MultiPolygon flattens one level
    so both shapes land as ring arrays. A wrong-depth parse yields
    NULL, never a mistyped bbox. ``properties`` comes out as
    map<string,string>.

    ``asdf_id`` is unique ACROSS input files: posexplode restarts at
    0 per FeatureCollection, so multi-file reads add a per-file
    offset (one #files-row collect — control plane). A single file
    keeps the bare 0..n-1 ids.
    """
    schema = (
        "type string, features array<struct<"
        "type:string, properties:string, geometry:string>>"
    )
    raw = (
        spark.read.option("multiLine", True)
        .schema(schema)
        .json(path)
        .withColumn("__src", F.input_file_name())
    )
    # per-file id offsets: #files rows on the driver
    sizes = raw.select("__src", F.size("features").alias("__n")).collect()
    offsets: dict[str, int] = {}
    acc = 0
    for r in sorted(sizes, key=lambda r: r["__src"]):
        offsets[r["__src"]] = acc
        acc += max(int(r["__n"]), 0)
    off_expr = F.lit(0)
    if len(offsets) > 1:
        # flat map-literal lookup: constant expression DEPTH regardless
        # of file count (a chained WHEN/OTHERWISE built one nesting
        # level per file — thousands of files made an O(#files)-deep
        # tree that blows up analysis/codegen even though the data is
        # trivial). One node with 2·#files literal children instead.
        off_map = F.create_map(
            *[
                lit
                for src, off in offsets.items()
                for lit in (F.lit(src), F.lit(off))
            ]
        )
        off_expr = F.coalesce(off_map[F.col("__src")], F.lit(0))
    feats = raw.select(
        "__src", F.posexplode("features").alias("__pos", "feature")
    ).select((F.col("__pos") + off_expr).alias("asdf_id"), "feature")
    geom = F.col("feature.geometry")
    gtype = F.get_json_object(geom, "$.type")
    coords = F.get_json_object(geom, "$.coordinates")
    rings = F.when(
        gtype == "MultiPolygon",
        F.flatten(
            F.from_json(coords, "array<array<array<array<double>>>>")
        ),
    ).otherwise(F.from_json(coords, "array<array<array<double>>>"))
    lons, lats = _flatten_coords(rings)
    return feats.select(
        "asdf_id",
        gtype.alias("geom_type"),
        F.from_json(F.col("feature.properties"), "map<string,string>").alias(
            "properties"
        ),
        F.array_min(lons).alias("minx"),
        F.array_min(lats).alias("miny"),
        F.array_max(lons).alias("maxx"),
        F.array_max(lats).alias("maxy"),
    )


def _flatten_coords(coords):
    """GeoJSON polygon ring arrays ([[ [x,y], ... ]]) → (lons, lats)
    arrays via flatten+transform — pure Column ops."""
    flat = F.flatten(coords)
    lons = F.transform(flat, lambda pt: F.element_at(pt, 1))
    lats = F.transform(flat, lambda pt: F.element_at(pt, 2))
    return lons, lats


def rect_boundaries(
    spark: SparkSession,
    n_x: int = 10,
    n_y: int = 10,
    x0: float = 0.0,
    y0: float = 0.0,
    cell: float = 1.0,
) -> DataFrame:
    """Synthetic non-overlapping rectangle tiling (FIXTURES.md §2):
    n_x × n_y features over [x0, x0+n_x·cell) × [y0, y0+n_y·cell)."""
    return spark.range(n_x * n_y).select(
        F.col("id").cast("int").alias("asdf_id"),
        (x0 + (F.col("id") % n_x) * cell).alias("minx"),
        (y0 + (F.col("id") / n_x).cast("long") * cell).alias("miny"),
        (x0 + (F.col("id") % n_x) * cell + cell).alias("maxx"),
        (y0 + (F.col("id") / n_x).cast("long") * cell + cell).alias("maxy"),
        F.concat(F.lit("feature_"), F.col("id")).alias("NAME_1"),
    )
