"""Grid-bucketed spatial join (SURVEY.md J2) — the one join Catalyst
lacks natively.

The zonal-statistics contract requires assigning raster cells (or
points) to boundary features (queue/extract_check.py:92-110 — every
extract row is one boundary feature). Strategy, 100 TB-first:

1. **Bucket**: both sides get integer grid-bucket keys at a coarse
   resolution — boundaries *explode* to every bucket their bbox covers,
   points map to exactly one bucket. This turns the spatial predicate
   into a plain equi-join Catalyst can shuffle/broadcast/AQE-plan.
2. **Refine**: within a bucket, exact containment. For axis-aligned
   rectangle boundaries (the synthetic-fixture case, FIXTURES.md §2)
   refinement is 4 native comparisons — whole-stage codegen, no Python.
   For general polygons it is an even-odd ray cast
   (geometry.point_in_polygon), also a Column expression.

The bucket fan-out factor is bounded: a boundary covering B buckets
appears B times on the build side, but the build side (boundary
features) is tiny next to the probe side (cells/points), and usually
broadcast — so no shuffle of the big side at all beyond its scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_points(
    points: DataFrame, lon: str, lat: str, bucket_size: float
) -> DataFrame:
    return points.withColumn(
        "bucket_x", F.floor(F.col(lon) / F.lit(bucket_size)).cast("long")
    ).withColumn("bucket_y", F.floor(F.col(lat) / F.lit(bucket_size)).cast("long"))


def explode_boundary_buckets(
    boundaries: DataFrame,
    minx: str = "minx",
    miny: str = "miny",
    maxx: str = "maxx",
    maxy: str = "maxy",
    bucket_size: float = 1.0,
) -> DataFrame:
    """One row per (feature, covered bucket). ``sequence`` + ``explode``
    keeps the fan-out inside the JVM."""
    bx0 = F.floor(F.col(minx) / F.lit(bucket_size)).cast("long")
    bx1 = F.floor(F.col(maxx) / F.lit(bucket_size)).cast("long")
    by0 = F.floor(F.col(miny) / F.lit(bucket_size)).cast("long")
    by1 = F.floor(F.col(maxy) / F.lit(bucket_size)).cast("long")
    return (
        boundaries.withColumn("bucket_x", F.explode(F.sequence(bx0, bx1)))
        .withColumn("bucket_y", F.explode(F.sequence(by0, by1)))
    )


def spatial_join_rect(
    points: DataFrame,
    boundaries: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    bucket_size: float = 1.0,
    broadcast_boundaries: bool = True,
) -> DataFrame:
    """Points-in-rectangles join: bucket equi-join + exact native
    refinement. Containment convention: min-edge inclusive, max-edge
    exclusive, so rectangle tilings assign every point exactly once.
    """
    p = bucket_points(points, lon, lat, bucket_size)
    b = explode_boundary_buckets(boundaries, bucket_size=bucket_size)
    if broadcast_boundaries:
        b = F.broadcast(b)
    joined = p.join(b, ["bucket_x", "bucket_y"])
    refined = joined.filter(
        (F.col(lon) >= F.col("minx"))
        & (F.col(lon) < F.col("maxx"))
        & (F.col(lat) >= F.col("miny"))
        & (F.col(lat) < F.col("maxy"))
    )
    return refined.drop("bucket_x", "bucket_y")


def spatial_join_polygon(
    points: DataFrame,
    boundaries: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    ring_col: str = "ring",
    bucket_size: float = 1.0,
) -> DataFrame:
    """Points-in-polygons join with NO geo library: bucket equi-join on
    the polygon bbox (must be present as minx/miny/maxx/maxy), then
    exact even-odd ray-cast refinement as a Column expression
    (operators/geometry.point_in_polygon). Handles concave rings.

    Same shuffle topology as the rectangle path — the big point side
    is scan+bucket-project only; polygons broadcast with their vertex
    arrays."""
    from det_module_spark.operators.geometry import point_in_polygon

    p = bucket_points(points, lon, lat, bucket_size)
    b = F.broadcast(explode_boundary_buckets(boundaries, bucket_size=bucket_size))
    joined = p.join(b, ["bucket_x", "bucket_y"])
    refined = joined.filter(
        point_in_polygon(F.col(lon), F.col(lat), F.col(ring_col))
    )
    return refined.drop("bucket_x", "bucket_y")


def nearest_centroid_join(
    points: DataFrame,
    centers: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
    center_id: str = "center_id",
    cx: str = "cx",
    cy: str = "cy",
) -> DataFrame:
    """Nearest-neighbor assignment: each point → closest center
    (squared planar distance, ties → lowest center id).

    Plan: centers broadcast (boundary/admin centroid sets are small by
    nature), one projection computes d² per (point, center), one hash
    aggregation takes min(struct(d², id)) per point — map-side combine
    keeps the shuffle at one row per point. For center sets too big to
    broadcast, the bucketed ring-search (explode_boundary_buckets with
    growing radius) is the fallback; at the reference's cardinality
    broadcast-argmin is strictly better (no fan-out, no refinement
    pass)."""
    c = F.broadcast(
        centers.select(
            F.col(center_id).alias("_cid"),
            F.col(cx).alias("_cx"),
            F.col(cy).alias("_cy"),
        )
    )
    # plain multiplies, not pow(): bit-identical to the oracle's x*x
    dx = F.col(lon) - F.col("_cx")
    dy = F.col(lat) - F.col("_cy")
    d2 = dx * dx + dy * dy
    joined = points.crossJoin(c).withColumn("_d2", d2)
    best = (
        joined.groupBy(point_id, lon, lat)
        .agg(F.min(F.struct(F.col("_d2"), F.col("_cid"))).alias("_best"))
        .select(
            point_id,
            lon,
            lat,
            F.col("_best._cid").alias("nearest_id"),
            F.col("_best._d2").alias("dist2"),
        )
    )
    return best


def hex_bin(
    df: DataFrame, x: str, y: str, size: float, q_col: str = "hq",
    r_col: str = "hr",
) -> DataFrame:
    """Hexagonal binning (pointy-top axial coordinates + cube
    rounding): adds (``hq``, ``hr``) — the hex cell of each (x, y)
    point — the density-map primitive that avoids the rectangular
    grid's anisotropy (every hex neighbor is equidistant, so hotspot
    rings don't alias into squares).

    Deterministic across engines: fractional axial coords and cube
    rounding use only literal-scaled IEEE double mul/div, floor(+½)
    and comparisons — every operation is exactly specified by IEEE
    754, and the identical expression tree runs on the SQL side
    (mirror in the oracle), so the cell assignment hash-matches.
    Pure projection: no shuffle, no UDF.
    """
    xf = F.col(x).cast("double")
    yf = F.col(y).cast("double")
    qf = (
        F.sqrt(F.lit(3.0)) / F.lit(3.0) * xf - yf / F.lit(3.0)
    ) / F.lit(float(size))
    rf = (F.lit(2.0) / F.lit(3.0) * yf) / F.lit(float(size))
    sf = -qf - rf
    rx = F.floor(qf + F.lit(0.5))
    rz = F.floor(rf + F.lit(0.5))
    ry = F.floor(sf + F.lit(0.5))
    dx = F.abs(rx.cast("double") - qf)
    dy = F.abs(ry.cast("double") - sf)
    dz = F.abs(rz.cast("double") - rf)
    q_out = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    r_out = F.when(
        (dx > dy) & (dx > dz), rz
    ).otherwise(F.when(dy > dz, rz).otherwise(-rx - ry))
    return df.select(
        "*", q_out.cast("long").alias(q_col), r_out.cast("long").alias(r_col)
    )


def hex_bin_sql(x_expr: str, y_expr: str, size: float) -> str:
    """The identical axial/cube-round arithmetic as a SQL struct
    expression returning ``{hq, hr}`` — oracle twin of ``hex_bin``
    (same literal order, same floor(+0.5) rounding)."""
    qf = f"((sqrt(3.0) / 3.0 * ({x_expr}) - ({y_expr}) / 3.0) / {float(size)})"
    rf = f"((2.0 / 3.0 * ({y_expr})) / {float(size)})"
    sf = f"(-{qf} - {rf})"
    rx = f"FLOOR({qf} + 0.5)"
    rz = f"FLOOR({rf} + 0.5)"
    ry = f"FLOOR({sf} + 0.5)"
    dx = f"ABS({rx} - {qf})"
    dy = f"ABS({ry} - {sf})"
    dz = f"ABS({rz} - {rf})"
    big_dx = f"({dx} > {dy} AND {dx} > {dz})"
    q = f"CASE WHEN {big_dx} THEN -{ry} - {rz} ELSE {rx} END"
    r = (
        f"CASE WHEN {big_dx} THEN {rz}"
        f" WHEN {dy} > {dz} THEN {rz} ELSE -{rx} - {ry} END"
    )
    return (
        f"CAST({q} AS BIGINT) AS hq, CAST({r} AS BIGINT) AS hr"
    )
