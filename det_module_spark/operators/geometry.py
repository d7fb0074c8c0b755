"""Geometry kernels as pure Column expressions — no geo libraries.

Two kernels the zonal pipeline needs that Catalyst lacks, both
expressed with higher-order array functions so they run inside the
JVM (no Python, no shapely):

- ``point_in_polygon``: even-odd ray casting over a polygon given as
  ``array<struct<x:double, y:double>>`` (closed or open ring). The
  edge sweep is ``zip_with(ring, rotated_ring)`` + ``filter`` +
  ``size`` — O(vertices) per point, vectorized by codegen. This is
  the exact-refinement step of the bucketed spatial join for real
  polygons.
- ``rect_coverage_fraction``: the fraction of a grid cell's area
  covered by an axis-aligned boundary rectangle — the coverage weight
  feeding the ``weighted_*`` extract types (SURVEY.md hard-list (b)).
  Exact for rectangle tilings.
- ``polygon_cell_coverage``: EXACT coverage fraction of a grid cell by
  an arbitrary simple polygon — Sutherland–Hodgman clip of the ring
  against the cell rectangle (four half-plane passes, each a
  ``transform`` + ``flatten`` over the edge list) followed by the
  shoelace area of the clipped ring. Pure Column expressions, runs in
  whole-stage codegen; works for concave rings (the degenerate bridge
  edges SH produces on disconnected clips cancel in the signed area).
  This is the partial-pixel weight the ``weighted_*`` extract types
  need for parity with the reference's raster kernel
  (queue/extract_check.py:29-31).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ring_edges(ring: Column) -> Column:
    """array<struct<a, b>> of polygon edges: vertex i paired with
    vertex i+1 (wrapping) — ``zip_with`` against the rotated ring."""
    n = F.size(ring)
    rotated = F.concat(
        F.slice(ring, 2, F.greatest(n - 1, F.lit(0))), F.slice(ring, 1, 1)
    )
    return F.zip_with(
        ring, rotated, lambda a, b: F.struct(a.alias("a"), b.alias("b"))
    )


def point_in_polygon(x: Column, y: Column, ring: Column) -> Column:
    """Even-odd ray casting: count edges crossing the horizontal ray
    from (x, y) to +∞; odd ⇒ inside. Half-open vertex rule
    ((ay > y) != (by > y)) counts each vertex once, so points aligned
    with vertices don't double-count."""
    edges = ring_edges(ring)

    def crosses(e: Column) -> Column:
        ax, ay = e["a"]["x"], e["a"]["y"]
        bx, by = e["b"]["x"], e["b"]["y"]
        straddles = (ay > y) != (by > y)
        x_at_y = ax + (y - ay) / (by - ay) * (bx - ax)
        return straddles & (x < x_at_y)

    return F.size(F.filter(edges, crosses)) % 2 == 1


def rect_coverage_fraction(
    cell_minx: Column,
    cell_miny: Column,
    cell_size: Column,
    minx: Column,
    miny: Column,
    maxx: Column,
    maxy: Column,
) -> Column:
    """Area fraction of the cell [cell_minx, +size)×[cell_miny, +size)
    covered by the rectangle [minx,maxx)×[miny,maxy). Pure arithmetic:
    clip each axis, multiply, normalize."""
    ox = F.greatest(
        F.least(cell_minx + cell_size, maxx) - F.greatest(cell_minx, minx),
        F.lit(0.0),
    )
    oy = F.greatest(
        F.least(cell_miny + cell_size, maxy) - F.greatest(cell_miny, miny),
        F.lit(0.0),
    )
    return ox * oy / (cell_size * cell_size)


def ring_area(ring: Column) -> Column:
    """Unsigned shoelace area of a ring (open or closed vertex list):
    |Σ (x_i·y_{i+1} − x_{i+1}·y_i)| / 2 via ``aggregate`` over the
    wrapped edge list. Empty / degenerate rings → 0."""
    signed = F.aggregate(
        ring_edges(ring),
        F.lit(0.0),
        lambda acc, e: acc
        + (e["a"]["x"] * e["b"]["y"] - e["b"]["x"] * e["a"]["y"]),
    )
    return F.abs(signed) / 2


def _clip_halfplane(ring: Column, inside, isect) -> Column:
    """One Sutherland–Hodgman pass: keep the part of ``ring`` on the
    ``inside`` side of a half-plane. Per edge (a→b):

    - both inside            → emit b
    - a inside, b outside    → emit intersection
    - a outside, b inside    → emit intersection, b
    - both outside           → emit nothing

    ``transform`` emits 0–2 vertices per edge as a sub-array;
    ``flatten`` stitches the clipped ring back together. The empty
    sub-array is built with ``slice(array(b), 1, 0)`` so it carries the
    struct element type (``array()`` alone would be array<null>)."""

    def emit(e: Column) -> Column:
        a, b = e["a"], e["b"]
        a_in, b_in = inside(a), inside(b)
        empty = F.slice(F.array(b), 1, 0)
        return (
            F.when(a_in & b_in, F.array(b))
            .when(a_in & ~b_in, F.array(isect(a, b)))
            .when(~a_in & b_in, F.array(isect(a, b), b))
            .otherwise(empty)
        )

    return F.flatten(F.transform(ring_edges(ring), emit))


def _isect_vertical(x_plane: Column):
    """Intersection of edge a→b with the vertical line x = x_plane.
    Only called when the edge straddles the plane, so b.x ≠ a.x."""

    def isect(a: Column, b: Column) -> Column:
        t = (x_plane - a["x"]) / (b["x"] - a["x"])
        return F.struct(
            x_plane.alias("x"),
            (a["y"] + t * (b["y"] - a["y"])).alias("y"),
        )

    return isect


def _isect_horizontal(y_plane: Column):
    def isect(a: Column, b: Column) -> Column:
        t = (y_plane - a["y"]) / (b["y"] - a["y"])
        return F.struct(
            (a["x"] + t * (b["x"] - a["x"])).alias("x"),
            y_plane.alias("y"),
        )

    return isect


def clip_ring_to_rect(
    ring: Column, minx: Column, miny: Column, maxx: Column, maxy: Column
) -> Column:
    """Sutherland–Hodgman clip of a simple polygon ring against an
    axis-aligned rectangle: four half-plane passes. The clip window is
    convex, so the result is the exact intersection polygon (concave
    subject rings yield bridge edges whose signed area cancels)."""
    r = _clip_halfplane(ring, lambda p: p["x"] >= minx, _isect_vertical(minx))
    r = _clip_halfplane(r, lambda p: p["x"] <= maxx, _isect_vertical(maxx))
    r = _clip_halfplane(r, lambda p: p["y"] >= miny, _isect_horizontal(miny))
    r = _clip_halfplane(r, lambda p: p["y"] <= maxy, _isect_horizontal(maxy))
    return r


def polygon_cell_coverage(
    cell_minx: Column, cell_miny: Column, cell_size: Column, ring: Column
) -> Column:
    """EXACT area fraction of the grid cell
    [cell_minx, +size)×[cell_miny, +size) covered by an arbitrary
    simple polygon ``ring`` (array<struct<x,y>>, open or closed) —
    clip-then-shoelace, pure Column expressions.

    Generalizes ``rect_coverage_fraction`` (property-tested equal on
    rectangles) to the concave boundary polygons the reference's
    weighted_* extract types integrate over
    (queue/extract_check.py:29-31)."""
    clipped = clip_ring_to_rect(
        ring,
        cell_minx,
        cell_miny,
        cell_minx + cell_size,
        cell_miny + cell_size,
    )
    return ring_area(clipped) / (cell_size * cell_size)


def ring_area_signed(ring: Column) -> Column:
    """Signed shoelace sum (Σ x_i·y_{i+1} − x_{i+1}·y_i, no /2):
    positive for counter-clockwise rings. Building block for
    orientation tests and the centroid formula."""
    return F.aggregate(
        ring_edges(ring),
        F.lit(0.0),
        lambda acc, e: acc
        + (e["a"]["x"] * e["b"]["y"] - e["b"]["x"] * e["a"]["y"]),
    )


def ring_perimeter(ring: Column) -> Column:
    """Perimeter: sequential fold of edge lengths (sqrt is correctly
    rounded IEEE, so the fold is bit-reproducible cross-engine)."""
    return F.aggregate(
        ring_edges(ring),
        F.lit(0.0),
        lambda acc, e: acc
        + F.sqrt(
            (e["b"]["x"] - e["a"]["x"]) * (e["b"]["x"] - e["a"]["x"])
            + (e["b"]["y"] - e["a"]["y"]) * (e["b"]["y"] - e["a"]["y"])
        ),
    )


def ring_centroid(ring: Column) -> Column:
    """Polygon centroid as struct<x,y>: Σ(a+b)·cross / (3·signed-sum),
    the standard area-weighted formula (orientation-independent —
    the sign cancels)."""
    cx = F.aggregate(
        ring_edges(ring),
        F.lit(0.0),
        lambda acc, e: acc
        + (e["a"]["x"] + e["b"]["x"])
        * (e["a"]["x"] * e["b"]["y"] - e["b"]["x"] * e["a"]["y"]),
    )
    cy = F.aggregate(
        ring_edges(ring),
        F.lit(0.0),
        lambda acc, e: acc
        + (e["a"]["y"] + e["b"]["y"])
        * (e["a"]["x"] * e["b"]["y"] - e["b"]["x"] * e["a"]["y"]),
    )
    s = ring_area_signed(ring)
    return F.struct(
        (cx / (3 * s)).alias("x"), (cy / (3 * s)).alias("y")
    )


def _clamp(v: Column, lo: Column, hi: Column) -> Column:
    return F.greatest(F.least(v, hi), lo)


def edge_coverage_integral(
    xa: Column,
    ya: Column,
    xb: Column,
    yb: Column,
    x0: Column,
    y0: Column,
    x1: Column,
    y1: Column,
) -> Column:
    """Signed contribution of ONE polygon edge (xa,ya)→(xb,yb) to
    area(polygon ∩ [x0,x1]×[y0,y1]) — the Green's-theorem / scanline
    decomposition used by exact-coverage rasterizers:

        area = |Σ_edges ∫_{x clipped to [x0,x1]} (clamp(y_edge(x),
               y0, y1) − y0) dx|

    At any x, the ±(clamp(y)−y0) terms of the edges crossing that
    vertical line telescope to the length of the polygon's
    cross-section intersected with [y0,y1], so summing the integrals
    over all edges gives the exact intersection area — each edge
    independently, no ring mutation. The integral of the clamped
    linear function has a closed form via the substitution
    u = y_edge(x): (G(u_out) − G(u_in))/m with G the clamp-ramp
    antiderivative. Pure scalar arithmetic → whole-stage codegen, and
    the edge list can be exploded once and equi-joined, which is the
    100 TB path (polygon_coverage is ~8× faster to plan+run than the
    Sutherland–Hodgman expression and needs no array builders)."""
    h = y1 - y0
    cx0 = _clamp(xa, x0, x1)
    cx1 = _clamp(xb, x0, x1)
    m = (yb - ya) / (xb - xa)
    u_in = ya + m * (cx0 - xa)
    u_out = ya + m * (cx1 - xa)

    def G(u: Column) -> Column:
        return (
            F.when(u <= y0, F.lit(0.0))
            .when(u <= y1, (u - y0) * (u - y0) / 2)
            .otherwise(h * h / 2 + h * (u - y1))
        )

    flat = (_clamp(ya, y0, y1) - y0) * (cx1 - cx0)
    sloped = (G(u_out) - G(u_in)) / m
    return (
        F.when(xb == xa, F.lit(0.0))
        .when(yb == ya, flat)
        .otherwise(sloped)
    )


def polygon_coverage(
    cells: "DataFrame",
    polygons: "DataFrame",
    cell_size: float,
    cell_minx: str = "minx",
    cell_miny: str = "miny",
    poly_id: str = "asdf_id",
    ring_col: str = "ring",
    slab_cells: int = 16,
    bucket_by_slab: bool = True,
) -> "DataFrame":
    """EXACT coverage fraction of every grid cell by every polygon —
    the scale path for coverage-weighted zonal statistics
    (queue/extract_check.py:29-31).

    Plan shape: the polygon table is exploded ONCE into edges, each
    edge replicated to the x-slabs its span can touch, then broadcast
    and EQUI-JOINED to the cell grid on the slab key (boundary sets
    are small dims, one row per edge per slab). Each
    (cell, edge) pair reduces to one closed-form scalar term
    (edge_coverage_integral), then a single hash aggregation sums
    terms per (cell, polygon). The probe side stays in whole-stage
    codegen throughout. Returns cells × polygons with a ``coverage``
    column, rows with coverage > 0 only.

    Why slab pruning is EXACT, not approximate: an edge whose x-span
    does not overlap a cell's [x0, x1] contributes exactly 0 — both
    clamps in edge_coverage_integral collapse to the same endpoint, so
    the flat term has zero width and the sloped term has u_in == u_out.
    Dropping those pairs removes only zero terms from the per-cell sum.
    A cell with minx in slab k = floor(minx/w) overlaps an edge only
    if minx ∈ [edge_xmin − cell_size, edge_xmax], so replicating the
    edge to slabs floor((xmin−cell)/w) … floor(xmax/w) (±1 slab of
    slack so float division at slab boundaries can never drop a
    contributing pair) covers every non-zero pair exactly once: the
    slab ids per edge are distinct and each cell carries one slab key.

    ``slab_cells`` sets the slab width in cell units (w = slab_cells ×
    cell_size): per-edge replication is span/w + 3 rows, per-cell edge
    candidates are the edges crossing its slab. 16 keeps replication
    ≈1 for feature-scale polygons while cutting the per-cell candidate
    set to the local neighbourhood. ``bucket_by_slab=False`` restores
    the all-pairs crossJoin (the property-test baseline)."""
    edges = polygons.select(
        poly_id,
        F.explode(ring_edges(F.col(ring_col))).alias("e"),
    ).select(
        poly_id,
        F.col("e.a.x").alias("xa"),
        F.col("e.a.y").alias("ya"),
        F.col("e.b.x").alias("xb"),
        F.col("e.b.y").alias("yb"),
    )
    s = F.lit(cell_size)
    group_cols = [c for c in cells.columns] + [poly_id]
    if bucket_by_slab:
        w = F.lit(float(slab_cells) * cell_size)
        xlo = F.least(F.col("xa"), F.col("xb"))
        xhi = F.greatest(F.col("xa"), F.col("xb"))
        edges = F.broadcast(
            edges.withColumn(
                "__cov_slab",
                F.explode(
                    F.sequence(
                        F.floor((xlo - s) / w) - 1, F.floor(xhi / w) + 1
                    )
                ),
            )
        )
        keyed = cells.withColumn(
            "__cell_slab", F.floor(F.col(cell_minx) / w)
        )
        paired = keyed.join(
            edges, keyed["__cell_slab"] == edges["__cov_slab"]
        )
    else:
        paired = cells.crossJoin(F.broadcast(edges))
    x0, y0 = F.col(cell_minx), F.col(cell_miny)
    term = edge_coverage_integral(
        F.col("xa"), F.col("ya"), F.col("xb"), F.col("yb"),
        x0, y0, x0 + s, y0 + s,
    )
    return (
        paired.withColumn("cov_term", term)
        .groupBy(*group_cols)
        .agg((F.abs(F.sum("cov_term")) / (s * s)).alias("coverage"))
        .filter(F.col("coverage") > 0)
    )
