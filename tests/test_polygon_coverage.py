"""Exact polygon cell-coverage kernels (queue/extract_check.py:29-31
partial-pixel weights for the weighted_* extract types).

Two independent exact implementations are cross-checked against each
other and against the rectangle kernel:

- ``polygon_cell_coverage``: Sutherland-Hodgman ring clip + shoelace
  (pure Column array algebra)
- ``polygon_coverage``: per-edge Green's-theorem clamp-integral (the
  scale path: scalar codegen, edge explode + broadcast join)
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from det_module_spark.operators.geometry import (
    polygon_cell_coverage,
    polygon_coverage,
    rect_coverage_fraction,
    ring_area,
)


def _ring_lit(pts):
    return F.array(
        *[
            F.struct(F.lit(x).alias("x"), F.lit(y).alias("y"))
            for x, y in pts
        ]
    )


L_RING = [(1.0, 1.0), (6.0, 1.0), (6.0, 3.0), (3.0, 3.0), (3.0, 7.0), (1.0, 7.0)]


def _shoelace(pts):
    s = 0.0
    for (ax, ay), (bx, by) in zip(pts, pts[1:] + pts[:1]):
        s += ax * by - bx * ay
    return abs(s) / 2


def _grid_cells(spark, n, size):
    return spark.range(n * n).select(
        ((F.col("id") % n) * size).alias("minx"),
        ((F.col("id") / n).cast("long") * size).alias("miny"),
    )


def test_sh_clip_known_values(spark):
    # concave L: full-extent cell sees area 18 of 100; the reflex-corner
    # cell [2.5,3.5]^2 sees 0.5 + 0.25
    df = spark.range(1).select(
        polygon_cell_coverage(
            F.lit(0.0), F.lit(0.0), F.lit(10.0), _ring_lit(L_RING)
        ).alias("all"),
        polygon_cell_coverage(
            F.lit(2.5), F.lit(2.5), F.lit(1.0), _ring_lit(L_RING)
        ).alias("corner"),
        polygon_cell_coverage(
            F.lit(1.5), F.lit(1.5), F.lit(1.0), _ring_lit(L_RING)
        ).alias("inside"),
        polygon_cell_coverage(
            F.lit(8.0), F.lit(8.0), F.lit(1.0), _ring_lit(L_RING)
        ).alias("outside"),
    )
    row = df.collect()[0]
    assert row["all"] == pytest.approx(0.18)
    assert row["corner"] == pytest.approx(0.75)
    assert row["inside"] == 1.0
    assert row["outside"] == 0.0


def test_sh_closed_ring_equals_open(spark):
    closed = L_RING + [L_RING[0]]
    df = spark.range(1).select(
        polygon_cell_coverage(
            F.lit(2.5), F.lit(2.5), F.lit(1.0), _ring_lit(L_RING)
        ).alias("open"),
        polygon_cell_coverage(
            F.lit(2.5), F.lit(2.5), F.lit(1.0), _ring_lit(closed)
        ).alias("closed"),
    )
    row = df.collect()[0]
    assert row["open"] == pytest.approx(row["closed"], abs=1e-12)


def test_rect_as_polygon_matches_rect_kernel(spark):
    # property (VERDICT r01 #3 "done" bar): a polygon that IS a
    # rectangle reproduces rect_coverage_fraction on a whole grid of
    # cells, for a batch of random rectangles
    rng = random.Random(7)
    rects = []
    for _ in range(4):
        x1, x2 = sorted([rng.uniform(0, 10), rng.uniform(0, 10)])
        y1, y2 = sorted([rng.uniform(0, 10), rng.uniform(0, 10)])
        rects.append((x1, y1, x2, y2))
    cells = _grid_cells(spark, 10, 1.0)
    for minx, miny, maxx, maxy in rects:
        ring = [(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)]
        bad = (
            cells.select(
                polygon_cell_coverage(
                    F.col("minx"), F.col("miny"), F.lit(1.0), _ring_lit(ring)
                ).alias("poly"),
                rect_coverage_fraction(
                    F.col("minx"), F.col("miny"), F.lit(1.0),
                    F.lit(minx), F.lit(miny), F.lit(maxx), F.lit(maxy),
                ).alias("rect"),
            )
            .filter(F.abs(F.col("poly") - F.col("rect")) > 1e-12)
            .count()
        )
        assert bad == 0, (minx, miny, maxx, maxy)


def _star_polygon(rng, cx, cy, n_verts):
    """Random star-convex polygon — always simple, usually concave."""
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n_verts))
    return [
        (cx + r * math.cos(a), cy + r * math.sin(a))
        for a, r in ((a, rng.uniform(0.8, 4.5)) for a in angles)
    ]


def test_edge_integral_matches_sh_on_random_polygons(spark):
    # the two exact algorithms are implemented completely differently
    # (ring mutation vs per-edge integrals); agreement on random
    # concave polygons over a full grid is strong evidence both are
    # right
    rng = random.Random(42)
    polys = [
        (i, _star_polygon(rng, rng.uniform(3, 7), rng.uniform(3, 7), rng.randint(5, 11)))
        for i in range(6)
    ]
    bounds = spark.createDataFrame(
        polys, "asdf_id INT, ring ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"
    )
    cells = _grid_cells(spark, 10, 1.0)
    edge = polygon_coverage(cells, bounds, cell_size=1.0)

    sh = (
        cells.crossJoin(F.broadcast(bounds))
        .withColumn(
            "cov_sh",
            polygon_cell_coverage(
                F.col("minx"), F.col("miny"), F.lit(1.0), F.col("ring")
            ),
        )
        .filter(F.col("cov_sh") > 0)
        .select("minx", "miny", "asdf_id", "cov_sh")
    )
    cmp = edge.join(sh, ["minx", "miny", "asdf_id"], "full_outer").select(
        F.coalesce("coverage", F.lit(0.0)).alias("a"),
        F.coalesce("cov_sh", F.lit(0.0)).alias("b"),
    )
    bad = cmp.filter(F.abs(F.col("a") - F.col("b")) > 1e-9).count()
    assert bad == 0


def test_coverage_sums_to_polygon_area(spark):
    # invariant: for a polygon inside the grid, sum(coverage) * cell
    # area == shoelace area (both kernels)
    rng = random.Random(3)
    poly = _star_polygon(rng, 5.0, 5.0, 9)
    area = _shoelace(poly)
    bounds = spark.createDataFrame(
        [(0, poly)], "asdf_id INT, ring ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"
    )
    cells = _grid_cells(spark, 20, 0.5)
    got = (
        polygon_coverage(cells, bounds, cell_size=0.5)
        .agg(F.sum(F.col("coverage") * 0.25))
        .collect()[0][0]
    )
    assert got == pytest.approx(area, rel=1e-9)
    got_sh = (
        cells.select(
            polygon_cell_coverage(
                F.col("minx"), F.col("miny"), F.lit(0.5), _ring_lit(poly)
            ).alias("c")
        )
        .agg(F.sum(F.col("c") * 0.25))
        .collect()[0][0]
    )
    assert got_sh == pytest.approx(area, rel=1e-9)


def test_slab_bucketed_equals_unbucketed(spark):
    # VERDICT r02 #1 "done" bar: x-slab pruning is EXACT — an edge
    # with no x-overlap contributes a zero term, so dropping it cannot
    # change any per-cell sum. Force many slabs (slab_cells=2 over a
    # 10-unit grid → ≥5 slabs) and compare against the all-pairs plan
    # on random concave star polygons, full outer so a row lost to
    # over-pruning (or invented by double-join) fails loudly.
    rng = random.Random(99)
    polys = [
        (i, _star_polygon(rng, rng.uniform(2, 8), rng.uniform(2, 8), rng.randint(5, 12)))
        for i in range(5)
    ]
    bounds = spark.createDataFrame(
        polys, "asdf_id INT, ring ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"
    )
    cells = _grid_cells(spark, 20, 0.5)
    bucketed = polygon_coverage(
        cells, bounds, cell_size=0.5, slab_cells=2, bucket_by_slab=True
    )
    allpairs = polygon_coverage(
        cells, bounds, cell_size=0.5, bucket_by_slab=False
    )
    cmp = bucketed.withColumnRenamed("coverage", "a").join(
        allpairs.withColumnRenamed("coverage", "b"),
        ["minx", "miny", "asdf_id"],
        "full_outer",
    )
    # summation ORDER differs between the plans, so zero-coverage
    # cells can carry ~1e-16 FP residue in one plan and cancel to an
    # exact 0.0 (row filtered) in the other — coalesce missing rows to
    # 0 and compare with tolerance, like the SH cross-check above
    bad = cmp.filter(
        F.abs(
            F.coalesce(F.col("a"), F.lit(0.0))
            - F.coalesce(F.col("b"), F.lit(0.0))
        )
        > 1e-12
    ).count()
    assert bad == 0


def test_slab_bucketed_negative_coords_and_shuffle_join(spark):
    # slabs work for negative coordinates (floor semantics); one cell
    # per slab puts every edge in several slab keys of the equi-join
    ring = [(-3.0, -3.0), (1.0, -3.0), (1.0, 1.0), (-3.0, 1.0)]
    bounds = spark.createDataFrame(
        [(0, ring)], "asdf_id INT, ring ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"
    )
    cells = spark.range(100).select(
        (((F.col("id") % 10) - 5) * 1.0).alias("minx"),
        (((F.col("id") / 10).cast("long") - 5) * 1.0).alias("miny"),
    )
    got = (
        polygon_coverage(
            cells, bounds, cell_size=1.0, slab_cells=1,
        )
        .agg(F.sum("coverage").alias("s"))
        .collect()[0]["s"]
    )
    assert got == pytest.approx(16.0)  # 4x4 fully covered cells


def test_ring_area_shoelace(spark):
    got = spark.range(1).select(
        ring_area(_ring_lit(L_RING)).alias("a")
    ).collect()[0]["a"]
    assert got == pytest.approx(18.0)


def test_clockwise_ring_same_coverage(spark):
    cw = list(reversed(L_RING))
    df = spark.range(1).select(
        polygon_cell_coverage(
            F.lit(2.5), F.lit(2.5), F.lit(1.0), _ring_lit(cw)
        ).alias("sh"),
    )
    assert df.collect()[0]["sh"] == pytest.approx(0.75)
    bounds = spark.createDataFrame(
        [(0, cw)], "asdf_id INT, ring ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"
    )
    cells = spark.createDataFrame(
        [(2.5, 2.5)], "minx DOUBLE, miny DOUBLE"
    )
    got = polygon_coverage(cells, bounds, cell_size=1.0).collect()
    assert len(got) == 1
    assert got[0]["coverage"] == pytest.approx(0.75)


def test_ring_metrics_known_values(spark):
    from det_module_spark.operators.geometry import (
        ring_centroid,
        ring_perimeter,
        ring_area_signed,
    )

    # unit square, CCW: area +, perimeter 4, centroid (0.5, 0.5)
    sq = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    row = spark.range(1).select(
        ring_area_signed(_ring_lit(sq)).alias("s"),
        ring_perimeter(_ring_lit(sq)).alias("p"),
        ring_centroid(_ring_lit(sq)).alias("c"),
        ring_centroid(_ring_lit(list(reversed(sq)))).alias("c_cw"),
    ).collect()[0]
    assert row["s"] == pytest.approx(2.0)  # signed sum = 2*area
    assert row["p"] == pytest.approx(4.0)
    assert (row["c"]["x"], row["c"]["y"]) == (
        pytest.approx(0.5), pytest.approx(0.5))
    # orientation-independent centroid
    assert row["c_cw"]["x"] == pytest.approx(0.5)

    # concave L: centroid must sit inside the L's mass, not the bbox
    # center; area 18, perimeter = 2*(5+6) = 22
    row2 = spark.range(1).select(
        ring_perimeter(_ring_lit(L_RING)).alias("p"),
        ring_centroid(_ring_lit(L_RING)).alias("c"),
    ).collect()[0]
    assert row2["p"] == pytest.approx(22.0)
    # exact centroid of the L (two-rect decomposition):
    # A1=10 @ (3.5,2), A2=8 @ (2,5) -> ((35+16)/18, (20+40)/18)
    assert row2["c"]["x"] == pytest.approx(51 / 18)
    assert row2["c"]["y"] == pytest.approx(60 / 18)
