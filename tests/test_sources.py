"""Raster/vector sources + the full J2 composition + CSV NA semantics."""

import json

import pytest
from pyspark.sql import functions as F

from det_module_spark.operators.extract_types import zonal_extract
from det_module_spark.operators.spatial import spatial_join_rect
from det_module_spark.sources.csv_source import read_extract_csv
from det_module_spark.sources.raster import read_raster_cells, synthetic_raster
from det_module_spark.sources.vector import read_geojson_boundaries, rect_boundaries


def test_synthetic_raster_shape(spark):
    r = synthetic_raster(spark, "udel", "1998", width=20, height=10)
    assert r.count() == 200
    assert set(r.columns) == {"dataset", "temporal", "cell_y", "cell_x", "value"}
    bounds = r.agg(
        F.max("cell_x").alias("mx"), F.max("cell_y").alias("my")
    ).collect()[0]
    assert (bounds["mx"], bounds["my"]) == (19, 9)


def test_raster_reader_runs_without_rasterio(spark, tmp_path):
    # S9 is no longer import-gated: without rasterio the pure
    # baseline-TIFF codec decodes real files (full coverage in
    # tests/test_tiff_raster.py)
    import numpy as np

    from det_module_spark.sources.tiff import write_tiff

    path = str(tmp_path / "r.tif")
    write_tiff(path, np.arange(6, dtype=np.float32).reshape(2, 3))
    out = read_raster_cells(spark, [("d", "1998", path)]).collect()
    assert {(r["cell_y"], r["cell_x"], r["value"]) for r in out} == {
        (0, 0, 0.0), (0, 1, 1.0), (0, 2, 2.0),
        (1, 0, 3.0), (1, 1, 4.0), (1, 2, 5.0),
    }


def test_rect_boundaries_tile(spark):
    b = rect_boundaries(spark, n_x=3, n_y=2, cell=2.0)
    rows = {r["asdf_id"]: r for r in b.collect()}
    assert len(rows) == 6
    assert (rows[4]["minx"], rows[4]["miny"]) == (2.0, 2.0)  # id 4 = (x1,y1)
    assert (rows[4]["maxx"], rows[4]["maxy"]) == (4.0, 4.0)


def test_geojson_boundaries(spark, tmp_path):
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"NAME_1": "Kano"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[1.0, 2.0], [3.0, 2.0], [3.0, 5.0], [1.0, 5.0], [1.0, 2.0]]],
                },
            },
            {
                "type": "Feature",
                "properties": {"NAME_1": "Lagos"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[-1.0, 0.0], [0.5, 0.0], [0.5, 1.0], [-1.0, 1.0], [-1.0, 0.0]]],
                },
            },
        ],
    }
    p = tmp_path / "bounds.geojson"
    p.write_text(json.dumps(fc))
    b = read_geojson_boundaries(spark, str(p))
    rows = sorted(b.collect(), key=lambda r: r["asdf_id"])
    assert rows[0]["properties"]["NAME_1"] == "Kano"
    assert (rows[0]["minx"], rows[0]["miny"], rows[0]["maxx"], rows[0]["maxy"]) == (
        1.0, 2.0, 3.0, 5.0,
    )
    assert rows[1]["minx"] == -1.0


def test_full_zonal_over_spatial_join(spark):
    """The real J2+§2.4 composition: raster -> points -> bucketed join
    -> zonal extract, verified against closed-form assignment."""
    raster = synthetic_raster(spark, "udel", "1998", width=40, height=40)
    pts = raster.select(
        (F.col("cell_x") * 0.05 + 0.025).alias("lon"),
        (F.col("cell_y") * 0.05 + 0.025).alias("lat"),
        "value",
    )
    bounds = rect_boundaries(spark, n_x=2, n_y=2)  # 2x2 over [0,2)²
    joined = spatial_join_rect(pts, bounds, bucket_size=1.0)
    out = zonal_extract(joined, "count")
    got = {r["asdf_id"]: r["exfield_0"] for r in out.collect()}
    # each 1°x1° feature holds 20x20 cells at 0.05°
    assert got == {0: 400, 1: 400, 2: 400, 3: 400}


def test_csv_exact_na_semantics(spark, tmp_path):
    """Only '' is NA; literal 'NA'/'NaN'/'null' are data
    (request_tools.py:645-646)."""
    p = tmp_path / "extract.csv"
    p.write_text('asdf_id,exfield_0,name\n1,2.5,NA\n2,,null\n3,4.0,""\n')
    df = read_extract_csv(spark, str(p))
    rows = {r["asdf_id"]: r for r in df.collect()}
    assert rows[1]["name"] == "NA"  # literal string survives
    assert rows[2]["exfield_0"] is None  # empty -> null
    assert rows[2]["name"] == "null"  # literal string survives
    assert rows[3]["name"] is None  # quoted empty is still ''->null


def test_orc_round_trip(spark, tmp_path):
    """ORC source/sink (Spark-native columnar alternative to parquet):
    schema and values survive a write/read round-trip, and predicate
    pushdown reaches the ORC scan."""
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, "a", -2.0)],
        "id long, tag string, v double",
    )
    path = str(tmp_path / "t.orc")
    df.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    plan = (
        back.filter(F.col("id") > 1)
        .select("tag")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in plan


@pytest.mark.parametrize(
    "env, table", [("SPARK_GRAFT_SCAN_PART_BYTES", "region"),
                   ("SPARK_GRAFT_SCAN_PART_BYTES_TEXT", "documents")]
)
@pytest.mark.parametrize("value", ["0", "-4096", "1MB"])
def test_scan_floor_knob_rejects_non_positive_sizes(
    spark, tmp_path, monkeypatch, env, table, value
):
    """The scan-floor partition size must be a positive integer; a bad
    value is an error that names the variable, not a ZeroDivisionError
    or a silently ignored floor."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from det_module_spark.sources.tables import load_table

    pq.write_table(pa.table({"k": [1, 2, 3]}), str(tmp_path / f"{table}.parquet"))
    monkeypatch.setenv(env, value)
    with pytest.raises(ValueError, match=f"^{env} must"):
        load_table(spark, str(tmp_path), table)
