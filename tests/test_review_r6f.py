"""Regression pins for the round-6 sixth code-review pass (sources).

Ops/edge-input-only: the session-wide nanosAsLong conf leak (current
testdata is TIMESTAMP(MICROS) — the conf did nothing but retype
later reads), MultiPolygon/multi-file GeoJSON, non-integer raster
temporal tokens killing the doc bundle, the single-file CSV sink
delivering a directory, and the raster (file × tile) fan-out.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Row
from pyspark.sql import functions as F


def test_events_micros_load_leaves_session_conf_alone(spark, tmp_path):
    import shutil

    from det_module_spark.sources.tables import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    # current testdata is TIMESTAMP(MICROS): loading events must not
    # flip the session-wide legacy conf (which would silently retype
    # every later TIMESTAMP(NANOS) read in the caller's session)
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", sf / "events.parquet"
    )
    spark.conf.set(key, "false")
    df = load_table(spark, str(sf), "events")
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    assert spark.conf.get(key) == "false"


def test_events_nanos_file_still_loads_as_timestamp(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from det_module_spark.sources.tables import load_table

    sf = tmp_path / "sfn"
    sf.mkdir()
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [1704067200_000_000_123, 1704067201_000_000_456],
                pa.timestamp("ns"),
            ),
            "value": pa.array([1.0, 2.0], pa.float64()),
        }
    )
    pq.write_table(tbl, str(sf / "events.parquet"))
    df = load_table(spark, str(sf), "events")
    assert dict(df.dtypes)["ts"].startswith("timestamp")
    got = sorted(r["ts"] for r in df.select("ts").collect())
    assert got[0].year == 2024 and got[0].microsecond == 0  # ns÷1000


def test_geojson_multipolygon_and_multifile_ids(spark, tmp_path):
    from det_module_spark.sources.vector import read_geojson_boundaries

    def fc(features):
        return {"type": "FeatureCollection", "features": features}

    poly = {
        "type": "Feature",
        "properties": {"NAME_1": "P"},
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[0.0, 0.0], [2.0, 0.0], [2.0, 3.0], [0.0, 0.0]]],
        },
    }
    multi = {
        "type": "Feature",
        "properties": {"NAME_1": "M"},
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [
                [[[10.0, 10.0], [11.0, 10.0], [11.0, 12.0], [10.0, 10.0]]],
                [[[20.0, 20.0], [21.0, 20.0], [21.0, 25.0], [20.0, 20.0]]],
            ],
        },
    }
    # mixed types in ONE file (inference may type coordinates string)
    (tmp_path / "a.geojson").write_text(json.dumps(fc([poly, multi])))
    (tmp_path / "b.geojson").write_text(json.dumps(fc([poly])))

    one = read_geojson_boundaries(spark, str(tmp_path / "a.geojson"))
    rows = {r["properties"]["NAME_1"]: r for r in one.collect()}
    assert (rows["P"]["minx"], rows["P"]["maxy"]) == (0.0, 3.0)
    # MultiPolygon bbox spans BOTH islands
    assert (rows["M"]["minx"], rows["M"]["maxx"]) == (10.0, 21.0)
    assert (rows["M"]["miny"], rows["M"]["maxy"]) == (10.0, 25.0)

    both = read_geojson_boundaries(spark, str(tmp_path / "*.geojson"))
    ids = [r["asdf_id"] for r in both.collect()]
    assert len(ids) == 3 and len(set(ids)) == 3  # unique across files


def test_overview_tolerates_non_integer_temporal_tokens():
    from det_module_spark.sources.docbuilder import DocBuilder

    req = {
        "boundary": {"name": "b", "title": "B"},
        "release_data": [],
        "raster_data": [
            {
                "name": "x_v1_mean",
                "title": "X",
                "type": "raster",
                "custom_name": "c",
                "temporal_type": "year",
                "options": {"extract_types": ["mean"]},
                "files": [
                    {"name": "x_v1_mean_2012.tif", "path": "p1"},
                    {"name": "x_v1_mean_201201-v2", "path": "p2"},
                ],
            }
        ],
        "custom_name": "r",
        "email": "e@example.com",
    }
    text = DocBuilder(req).to_text()   # no ValueError
    assert "2012.tif, 201201-v2" in text


def test_write_single_csv_is_a_file(spark, tmp_path):
    from det_module_spark.sources.csv_source import read_extract_csv
    from det_module_spark.sources.sinks import write_merged_csv

    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b=None)], "a long, b string"
    )
    out = str(tmp_path / "res.csv")
    final = write_merged_csv(df, str(tmp_path), "res.csv")
    assert os.path.isfile(final) and final == out
    back = read_extract_csv(spark, out).orderBy("a").collect()
    assert [r["a"] for r in back] == [1, 2]
    assert back[1]["b"] is None      # ''-only NA round trip


def test_raster_cells_fan_out_one_task_per_tile(spark, tmp_path):
    import numpy as np

    from det_module_spark.sources.raster import read_raster_cells
    from det_module_spark.sources.tiff import write_tiff

    arr = np.arange(36, dtype=np.float32).reshape(6, 6)
    p = str(tmp_path / "t.tif")
    write_tiff(p, arr)
    cells = read_raster_cells(
        spark, [("d", "2001", p)], tile_size=4
    )
    got = {(r["cell_y"], r["cell_x"]): r["value"] for r in cells.collect()}
    assert len(got) == 36
    for (y, x), v in got.items():
        assert v == float(arr[y, x])
    # the executed plan decodes from the exploded (file × tile)
    # window inventory — 4 windows for a 6×6 raster at tile_size=4
    assert cells.count() == 36
