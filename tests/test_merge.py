"""Wide-merge + naming algebra golden tests (SURVEY.md hard list (d))."""

import pyarrow as pa
import pytest

from det_module_spark.operators.merge import MergeItem, merge_extracts, renamed_exfields


@pytest.fixture(scope="module")
def frames():
    base = pa.table(
        {
            "asdf_id": [1, 2],
            "exfield_0": [1.5, 2.5],
            "NAME_0": ["Nigeria", "Nigeria"],
            "NAME_1": ["Kano", "Lagos"],
        }
    )
    rel = pa.table(
        {
            "asdf_id": [1, 2],
            "exfield_sum": [10.0, 4.0],
            "exfield_potential": [20.0, 8.0],
            "exfield_reliability": [0.5, 0.5],
        }
    )
    cat = pa.table(
        {"asdf_id": [1, 2], "exfield_water": [3, 0], "exfield_forest": [1, 2]}
    )
    wb = pa.table({"asdf_id": [1, 2], "exfield_sum": [7.0, 9.0]})
    return base, rel, cat, wb


def test_rename_identity_case(frames):
    base, _, _, _ = frames
    item = MergeItem(base, "udel_precip_v401_sum", "1998", "mean")
    assert renamed_exfields(item) == [
        ("exfield_0", "udel_precip_v401_sum.1998.mean")
    ]


def test_rename_categorical_case(frames):
    # request_tools.py:670-673: append _<category> to the file stem
    _, _, cat, _ = frames
    item = MergeItem(cat, "landcover", "2000", "categorical")
    assert renamed_exfields(item) == [
        ("exfield_water", "landcover.2000.categorical_water"),
        ("exfield_forest", "landcover.2000.categorical_forest"),
    ]


def test_rename_reliability_case(frames):
    # request_tools.py:675-681: <dataset>.<hash7>.<method>
    _, rel, _, _ = frames
    h = "0123456789abcdef"
    item = MergeItem(rel, "aiddata_v3", h, "reliability")
    assert renamed_exfields(item) == [
        ("exfield_sum", "aiddata_v3.0123456.sum"),
        ("exfield_potential", "aiddata_v3.0123456.potential"),
        ("exfield_reliability", "aiddata_v3.0123456.reliability"),
    ]


def test_rename_worldbank_case(frames):
    # worldbank_* datasets take the hash7 path even for 'sum'
    _, _, _, wb = frames
    item = MergeItem(wb, "worldbank_v1_4_1", "fedcba9876543210", "sum")
    assert renamed_exfields(item) == [
        ("exfield_sum", "worldbank_v1_4_1.fedcba9.sum")
    ]


def test_merge_column_order_and_values(frames):
    base, rel, cat, wb = frames
    merged = merge_extracts(
        [
            MergeItem(base, "udel_precip_v401_sum", "1998", "mean"),
            MergeItem(rel, "aiddata_v3", "0123456789abcdef", "reliability"),
            MergeItem(cat, "landcover", "2000", "categorical"),
            MergeItem(wb, "worldbank_v1_4_1", "fedcba9876543210", "sum"),
        ]
    )
    # order: asdf_id, extract cols in merge order, then passthrough attrs
    # (request_tools.py:630, 690-695)
    assert merged.column_names == [
        "asdf_id",
        "udel_precip_v401_sum.1998.mean",
        "aiddata_v3.0123456.sum",
        "aiddata_v3.0123456.potential",
        "aiddata_v3.0123456.reliability",
        "landcover.2000.categorical_water",
        "landcover.2000.categorical_forest",
        "worldbank_v1_4_1.fedcba9.sum",
        "NAME_0",
        "NAME_1",
    ]
    rows = {r["asdf_id"]: r for r in merged.to_pylist()}
    assert rows[1]["udel_precip_v401_sum.1998.mean"] == 1.5
    assert rows[1]["aiddata_v3.0123456.reliability"] == 0.5
    assert rows[2]["landcover.2000.categorical_forest"] == 2
    assert rows[2]["NAME_1"] == "Lagos"


def test_merge_is_order_insensitive_on_key():
    # property (SURVEY.md §5.2): join alignment, not positional
    a = pa.table({"asdf_id": [1, 2, 3], "exfield_0": [1.0, 2.0, 3.0]})
    b = pa.table({"asdf_id": [3, 1, 2], "exfield_0": [30.0, 10.0, 20.0]})
    merged = merge_extracts(
        [MergeItem(a, "x", "1", "mean"), MergeItem(b, "y", "1", "sum")]
    )
    rows = {r["asdf_id"]: r for r in merged.to_pylist()}
    assert all(rows[i]["y.1.sum"] == i * 10 for i in (1, 2, 3))


def test_merge_missing_feature_is_null():
    # FULL OUTER: a feature one item lacks keeps its row, with that
    # item's columns null — including the first item's passthrough
    a = pa.table(
        {"asdf_id": [1, 2, 3], "exfield_0": [1.0, 2.0, 3.0], "NAME": ["a", "b", "c"]}
    )
    b = pa.table({"asdf_id": [1, 3, 4], "exfield_water": [5, 6, 7]})
    merged = merge_extracts(
        [MergeItem(a, "x", "1", "mean"), MergeItem(b, "lc", "2000", "categorical")]
    )
    rows = {r["asdf_id"]: r for r in merged.to_pylist()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[2]["lc.2000.categorical_water"] is None
    assert rows[2]["x.1.mean"] == 2.0 and rows[2]["NAME"] == "b"
    assert rows[4]["x.1.mean"] is None and rows[4]["NAME"] is None
    assert rows[4]["lc.2000.categorical_water"] == 7


def test_merge_rows_sorted_by_key():
    # output order is the key order, whatever order the inputs hold
    a = pa.table({"asdf_id": [5, 3, 9, 1], "exfield_0": [5.0, 3.0, 9.0, 1.0]})
    b = pa.table({"asdf_id": [9, 7, 1], "exfield_0": [90.0, 70.0, 10.0]})
    merged = merge_extracts(
        [MergeItem(a, "x", "1", "mean"), MergeItem(b, "y", "1", "sum")]
    )
    assert merged.column("asdf_id").to_pylist() == [1, 3, 5, 7, 9]
    assert merged.column("y.1.sum").to_pylist() == [10.0, None, None, 70.0, 90.0]
