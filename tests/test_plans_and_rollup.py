"""Physical-plan regression guards + hierarchical rollup + queue state.

The plan tests pin the scale-critical properties (§SCALING.md): filters
reach the parquet scan, small dims broadcast, aggregations have
map-side partials. If a refactor silently loses one of these, these
fail before the cluster bill does.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from det_module_spark.operators.queue import check_id, get_status, update_status
from det_module_spark.operators.rollup_time import (
    finalize,
    rollup_from_partials,
    time_rollup,
)

SF = "/root/testdata/sf0.001"


def test_release_filters_pushdown(spark):
    df = entry_mod.q_release_filters(spark, SF)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters:" in explained
    assert "In(l_returnflag, [A,R])" in explained
    # column pruning: only the 4 needed columns are read
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double" in explained


def test_catalog_join_broadcasts(spark):
    df = entry_mod.q_catalog_join(spark, SF)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # formatted output lists each node twice (tree + detail): 2 joins = 4
    assert explained.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in explained


def test_zonal_has_partial_aggregation(spark):
    df = entry_mod.queries()["zonal_mean"](spark, SF)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "partial_avg" in explained
    # exactly one shuffle (node appears twice: tree + detail section)
    assert explained.count("Exchange") == 2


def test_anti_join_broadcasts(spark):
    df = entry_mod.q_cache_anti_join(spark, SF)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin LeftAnti" in explained


def test_rollup_levels_consistent(spark):
    ev = entry_mod._events(spark, SF)
    hourly = time_rollup(ev, "hour")
    daily_from_hourly = rollup_from_partials(hourly, "day")
    daily_direct = time_rollup(ev, "day")

    a = {
        (r["bucket"], r["event_type"]): (r["n"], r["min_v"], r["max_v"])
        for r in daily_from_hourly.collect()
    }
    b = {
        (r["bucket"], r["event_type"]): (r["n"], r["min_v"], r["max_v"])
        for r in daily_direct.collect()
    }
    assert a == b  # counts/min/max exactly equal across derivation paths

    fin = finalize(daily_from_hourly).collect()[0]
    assert abs(fin["mean_v"] - fin["sum_v"] / fin["n"]) < 1e-12


def test_rollup_rejects_unknown_granularity(spark):
    ev = entry_mod._events(spark, SF)
    with pytest.raises(ValueError, match="granularity"):
        time_rollup(ev, "fortnight")


def test_queue_update_status(spark):
    q = spark.createDataFrame(
        [Row(_id="a", status=-1, stage_prep_time=0),
         Row(_id="b", status=0, stage_prep_time=0)]
    )
    updated = update_status(q, "a", 2, stage="prep", now=1234)
    rows = {r["_id"]: r for r in updated.collect()}
    assert rows["a"]["status"] == 2 and rows["a"]["stage_prep_time"] == 1234
    assert rows["b"]["status"] == 0 and rows["b"]["stage_prep_time"] == 0
    assert [r["status"] for r in get_status(updated, "a").collect()] == [2]
    assert [r["_id"] for r in check_id(updated, "b").collect()] == ["b"]
