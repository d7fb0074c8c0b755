"""Global dense-id assignment without a global window."""

from pyspark.sql import functions as F


def test_dense_ids_contract(spark, partitions):
    import random

    from det_module_spark.operators.ids import dense_ids

    vals = list(range(0, 999, 3))
    random.Random(3).shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "k int").repartition(7)
    with partitions(6):
        out = dense_ids(df, "k").collect()
    pairs = sorted((r["k"], r["row_id"]) for r in out)
    # ids are exactly 0..n-1 in key order
    assert [rid for _, rid in pairs] == list(range(len(vals)))
    # independent of input partitioning and range-partition count
    with partitions(11):
        out2 = dense_ids(df.repartition(2), "k").collect()
    assert sorted((r["k"], r["row_id"]) for r in out2) == pairs


def test_dense_ids_no_global_window(spark, partitions):
    from det_module_spark.operators.ids import dense_ids

    df = spark.createDataFrame([(v,) for v in range(100)], "k int")
    with partitions(4):
        plan = dense_ids(df, "k")._sc._jvm.PythonSQLUtils.explainString(
            dense_ids(df, "k")._jdf.queryExecution(), "formatted"
        )
    assert "Window" not in plan
    assert "SinglePartition" not in plan
