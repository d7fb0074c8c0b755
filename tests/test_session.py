"""Session posture: the generated-class cache holds the working set,
and the core-count variable is validated where it is read."""

import pytest

from det_module_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
    get_spark,
    spark_cpus,
)


def test_codegen_cache_keeps_generated_classes(spark):
    """60 distinct projections generate more classes than Spark's
    default cache of 100 holds; with the engine's cap a second pass
    over them finds every class cached and compiles nothing."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def one_pass():
        for i in range(60):
            spark.range(8).selectExpr(f"id * {i + 2} + 1").collect()

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before == 0


@pytest.mark.parametrize("value", ["0", "-2", "four"])
def test_cpus_variable_rejects_non_positive_counts(spark, tmp_path, monkeypatch, value):
    """``SPARK_GRAFT_CPUS`` must be a positive integer; a bad value
    fails at each reader with an error that names the variable, not
    as ``local[0]``, a zero scan floor or an unnamed ``int()`` error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from det_module_spark.sources.tables import load_table

    pq.write_table(pa.table({"k": [1, 2, 3]}), str(tmp_path / "orders.parquet"))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    match = "^SPARK_GRAFT_CPUS must"
    with pytest.raises(ValueError, match=match):
        spark_cpus()
    with pytest.raises(ValueError, match=match):
        load_table(spark, str(tmp_path), "orders")
    with pytest.raises(ValueError, match=match):
        get_spark("bad-cpus")


def test_cpus_variable_reads_a_positive_count(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert spark_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert spark_cpus() == 32
