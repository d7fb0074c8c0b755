"""R9 registration queue, verified TODAY with the driver's own
comparison (row count, sorted columns, dtype kinds, exact values):
q_bt_strengths and q_bucket_plan vs their DuckDB oracles at sf0.001.
Registration in queries()/oracle_sql() happens at the r9 rotation
head; this test is the pre-registration gate."""

import duckdb
import pytest

import __spark_entry__ as m

pytestmark = pytest.mark.usefixtures("spark")


def _oracle(sf_dir, sql):
    con = duckdb.connect()
    for t in ("lineitem", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).fetchdf()


def _compare(sdf, odf):
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    from check_parity import canon, dtype_kinds

    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert dtype_kinds(sdf) == dtype_kinds(odf)
    assert canon(sdf) == canon(odf)


def test_bt_strengths_query_matches_oracle(spark, sf_dir):
    sdf = m.q_bt_strengths(spark, sf_dir).toPandas()
    odf = _oracle(sf_dir, m._bt_strengths_sql())
    assert len(sdf) >= 10  # the full sf0.001 supplier population
    _compare(sdf, odf)


def test_bucket_plan_query_matches_oracle(spark, sf_dir):
    sdf = m.q_bucket_plan(spark, sf_dir).toPandas()
    odf = _oracle(sf_dir, m._bucket_plan_sql())
    assert len(sdf) == 1
    _compare(sdf, odf)


def test_label_agreement_query_matches_oracle(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    sdf = m.q_label_agreement(spark, sf_dir).toPandas()
    odf = con.execute(m._label_agreement_sql()).fetchdf()
    assert len(sdf) == 1
    _compare(sdf, odf)


def test_rater_reliability_query_matches_oracle(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    sdf = m.q_rater_reliability(spark, sf_dir).toPandas()
    odf = con.execute(m._rater_reliability_sql()).fetchdf()
    assert len(sdf) == 3  # three deterministic raters
    _compare(sdf, odf)
