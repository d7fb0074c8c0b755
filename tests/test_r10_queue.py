"""R10 registration queue, verified with the driver's own comparison
(row count, sorted columns, dtype kinds, exact values):
q_weighted_consensus vs its DuckDB oracle at sf0.001. Registration in
queries()/oracle_sql() happens at the r10 rotation head; this test is
the pre-registration gate (the r8->r9 bt_strengths/bucket_plan
pattern)."""

import duckdb
import pytest
from pyspark.sql import functions as F  # noqa: F401

import __spark_entry__ as m
from det_module_spark.operators.agreement import (
    weighted_consensus,
    weighted_consensus_sql,
)

pytestmark = pytest.mark.usefixtures("spark")


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


def test_weighted_consensus_flips_tie_to_better_rater(spark):
    # raters a/b agree on items 1-6; c is wrong on 1-4. Item 7 sees
    # only b:"y" vs c:"x": the unweighted majority tie-breaks
    # lexicographically to "x", but b's accuracy (6/7) outweighs c's
    # (3/7), so the weighted consensus flips to "y".
    rows = (
        [(i, "a", "x") for i in range(1, 7)]
        + [(i, "b", "x") for i in range(1, 7)]
        + [(i, "c", "y") for i in range(1, 5)]
        + [(i, "c", "x") for i in (5, 6)]
        + [(7, "b", "y"), (7, "c", "x")]
    )
    votes = spark.createDataFrame(
        rows, "item long, rater string, label string"
    )
    out = {r["item"]: r for r in weighted_consensus(votes).collect()}
    i7 = out[7]
    assert i7["majority"] == "x" and i7["consensus"] == "y"
    assert i7["changed"] is True
    # b = 6/7, c = 3/7 in ppm (integer div)
    assert i7["weight_for"] == 6 * 10**6 // 7
    assert i7["weight_total"] == 6 * 10**6 // 7 + 3 * 10**6 // 7
    assert all(not out[i]["changed"] for i in range(1, 7))


def test_weighted_consensus_matches_duckdb_twin(spark):
    rows = [
        (i, r, ("x" if (i * ord(r)) % 3 else "y") if (i + ord(r)) % 5 else None)
        for i in range(1, 30)
        for r in ("a", "b", "c", "d")
    ]
    votes = spark.createDataFrame(
        rows, "item long, rater string, label string"
    )
    got = sorted(tuple(r) for r in weighted_consensus(votes).collect())
    vals = ", ".join(
        f"({i}, '{r}', " + ("NULL" if l is None else f"'{l}'") + ")"
        for i, r, l in rows
    )
    ref = duckdb.connect().execute(
        weighted_consensus_sql(
            f"SELECT * FROM (VALUES {vals}) t(item, rater, label)"
        )
    ).fetchall()
    assert got == sorted(tuple(r) for r in ref)


def test_weighted_consensus_query_matches_oracle(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    sdf = m.q_weighted_consensus(spark, sf_dir).toPandas()
    odf = con.execute(m._weighted_consensus_sql()).fetchdf()
    assert len(sdf) > 100  # one row per order with >= 1 label
    assert sdf["changed"].any()  # the abstention 1-1 ties flip
    _compare(sdf, odf)


def test_supplier_rank_tau_query_matches_oracle(spark, sf_dir):
    con = duckdb.connect()
    for t in ("supplier", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    sdf = m.q_supplier_rank_tau(spark, sf_dir).toPandas()
    odf = con.execute(m._supplier_rank_tau_sql()).fetchdf()
    assert len(sdf) == 1 and int(sdf["n"][0]) >= 10
    _compare(sdf, odf)


def test_preference_cycles_query_matches_oracle(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    sdf = m.q_preference_cycles(spark, sf_dir).toPandas()
    odf = con.execute(m._preference_cycles_sql()).fetchdf()
    assert len(sdf) == 1 and int(sdf["n_triads"][0]) > 0
    _compare(sdf, odf)
