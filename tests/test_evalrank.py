"""Rank-based eval metrics (auc_roc, ks_test) — hand computations,
DuckDB-twin matches, guard trips, and the query-vs-oracle gates at
sf0.001 (r11 pre-registration gate, same contract as
tests/test_evalstats.py)."""

import duckdb
import pytest

import __spark_entry__ as m
from det_module_spark.operators.evalstats import (
    auc_roc,
    auc_roc_sql,
    ks_test,
    ks_test_sql,
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


# ------------------------------------------------------------------
# auc_roc
# ------------------------------------------------------------------


def test_auc_perfect_separation(spark):
    # all positives score above all negatives: AUC = 1
    rows = [(10, 1), (9, 1), (2, 0), (1, 0)]
    df = spark.createDataFrame(rows, "score long, label long")
    r = auc_roc(df).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["u2"] == 2 * 2 * 2 * 2 // 2  # 2U = 2*n_pos*n_neg
    assert r["auc_ppm"] == 1_000_000


def test_auc_hand_computed_with_ties(spark):
    # scores: pos at {3, 2}, neg at {2, 1}.
    # pairs: (3>2), (3>1), (2=2 tie: 1/2), (2>1) -> U = 3.5, 2U = 7
    # AUC = 3.5/4 = 0.875
    rows = [(3, 1), (2, 1), (2, 0), (1, 0)]
    df = spark.createDataFrame(rows, "score long, label long")
    r = auc_roc(df).collect()[0]
    assert r["u2"] == 7
    assert r["auc_ppm"] == 875_000


def test_auc_reversed_is_zero_and_empty_class_null(spark):
    rows = [(1, 1), (2, 0)]
    df = spark.createDataFrame(rows, "score long, label long")
    assert auc_roc(df).collect()[0]["auc_ppm"] == 0
    df = spark.createDataFrame([(1, 1), (2, 1)], "score long, label long")
    r = auc_roc(df).collect()[0]
    assert r["n_neg"] == 0 and r["auc_ppm"] is None


def test_auc_matches_duckdb(spark):
    rows = [(((i * 37) % 50), 1 if (i * 13) % 3 == 0 else 0) for i in range(200)]
    df = spark.createDataFrame(rows, "score long, label long")
    got = tuple(auc_roc(df).collect()[0])
    vals = ", ".join(f"({s}, {y})" for s, y in rows)
    ref = duckdb.connect().execute(
        auc_roc_sql(f"SELECT * FROM (VALUES {vals}) t(score, label)")
    ).fetchone()
    assert got == tuple(ref)


def test_auc_guard_trips(spark, monkeypatch):
    from det_module_spark.operators import evalstats as ev

    rows = [(i, i % 2) for i in range(8)]  # n_pos*n_neg = 16
    df = spark.createDataFrame(rows, "score long, label long")
    monkeypatch.setattr(ev, "AUC_PAIRS_LIMIT", 15)
    with pytest.raises(Exception, match="n_pos"):
        ev.auc_roc(df).collect()
    monkeypatch.setattr(ev, "AUC_PAIRS_LIMIT", 16)
    assert ev.auc_roc(df).collect()[0]["auc_ppm"] is not None


# ------------------------------------------------------------------
# ks_test
# ------------------------------------------------------------------


def test_ks_identical_distributions_zero(spark):
    rows = [(v, g) for v in (1, 2, 3) for g in (0, 1)]
    df = spark.createDataFrame(rows, "value long, flag long")
    r = ks_test(df).collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["d_num"] == 0 and r["ks_ppm"] == 0


def test_ks_disjoint_distributions_one(spark):
    # A entirely below B: D = 1
    rows = [(1, 0), (2, 0), (10, 1), (11, 1)]
    df = spark.createDataFrame(rows, "value long, flag long")
    r = ks_test(df).collect()[0]
    assert r["d_num"] == 4  # n_a*n_b
    assert r["ks_ppm"] == 1_000_000


def test_ks_hand_computed(spark):
    # A = {1, 2, 3}, B = {2, 3, 4}: at v=1 |1*3-0*3| = 3; v=2
    # |2*3-1*3| = 3; v=3 |3*3-2*3| = 3; v=4 |9-9| = 0 -> D = 3/9
    rows = [(1, 0), (2, 0), (3, 0), (2, 1), (3, 1), (4, 1)]
    df = spark.createDataFrame(rows, "value long, flag long")
    r = ks_test(df).collect()[0]
    assert r["d_num"] == 3
    assert r["ks_ppm"] == 3 * 1_000_000 // 9


def test_ks_matches_duckdb(spark):
    rows = [((i * 17) % 23, 1 if i % 3 == 0 else 0) for i in range(150)]
    df = spark.createDataFrame(rows, "value long, flag long")
    got = tuple(ks_test(df).collect()[0])
    vals = ", ".join(f"({v}, {g})" for v, g in rows)
    ref = duckdb.connect().execute(
        ks_test_sql(f"SELECT * FROM (VALUES {vals}) t(value, flag)")
    ).fetchone()
    assert got == tuple(ref)


def test_ks_guard_trips(spark, monkeypatch):
    from det_module_spark.operators import evalstats as ev

    rows = [(i, i % 2) for i in range(8)]  # n_a*n_b = 16
    df = spark.createDataFrame(rows, "value long, flag long")
    monkeypatch.setattr(ev, "KS_PAIRS_LIMIT", 15)
    with pytest.raises(Exception, match="n_a"):
        ev.ks_test(df).collect()
    monkeypatch.setattr(ev, "KS_PAIRS_LIMIT", 16)
    assert ev.ks_test(df).collect()[0]["ks_ppm"] is not None


# ------------------------------------------------------------------
# query-vs-oracle gates at sf0.001
# ------------------------------------------------------------------


def _con(sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    return con


def test_auc_query_matches_oracle(spark, sf_dir):
    sdf = m.q_auc_roc(spark, sf_dir).toPandas()
    odf = _con(sf_dir).execute(m._auc_roc_sql()).fetchdf()
    assert len(sdf) == 1 and int(sdf["n_pos"][0]) > 100
    _compare(sdf, odf)


def test_ks_query_matches_oracle(spark, sf_dir):
    sdf = m.q_ks_test(spark, sf_dir).toPandas()
    odf = _con(sf_dir).execute(m._ks_test_sql()).fetchdf()
    assert len(sdf) == 1 and int(sdf["n_a"][0]) > 100
    _compare(sdf, odf)
