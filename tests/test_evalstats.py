"""Eval-statistics operators (fleiss_kappa, pass_at_k,
mcnemar_pairs, item_discrimination) — hand computations, DuckDB-twin
matches, enforced-guard trips, and the driver's own query-vs-oracle
comparison at sf0.001 (the r11 pre-registration gate, same contract
as tests/test_r11_queue.py)."""

import duckdb
import pytest

import __spark_entry__ as m
from det_module_spark.operators.agreement import (
    fleiss_kappa,
    fleiss_kappa_sql,
)
from det_module_spark.operators.evalstats import (
    item_discrimination,
    item_discrimination_sql,
    mcnemar_pairs,
    mcnemar_pairs_sql,
    pass_at_k,
    pass_at_k_sql,
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
# fleiss_kappa
# ------------------------------------------------------------------


def test_fleiss_kappa_hand_computed(spark):
    # 3 items x 3 raters: A = (x,x,y) -> poi 333333; B = (x,x,x) ->
    # 1e6; C = (x,y,z) -> 0. po = 1333333 div 3 = 444444.
    # pi ppm per category: x (666666+1000000+333333) div 3 = 666666,
    # y (333333+333333) div 3 = 222222, z 333333 div 3 = 111111;
    # pe = (666666^2 + 222222^2 + 111111^2) div 1e6 = 506171.
    rows = (
        [(1, "a", "x"), (1, "b", "x"), (1, "c", "y")]
        + [(2, "a", "x"), (2, "b", "x"), (2, "c", "x")]
        + [(3, "a", "x"), (3, "b", "y"), (3, "c", "z")]
    )
    votes = spark.createDataFrame(
        rows, "item long, rater string, label string"
    )
    r = fleiss_kappa(votes).collect()[0]
    assert (r["n_units"], r["n_pairable"]) == (3, 3)
    assert r["po_ppm"] == 444_444
    assert r["pe_ppm"] == 506_171
    # kappa = (444444 - 506171) * 1e6 div 493829; div truncates
    # toward zero, so the negative quotient is -(pos // pos)
    assert r["fleiss_kappa_ppm"] == -(
        (61_727 * 1_000_000) // 493_829
    )


def test_fleiss_kappa_perfect_and_degenerate(spark):
    # perfect agreement but ONE category everywhere: pe = 1e6 -> NULL
    rows = [(i, r, "x") for i in (1, 2) for r in ("a", "b")]
    votes = spark.createDataFrame(
        rows, "item long, rater string, label string"
    )
    r = fleiss_kappa(votes).collect()[0]
    assert r["po_ppm"] == 1_000_000
    assert r["fleiss_kappa_ppm"] is None
    # two balanced categories, perfect within-item agreement: kappa 1
    rows = [(1, "a", "x"), (1, "b", "x"), (2, "a", "y"), (2, "b", "y")]
    votes = spark.createDataFrame(
        rows, "item long, rater string, label string"
    )
    r = fleiss_kappa(votes).collect()[0]
    assert r["po_ppm"] == 1_000_000
    assert r["pe_ppm"] == 500_000
    assert r["fleiss_kappa_ppm"] == 1_000_000


def test_fleiss_kappa_unpairable_and_nulls(spark):
    rows = [
        (1, "a", "x"), (1, "b", "x"),
        (2, "a", None), (2, "b", "y"),   # 1 usable label: unpairable
        (3, "a", "z"),                   # single label: unpairable
    ]
    votes = spark.createDataFrame(
        rows, "item long, rater string, label string"
    )
    r = fleiss_kappa(votes).collect()[0]
    assert (r["n_units"], r["n_pairable"]) == (3, 1)


def test_fleiss_kappa_matches_duckdb(spark):
    rows = []
    for i in range(40):
        for j, r in enumerate(("a", "b", "c", "d")):
            if (i + j) % 5 == 0:
                continue  # abstention: variable m per item
            rows.append((i, r, ("x", "y", "z")[(i * (j + 1)) % 3]))
    votes = spark.createDataFrame(
        rows, "item long, rater string, label string"
    )
    got = tuple(fleiss_kappa(votes).collect()[0])
    vals = ", ".join(f"({i}, '{r}', '{v}')" for i, r, v in rows)
    ref = duckdb.connect().execute(
        fleiss_kappa_sql(
            f"SELECT * FROM (VALUES {vals}) t(item, rater, label)"
        )
    ).fetchone()
    assert got == tuple(ref)


def test_fleiss_unit_overflow_guard_trips(spark, monkeypatch):
    from det_module_spark.operators import agreement as ag

    rows = [(1, f"r{k}", "x") for k in range(6)] + [
        (2, "a", "x"), (2, "b", "y"),
    ]
    votes = spark.createDataFrame(
        rows, "item long, rater string, label string"
    )
    monkeypatch.setattr(ag, "FLEISS_UNIT_LIMIT", 5)
    with pytest.raises(Exception, match="unit label count"):
        ag.fleiss_kappa(votes).collect()
    monkeypatch.setattr(ag, "FLEISS_UNIT_LIMIT", 6)
    assert ag.fleiss_kappa(votes).collect()[0]["n_pairable"] == 2


# ------------------------------------------------------------------
# pass_at_k
# ------------------------------------------------------------------


def test_pass_at_k_hand_computed(spark):
    # one task, n = 4 samples, c = 2 correct:
    #   pass@1 = 1 - 2/4               -> 500000
    #   pass@2 = 1 - C(2,2)/C(4,2) = 5/6: stepwise 1e6*2 div 4 =
    #            500000, *1 div 3 = 166666 -> pass 833334
    #   pass@8: n < k -> skipped, no qualifying task
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 0), (1, 0)], "task long, correct long"
    )
    rows = {r["k"]: r for r in pass_at_k(df, ks=(1, 2, 8)).collect()}
    assert rows[1]["pass_ppm"] == 500_000
    assert rows[2]["pass_ppm"] == 833_334
    assert rows[8]["n_tasks"] == 0 and rows[8]["n_skipped"] == 1
    assert rows[8]["pass_ppm"] is None


def test_pass_at_k_edge_cases(spark):
    # all correct -> pass@k = 1e6 (fail product hits factor 0);
    # none correct -> pass@k = 0 exactly
    df = spark.createDataFrame(
        [(1, 1)] * 3 + [(2, 0)] * 3, "task long, correct long"
    )
    rows = {r["k"]: r for r in pass_at_k(df, ks=(1, 2)).collect()}
    # two tasks: pass@1 = (1e6 + 0) div 2; pass@2: C(3,2)/C(3,2)=1
    # fail for task2 -> (1e6 + 0) div 2
    assert rows[1]["pass_ppm"] == 500_000
    assert rows[2]["pass_ppm"] == 500_000
    assert rows[2]["n_tasks"] == 2


def test_pass_at_k_matches_duckdb(spark):
    rows = []
    for t in range(30):
        n = t % 7 + 1
        for s in range(n):
            rows.append((t, 1 if (t * 7 + s) % 3 == 0 else 0))
    df = spark.createDataFrame(rows, "task long, correct long")
    got = sorted(tuple(r) for r in pass_at_k(df, ks=(1, 3, 5)).collect())
    vals = ", ".join(f"({t}, {c})" for t, c in rows)
    ref = sorted(
        tuple(r)
        for r in duckdb.connect()
        .execute(
            pass_at_k_sql(
                f"SELECT * FROM (VALUES {vals}) t(task, correct)",
                ks=(1, 3, 5),
            )
        )
        .fetchall()
    )
    assert got == ref


def test_pass_at_k_overflow_guard_trips(spark, monkeypatch):
    from det_module_spark.operators import evalstats as ev

    df = spark.createDataFrame(
        [(1, 1)] * 4, "task long, correct long"
    )
    monkeypatch.setattr(ev, "PASS_N_LIMIT", 3)
    with pytest.raises(Exception, match="task sample count"):
        ev.pass_at_k(df, ks=(1,)).collect()
    monkeypatch.setattr(ev, "PASS_N_LIMIT", 4)
    assert ev.pass_at_k(df, ks=(1,)).collect()[0]["pass_ppm"] == 1_000_000


def test_passk_expr_grows_linearly():
    # each step must hold one copy of the running product: a copy per
    # CASE branch doubles the text per step and pushes the generated
    # aggregate past the 64 KB method limit
    from det_module_spark.operators.evalstats import _passk_expr

    small = len(_passk_expr("n", "c", "k", 4, "div"))
    assert len(_passk_expr("n", "c", "k", 16, "div")) < 5 * small


# ------------------------------------------------------------------
# mcnemar_pairs
# ------------------------------------------------------------------


def test_mcnemar_hand_computed(spark):
    # A correct on {1,2,3}, B on {3,4}, tasks 1..5:
    # b01 = |{1,2}| = 2, b10 = |{4}| = 1 -> (2-1)^2*1e6 // 3 = 333333
    rows = [(t, "A", 1 if t <= 3 else 0) for t in range(1, 6)] + [
        (t, "B", 1 if t in (3, 4) else 0) for t in range(1, 6)
    ]
    df = spark.createDataFrame(
        rows, "task long, model string, correct long"
    )
    r = mcnemar_pairs(df).collect()
    assert len(r) == 1
    assert (r[0]["model_a"], r[0]["model_b"]) == ("A", "B")
    assert (r[0]["n_common"], r[0]["b01"], r[0]["b10"]) == (5, 2, 1)
    assert r[0]["mcnemar_ppm"] == 333_333


def test_mcnemar_no_discordant_is_null(spark):
    rows = [(t, mname, t % 2) for t in range(1, 5) for mname in "AB"]
    df = spark.createDataFrame(
        rows, "task long, model string, correct long"
    )
    r = mcnemar_pairs(df).collect()[0]
    assert r["b01"] == 0 and r["b10"] == 0
    assert r["mcnemar_ppm"] is None


def test_mcnemar_matches_duckdb(spark):
    rows = []
    for t in range(25):
        for j, mo in enumerate(("m1", "m2", "m3", "m4")):
            if (t + j) % 6 == 0:
                continue  # partial attempt matrix
            rows.append((t, mo, 1 if (t * (j + 2)) % 3 == 0 else 0))
    df = spark.createDataFrame(
        rows, "task long, model string, correct long"
    )
    got = sorted(tuple(r) for r in mcnemar_pairs(df).collect())
    vals = ", ".join(f"({t}, '{mo}', {c})" for t, mo, c in rows)
    ref = sorted(
        tuple(r)
        for r in duckdb.connect()
        .execute(
            mcnemar_pairs_sql(
                f"SELECT * FROM (VALUES {vals}) t(task, model, correct)"
            )
        )
        .fetchall()
    )
    assert got == ref


def test_mcnemar_overflow_guard_trips(spark, monkeypatch):
    from det_module_spark.operators import evalstats as ev

    rows = [(t, "A", 1) for t in range(3)] + [(t, "B", 0) for t in range(3)]
    df = spark.createDataFrame(
        rows, "task long, model string, correct long"
    )
    monkeypatch.setattr(ev, "MCNEMAR_DIFF_LIMIT", 2)
    with pytest.raises(Exception, match="b01-b10"):
        ev.mcnemar_pairs(df).collect()
    monkeypatch.setattr(ev, "MCNEMAR_DIFF_LIMIT", 3)
    assert ev.mcnemar_pairs(df).collect()[0]["mcnemar_ppm"] == 3_000_000


# ------------------------------------------------------------------
# item_discrimination
# ------------------------------------------------------------------


def test_item_discrimination_hand_computed(spark):
    # abilities: m1 = 3, m2 = 2, m3 = 1
    # task 1: x = (1,1,0) -> r = 3/sqrt(2*6) = 0.866025...
    # task 3: x = (1,1,1) constant -> NULL discrimination
    rows = [
        (1, "m1", 1), (1, "m2", 1), (1, "m3", 0),
        (2, "m1", 1), (2, "m2", 0), (2, "m3", 0),
        (3, "m1", 1), (3, "m2", 1), (3, "m3", 1),
    ]
    df = spark.createDataFrame(
        rows, "task long, model string, correct long"
    )
    out = {r["task"]: r for r in item_discrimination(df).collect()}
    assert out[1]["difficulty_ppm"] == 666_666
    assert out[1]["discrimination"] == pytest.approx(
        3 / (2 * 6) ** 0.5, rel=1e-12
    )
    assert out[3]["difficulty_ppm"] == 1_000_000
    assert out[3]["discrimination"] is None
    assert all(out[t]["n_models"] == 3 for t in (1, 2, 3))


def test_item_discrimination_matches_duckdb(spark):
    rows = []
    for t in range(30):
        for j, mo in enumerate(("m1", "m2", "m3", "m4", "m5")):
            if (t * j) % 7 == 1:
                continue
            rows.append((t, mo, 1 if (t + j * j) % 3 == 0 else 0))
    df = spark.createDataFrame(
        rows, "task long, model string, correct long"
    )
    got = sorted(tuple(r) for r in item_discrimination(df).collect())
    vals = ", ".join(f"({t}, '{mo}', {c})" for t, mo, c in rows)
    ref = sorted(
        tuple(r)
        for r in duckdb.connect()
        .execute(
            item_discrimination_sql(
                f"SELECT * FROM (VALUES {vals}) t(task, model, correct)"
            )
        )
        .fetchall()
    )
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        assert g[:3] == r[:3]
        if g[3] is None:
            assert r[3] is None
        else:
            assert g[3] == pytest.approx(r[3], rel=1e-12)


def test_item_discrimination_guard_trips(spark, monkeypatch):
    from det_module_spark.operators import evalstats as ev

    rows = [
        (1, "m1", 1), (1, "m2", 0),
        (2, "m1", 1), (2, "m2", 1),
    ]
    df = spark.createDataFrame(
        rows, "task long, model string, correct long"
    )
    monkeypatch.setattr(ev, "DISCRIM_NA_LIMIT", 3)  # n*max_y = 2*2 = 4
    with pytest.raises(Exception, match="max_ability"):
        ev.item_discrimination(df).collect()
    monkeypatch.setattr(ev, "DISCRIM_NA_LIMIT", 4)
    assert len(ev.item_discrimination(df).collect()) == 2


# ------------------------------------------------------------------
# query-vs-oracle gates at sf0.001 (the driver's own comparison)
# ------------------------------------------------------------------


def _con(sf_dir, *tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_fleiss_query_matches_oracle(spark, sf_dir):
    sdf = m.q_fleiss_kappa(spark, sf_dir).toPandas()
    odf = _con(sf_dir, "orders").execute(m._fleiss_kappa_sql()).fetchdf()
    assert len(sdf) == 1 and int(sdf["n_pairable"][0]) > 100
    _compare(sdf, odf)


def test_pass_at_k_query_matches_oracle(spark, sf_dir):
    sdf = m.q_pass_at_k(spark, sf_dir).toPandas()
    odf = _con(sf_dir, "lineitem").execute(m._pass_at_k_sql()).fetchdf()
    assert len(sdf) == 4
    _compare(sdf, odf)


def test_mcnemar_query_matches_oracle(spark, sf_dir):
    sdf = m.q_mcnemar_pairs(spark, sf_dir).toPandas()
    odf = _con(sf_dir, "lineitem").execute(m._mcnemar_pairs_sql()).fetchdf()
    assert len(sdf) >= 10
    _compare(sdf, odf)


def test_item_discrimination_query_matches_oracle(spark, sf_dir):
    sdf = m.q_item_discrimination(spark, sf_dir).toPandas()
    odf = _con(sf_dir, "lineitem").execute(
        m._item_discrimination_sql()
    ).fetchdf()
    assert len(sdf) >= 10
    _compare(sdf, odf)
