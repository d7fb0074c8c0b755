"""R11 registration queue, verified with the driver's own comparison
(row count, sorted columns, dtype kinds, exact values): the two
pairwise-matrix audit queries vs their DuckDB oracles. Registration
in queries()/oracle_sql() happens at the r11 rotation head; this file
is the pre-registration gate (the r8→r9→r10 pattern). The playbook
rule from VERDICT r09 #1 applies: these queue commits re-run the
static gates (scale audit, broadcast whitelist) — appended-only code
is NOT exempt, because the gates grep the tree."""

import duckdb
import pytest
from pyspark.sql import functions as F  # noqa: F401

import __spark_entry__ as m
from det_module_spark.operators.prefstats import (
    pairwise_coverage,
    pairwise_coverage_sql,
    player_consistency,
    player_consistency_sql,
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


def test_pairwise_coverage_hand_computed(spark):
    # 4 players; observed pairs: (1,2) x6, (1,3) x2, (3,4) x1
    # possible = C(4,2) = 6; observed 3 -> 500000 ppm;
    # >=5 games: only (1,2) -> 166666 ppm
    rows = [(1, 2)] * 4 + [(2, 1)] * 2 + [(1, 3), (3, 1), (3, 4)]
    df = spark.createDataFrame(rows, "winner long, loser long")
    r = pairwise_coverage(df, min_games=5).collect()[0]
    assert (r["n_players"], r["n_games"]) == (4, 9)
    assert (r["n_possible_pairs"], r["n_pairs_observed"]) == (6, 3)
    assert r["n_pairs_min_games"] == 1
    assert r["coverage_ppm"] == 500_000
    assert r["wellsampled_ppm"] == 166_666


def test_pairwise_coverage_matches_duckdb(spark):
    games = []
    for a in range(1, 8):
        for b in range(a + 1, 8):
            if (a * b) % 3:
                games += [(a, b)] * ((a + b) % 6 + 1)
    df = spark.createDataFrame(games, "winner long, loser long")
    got = tuple(pairwise_coverage(df).collect()[0])
    vals = ", ".join(f"({w}, {l})" for w, l in games)
    ref = duckdb.connect().execute(
        pairwise_coverage_sql(
            f"SELECT * FROM (VALUES {vals}) t(winner, loser)"
        )
    ).fetchone()
    assert got == tuple(ref)


def test_player_consistency_upset_accounting(spark):
    from collections import Counter

    # 1 beats 2 twice, 2 beats 3 twice, 3 beats 1 once (upset: 3's
    # copeland (2) < 1's (2)? compute: pairs (1,2) 1 wins -> 1:+2;
    # (2,3) 2 wins -> 2:+2; (1,3) 3 wins -> 3:+2. All copeland2 = 2,
    # every decisive pair is a SCORE TIE, zero upsets.
    rps = spark.createDataFrame(
        [(1, 2)] * 2 + [(2, 3)] * 2 + [(3, 1)],
        "winner long, loser long",
    )
    out = {r["player"]: r for r in player_consistency(rps).collect()}
    assert all(out[p]["score_ties"] == 2 for p in (1, 2, 3))
    assert all(out[p]["upset_ppm"] == 0 for p in (1, 2, 3))

    # transitive chain + one upset: 1>2, 1>3, 2>3 (copeland 4/2/0),
    # plus 3 beats 4 twice and 4 beats 1 twice (4 upsets 1!)
    rows = (
        [(1, 2)] * 2 + [(1, 3)] * 2 + [(2, 3)] * 2
        + [(3, 4)] * 3 + [(4, 1)] * 2
    )
    df = spark.createDataFrame(rows, "winner long, loser long")
    out = {r["player"]: r for r in player_consistency(df).collect()}
    # copeland2: 1 -> wins vs 2,3 loses vs 4 = 4; 4 -> beats 1,
    # loses to 3 = 2; check the 4-vs-1 pair is an upset (c4=2 < c1=4)
    assert out[4]["upset_wins"] == 1
    assert out[1]["upset_losses"] == 1
    c = Counter(
        (out[p]["upset_wins"], out[p]["upset_losses"]) for p in out
    )
    assert c[(1, 0)] == 1 and c[(0, 1)] == 1  # exactly one upset pair


def test_player_consistency_matches_duckdb(spark):
    games = []
    for a in range(1, 8):
        for b in range(a + 1, 8):
            games += [(a, b)] * ((a + b) % 3 + 1) + [(b, a)] * ((a * b) % 4)
    df = spark.createDataFrame(games, "winner long, loser long")
    got = sorted(tuple(r) for r in player_consistency(df).collect())
    vals = ", ".join(f"({w}, {l})" for w, l in games)
    ref = sorted(
        tuple(r)
        for r in duckdb.connect()
        .execute(
            player_consistency_sql(
                f"SELECT * FROM (VALUES {vals}) t(winner, loser)"
            )
        )
        .fetchall()
    )
    assert got == ref


def test_pairwise_coverage_query_matches_oracle(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    sdf = m.q_pairwise_coverage(spark, sf_dir).toPandas()
    odf = con.execute(m._pairwise_coverage_sql()).fetchdf()
    assert len(sdf) == 1 and int(sdf["n_players"][0]) >= 10
    _compare(sdf, odf)


def test_player_consistency_query_matches_oracle(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    sdf = m.q_player_consistency(spark, sf_dir).toPandas()
    odf = con.execute(m._player_consistency_sql()).fetchdf()
    assert len(sdf) >= 10
    _compare(sdf, odf)
