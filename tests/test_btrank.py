"""Bradley-Terry preference fit (r9-prep): exact integer MM — the
DuckDB twin reproduces every theta_q bit-for-bit; the fit orders a
dominant player first."""

import duckdb
from pyspark.sql import functions as F

from det_module_spark.operators.btrank import Q, bt_sql, bt_strengths


def _comparisons(spark):
    # deterministic comparison log over 4 players: 1 beats everyone,
    # 2 beats 3 and 4, 3 beats 4; plus upsets so no one is unbeaten
    rows = []
    for w, l, k in [(1, 2, 6), (1, 3, 5), (1, 4, 7), (2, 3, 5),
                    (2, 4, 4), (3, 4, 6), (4, 1, 1), (3, 2, 2),
                    (2, 1, 1)]:
        rows += [(w, l)] * k
    return spark.createDataFrame(rows, "winner long, loser long")


def test_bt_matches_duckdb_twin(spark):
    comps = _comparisons(spark)
    got = {
        r["player"]: (r["theta_q"], r["wins"], r["games"])
        for r in bt_strengths(comps, rounds=3).collect()
    }
    con = duckdb.connect()
    comps.toPandas().to_csv("/tmp/bt_comps.csv", index=False)
    con.execute(
        "CREATE VIEW comps AS SELECT * FROM read_csv_auto('/tmp/bt_comps.csv')"
    )
    oracle = con.execute(
        bt_sql("SELECT winner, loser FROM comps", rounds=3)
    ).fetchall()
    assert got == {p: (t, w, g) for p, t, w, g in oracle}


def test_bt_orders_dominant_player_first(spark):
    comps = _comparisons(spark)
    theta = {
        r["player"]: r["theta_q"]
        for r in bt_strengths(comps, rounds=3).collect()
    }
    assert theta[1] > theta[2] > theta[3] > theta[4]


def test_bt_all_losing_player_clamped_positive(spark):
    comps = spark.createDataFrame(
        [(1, 2)] * 5, "winner long, loser long"
    )
    theta = {
        r["player"]: r for r in bt_strengths(comps, rounds=2).collect()
    }
    assert theta[2]["theta_q"] >= 1 and theta[2]["wins"] == 0
    assert theta[1]["theta_q"] > theta[2]["theta_q"]
    assert theta[1]["games"] == 5 and theta[2]["games"] == 5


def test_bt_null_participants_dropped(spark):
    comps = spark.createDataFrame(
        [(1, 2), (None, 2), (1, None)], "winner long, loser long"
    )
    out = bt_strengths(comps, rounds=1).collect()
    assert {r["player"] for r in out} == {1, 2}
    assert {r["games"] for r in out} == {1}


def test_bt_symmetric_players_tie_exactly(spark):
    # equal head-to-head record -> identical theta_q (exact integers)
    comps = spark.createDataFrame(
        [(1, 2)] * 3 + [(2, 1)] * 3, "winner long, loser long"
    )
    theta = {
        r["player"]: r["theta_q"]
        for r in bt_strengths(comps, rounds=4).collect()
    }
    assert theta[1] == theta[2]


def test_bt_overflow_guard_raises_loudly(spark):
    # ADVICE r8: past the BIGINT-exactness precondition the fit must
    # FAIL, not silently wrap (DuckDB would error; non-ANSI Spark
    # wraps). Lower the limit so 5 games-per-pair trips it.
    import pytest as _pytest

    from det_module_spark.operators.btrank import OVERFLOW_LIMIT

    assert OVERFLOW_LIMIT == (2**63 - 1) // (10**6 * 10**4)
    comps = spark.createDataFrame(
        [(1, 2)] * 5, "winner long, loser long"
    )
    with _pytest.raises(Exception, match="overflow"):
        bt_strengths(comps, rounds=1, overflow_limit=4).collect()
    # at the boundary itself the guard stays silent
    out = bt_strengths(comps, rounds=1, overflow_limit=5).collect()
    assert {r["player"] for r in out} == {1, 2}


# --- batched Elo (round 9) ---


def test_elo_single_round_hand_computed(spark):
    # one pair, equal ratings: E = 0.5 exactly (5000 bp). 3 games,
    # lo wins 2 (p-hat = 2/3, one opponent):
    # s_lo = (2*10000) div 3 - 5000 = 1666
    #   -> d_lo = (32000*1666) div (10000*1) = 5331
    # s_hi = (1*10000) div 3 - 5000 = -1667
    #   -> d_hi = (32000*-1667) div 10000 = -5334 (toward zero)
    from det_module_spark.operators.btrank import elo_ratings

    comps = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1)], "winner long, loser long"
    )
    out = {r["player"]: r for r in elo_ratings(comps, rounds=1).collect()}
    assert out[1]["rating_milli"] == 1_500_000 + 5_331
    assert out[2]["rating_milli"] == 1_500_000 - 5_334
    assert out[1]["wins"] == 2 and out[1]["games"] == 3
    assert out[2]["wins"] == 1 and out[2]["games"] == 3


def test_elo_self_games_dropped_and_nulls(spark):
    from det_module_spark.operators.btrank import elo_ratings

    comps = spark.createDataFrame(
        [(1, 2), (3, 3), (None, 2), (1, None)],
        "winner long, loser long",
    )
    out = elo_ratings(comps, rounds=1).collect()
    assert {r["player"] for r in out} == {1, 2}


def test_elo_matches_duckdb_twin(spark):
    import duckdb

    from det_module_spark.operators.btrank import elo_ratings, elo_sql

    games = [(1, 2)] * 4 + [(2, 1)] * 1 + [(2, 3)] * 3 + [(3, 1)] * 2
    comps = spark.createDataFrame(games, "winner long, loser long")
    got = [
        (r["player"], r["rating_milli"], r["wins"], r["games"])
        for r in elo_ratings(comps, rounds=3).orderBy("player").collect()
    ]
    vals = ", ".join(f"({w}, {l})" for w, l in games)
    ref = duckdb.connect().execute(
        elo_sql(f"SELECT * FROM (VALUES {vals}) t(winner, loser)", rounds=3)
    ).fetchall()
    assert got == [tuple(r) for r in ref]


def test_elo_winner_gains_loser_drops(spark):
    from det_module_spark.operators.btrank import ELO_INIT_MILLI, elo_ratings

    comps = spark.createDataFrame(
        [(10, 20)] * 6 + [(20, 30)] * 6, "winner long, loser long"
    )
    r = {x["player"]: x["rating_milli"]
         for x in elo_ratings(comps, rounds=2).collect()}
    assert r[10] > ELO_INIT_MILLI > r[30]
    assert r[10] > r[20] > r[30]


def test_elo_overflow_guard(spark):
    import pytest as _pytest

    from det_module_spark.operators.btrank import elo_ratings

    comps = spark.createDataFrame(
        [(1, 2)] * 3, "winner long, loser long"
    )
    with _pytest.raises(Exception, match="overflow"):
        elo_ratings(comps, rounds=1, overflow_limit=2).collect()
    assert len(elo_ratings(comps, rounds=1, overflow_limit=3).collect()) == 2


def test_overflow_errors_name_their_fit(spark):
    """Each fit's overflow error names that fit and gives its own
    advice: an Elo overflow does not report itself as a BT failure."""
    import pytest as _pytest

    from det_module_spark.operators.btrank import elo_ratings

    comps = spark.createDataFrame([(1, 2)] * 3, "winner long, loser long")
    with _pytest.raises(Exception) as elo:
        elo_ratings(comps, rounds=1, overflow_limit=2).collect()
    assert "elo_ratings: games-per-pair overflow: 3 > 2" in str(elo.value)
    assert "bt_strengths" not in str(elo.value) and "Q/QT" not in str(elo.value)
    with _pytest.raises(Exception) as bt:
        bt_strengths(comps, rounds=1, overflow_limit=2).collect()
    assert "bt_strengths: games-per-pair overflow: 3 > 2" in str(bt.value)
    assert "reduce Q/QT or shard the fit" in str(bt.value)


def test_bt_self_games_and_nulls_match_duckdb_twin(spark):
    # NULL participants are dropped; a self-game stays a lo == hi pair
    # row, so (3, 3) adds 2n games and n wins to player 3 and enters
    # its MM denominator, exactly as the twin's per-winner count does
    games = [(1, 2)] * 4 + [(2, 1)] * 2 + [(2, 3)] * 3 + [(3, 1)] * 2
    games += [(3, 3)] * 2 + [(None, 2), (1, None), (None, None)]
    comps = spark.createDataFrame(games, "winner long, loser long")
    got = sorted(
        tuple(r) for r in bt_strengths(comps, rounds=3).collect()
    )
    vals = ", ".join(
        f"({'NULL' if w is None else w}, {'NULL' if l is None else l})"
        for w, l in games
    )
    ref = duckdb.connect().execute(
        bt_sql(
            "SELECT CAST(winner AS BIGINT) AS winner, "
            "CAST(loser AS BIGINT) AS loser "
            f"FROM (VALUES {vals}) t(winner, loser)",
            rounds=3,
        )
    ).fetchall()
    assert got == [tuple(r) for r in ref]
    by_player = {r[0]: r for r in got}
    assert by_player[3][2:] == (2 + 2, 3 + 2 + 2 * 2)  # wins, games
