"""Preference-log analytics (operators/prefstats.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F  # noqa: F401

from det_module_spark.operators.prefstats import (
    length_bias,
    length_bias_sql,
    win_rate_matrix,
    win_rate_matrix_sql,
)


def test_win_rate_matrix_counts_and_rate(spark):
    comps = spark.createDataFrame(
        [(1, 2)] * 3 + [(2, 1)] * 1 + [(3, 3)] + [(None, 1)],
        "winner long, loser long",
    )
    out = win_rate_matrix(comps).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["lo"], r["hi"], r["n"], r["w_lo"]) == (1, 2, 4, 3)
    assert r["win_rate_lo_ppm"] == 750_000
    # Agresti-Coull z=2: p~ = 5/8, half = 2*sqrt((5/8)(3/8)/8)
    import math

    pt = 5 / 8
    half = 2 * math.sqrt(pt * (1 - pt) / 8)
    assert r["ci_lo_ppm"] == math.floor((pt - half) * 1e6 + 0.5)
    assert r["ci_hi_ppm"] == math.floor((pt + half) * 1e6 + 0.5)
    assert 0 <= r["ci_lo_ppm"] < r["win_rate_lo_ppm"] < r["ci_hi_ppm"]


def test_win_rate_matrix_clamps_and_min_games(spark):
    comps = spark.createDataFrame(
        [(1, 2)] * 40 + [(3, 4)], "winner long, loser long"
    )
    rows = {(r["lo"], r["hi"]): r for r in win_rate_matrix(comps).collect()}
    assert rows[(1, 2)]["ci_hi_ppm"] <= 1_000_000  # clamped
    assert (3, 4) in rows
    filtered = win_rate_matrix(comps, min_games=2).collect()
    assert {(r["lo"], r["hi"]) for r in filtered} == {(1, 2)}


def test_win_rate_matrix_matches_duckdb(spark):
    games = (
        [(1, 2)] * 7 + [(2, 1)] * 2 + [(2, 3)] * 5 + [(3, 1)] * 4
        + [(1, 3)] * 1
    )
    comps = spark.createDataFrame(games, "winner long, loser long")
    got = sorted(
        tuple(r) for r in win_rate_matrix(comps).collect()
    )
    vals = ", ".join(f"({w}, {l})" for w, l in games)
    ref = duckdb.connect().execute(
        win_rate_matrix_sql(
            f"SELECT * FROM (VALUES {vals}) t(winner, loser)"
        )
    ).fetchall()
    assert got == sorted(tuple(r) for r in ref)


def test_length_bias_buckets_and_rates(spark):
    rows = [
        (500, 100),   # longer (winner) won, d=400 -> bucket 2
        (100, 500),   # shorter won, d=400 -> bucket 2
        (500, 100),   # bucket 2 again, longer won
        (150, 100),   # bucket 0, longer won
        (100, 100),   # tie: excluded
        (5000, 100),  # d=4900 -> clamped to bucket 5
        (None, 100),  # null: excluded
    ]
    comps = spark.createDataFrame(rows, "winner_len long, loser_len long")
    out = {r["bucket"]: r for r in length_bias(comps).collect()}
    assert set(out) == {0, 2, 5}
    assert out[2]["n"] == 3 and out[2]["n_longer_won"] == 2
    assert out[2]["longer_win_ppm"] == 666_666
    assert out[0]["longer_win_ppm"] == 1_000_000
    assert out[5]["n"] == 1


def test_length_bias_matches_duckdb(spark):
    rows = [(100 + 37 * i % 900, 100 + 53 * i % 700) for i in range(50)]
    rows = [(a, b) for a, b in rows if True]
    comps = spark.createDataFrame(rows, "winner_len long, loser_len long")
    got = sorted(tuple(r) for r in length_bias(comps).collect())
    vals = ", ".join(f"({a}, {b})" for a, b in rows)
    ref = duckdb.connect().execute(
        length_bias_sql(
            f"SELECT * FROM (VALUES {vals}) t(winner_len, loser_len)"
        )
    ).fetchall()
    assert got == sorted(tuple(r) for r in ref)


# --- global_cumsum + spearman_rho (round 9) ---


def test_global_cumsum_matches_global_window(spark):
    from pyspark.sql import Window

    from det_module_spark.operators.ids import global_cumsum

    df = spark.createDataFrame(
        [(i * 7 % 23, (i * 13) % 5 + 1) for i in range(23)],
        "k long, v long",
    ).repartition(8)
    got = {
        r["k"]: r["cs"]
        for r in global_cumsum(df, ["k"], "v", out="cs").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    import pyspark.sql.functions as F

    ref = {
        r["k"]: r["cs"]
        for r in df.select("k", F.sum("v").over(w).alias("cs")).collect()
    }
    assert got == ref
    # exclusive prefix
    got_ex = {
        r["k"]: r["cs"]
        for r in global_cumsum(
            df, ["k"], "v", out="cs", inclusive=False
        ).collect()
    }
    assert all(got_ex[k] == ref[k] - v for k, v in
               ((r["k"], r["v"]) for r in df.collect()))


def test_spearman_perfect_and_inverse(spark):
    from det_module_spark.operators.prefstats import spearman_rho

    df = spark.createDataFrame(
        [(float(i), float(i * 3 + 1)) for i in range(1, 8)],
        "x double, y double",
    )
    assert spearman_rho(df, "x", "y").collect()[0]["rho_ppm"] == 1_000_000
    inv = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 8)],
        "x double, y double",
    )
    assert spearman_rho(inv, "x", "y").collect()[0]["rho_ppm"] == -1_000_000


def test_spearman_ties_vs_python_reference(spark):
    from det_module_spark.operators.prefstats import spearman_rho

    rows = [(i % 4, (i * 7) % 6) for i in range(24)]  # heavy ties
    df = spark.createDataFrame(rows, "x long, y long")
    out = spearman_rho(df, "x", "y").collect()[0]

    # pure-Python tie-corrected Spearman = Pearson on average ranks
    import math

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while (j + 1 < len(order)
                   and vals[order[j + 1]] == vals[order[i]]):
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    xs = avg_ranks([r[0] for r in rows])
    ys = avg_ranks([r[1] for r in rows])
    n = len(rows)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
    vx = sum((a - mx) ** 2 for a in xs)
    vy = sum((b - my) ** 2 for b in ys)
    ref = cov / math.sqrt(vx * vy)
    assert out["n"] == n
    assert abs(out["rho_ppm"] / 1e6 - ref) < 2e-6


def test_spearman_matches_duckdb(spark):
    import duckdb as _dd

    from det_module_spark.operators.prefstats import (
        spearman_rho,
        spearman_rho_sql,
    )

    rows = [((i * 11) % 9, (i * 5) % 7) for i in range(40)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = tuple(spearman_rho(df, "x", "y").collect()[0])
    vals = ", ".join(f"({a}, {b})" for a, b in rows)
    ref = _dd.connect().execute(
        spearman_rho_sql(f"SELECT * FROM (VALUES {vals}) t(x, y)")
    ).fetchone()
    assert got == tuple(ref)


def test_spearman_constant_column_null(spark):
    from det_module_spark.operators.prefstats import spearman_rho

    df = spark.createDataFrame(
        [(1, i) for i in range(5)], "x long, y long"
    )
    out = spearman_rho(df, "x", "y").collect()[0]
    assert out["n"] == 5 and out["rho_ppm"] is None


def test_spearman_n_limit_guard(spark):
    import pytest as _pytest

    from det_module_spark.operators.prefstats import spearman_rho

    df = spark.createDataFrame(
        [(i, i) for i in range(10)], "x long, y long"
    )
    with _pytest.raises(Exception, match="overflow"):
        spearman_rho(df, "x", "y", n_limit=9).collect()
    assert spearman_rho(df, "x", "y", n_limit=10).collect()[0]["n"] == 10


# --- kendall_tau (r10 queue) ---


def test_kendall_hand_computed_and_perfect(spark):
    from det_module_spark.operators.prefstats import kendall_tau

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 25)], "x long, y long"
    )
    out = kendall_tau(df, "x", "y").collect()[0]
    # pairs: (1,2)C (1,3)C (1,4)C (2,3)C (2,4)C (3,4)D
    assert (out["concordant"], out["discordant"]) == (5, 1)
    assert out["tie_x"] == 0 and out["tie_y"] == 0
    import math
    exp = (5 - 1) / math.sqrt(6 * 6)
    assert out["tau_b_ppm"] == math.floor(exp * 1e6 + 0.5)
    perfect = kendall_tau(
        spark.createDataFrame([(i, i * 2) for i in range(5)], "x long, y long"),
        "x", "y",
    ).collect()[0]
    assert perfect["tau_b_ppm"] == 1_000_000


def test_kendall_ties_vs_python_reference(spark):
    import math

    from det_module_spark.operators.prefstats import kendall_tau

    rows = [(i % 4, (i * 7) % 6) for i in range(20)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = kendall_tau(df, "x", "y").collect()[0]
    C = D = Tx = Ty = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            sx = (rows[i][0] > rows[j][0]) - (rows[i][0] < rows[j][0])
            sy = (rows[i][1] > rows[j][1]) - (rows[i][1] < rows[j][1])
            if sx * sy > 0: C += 1
            elif sx * sy < 0: D += 1
            elif sx == 0 and sy != 0: Tx += 1
            elif sy == 0 and sx != 0: Ty += 1
    assert (out["concordant"], out["discordant"], out["tie_x"],
            out["tie_y"]) == (C, D, Tx, Ty)
    exp = (C - D) / math.sqrt((C + D + Tx) * (C + D + Ty))
    assert out["tau_b_ppm"] == math.floor(exp * 1e6 + 0.5)


def test_kendall_matches_duckdb(spark):
    import duckdb as _dd

    from det_module_spark.operators.prefstats import (
        kendall_tau,
        kendall_tau_sql,
    )

    rows = [((i * 11) % 9, (i * 5) % 7) for i in range(35)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = tuple(kendall_tau(df, "x", "y").collect()[0])
    vals = ", ".join(f"({a}, {b})" for a, b in rows)
    ref = _dd.connect().execute(
        kendall_tau_sql(f"SELECT * FROM (VALUES {vals}) t(x, y)")
    ).fetchone()
    assert got == tuple(ref)


def test_kendall_guard_and_constant(spark):
    import pytest as _pytest

    from det_module_spark.operators.prefstats import kendall_tau

    df = spark.createDataFrame([(i, i) for i in range(10)], "x long, y long")
    with _pytest.raises(Exception, match="quadratic"):
        kendall_tau(df, "x", "y", max_rows=9).collect()
    assert kendall_tau(df, "x", "y", max_rows=10).collect()[0]["n"] == 10
    const = spark.createDataFrame([(1, i) for i in range(4)], "x long, y long")
    out = kendall_tau(const, "x", "y").collect()[0]
    assert out["tau_b_ppm"] is None and out["concordant"] == 0


# --- preference_cycles (r10 queue) ---


def test_preference_cycles_cyclic_and_transitive(spark):
    from det_module_spark.operators.prefstats import preference_cycles

    # rock-paper-scissors: pure 3-cycle
    rps = spark.createDataFrame(
        [(1, 2)] * 2 + [(2, 3)] * 2 + [(3, 1)] * 2,
        "winner long, loser long",
    )
    out = preference_cycles(rps).collect()[0]
    assert (out["n_players"], out["n_decisive_edges"]) == (3, 3)
    assert (out["n_triads"], out["n_cyclic"]) == (1, 1)
    assert out["cyclic_ppm"] == 1_000_000

    # transitive: 1 beats 2 and 3; 2 beats 3
    trans = spark.createDataFrame(
        [(1, 2)] * 2 + [(1, 3)] * 2 + [(2, 3)] * 2,
        "winner long, loser long",
    )
    out = preference_cycles(trans).collect()[0]
    assert (out["n_triads"], out["n_cyclic"]) == (1, 0)
    assert out["cyclic_ppm"] == 0


def test_preference_cycles_ties_break_triads(spark):
    from det_module_spark.operators.prefstats import preference_cycles

    # 1-2 record is 1-1 (indecisive) -> no complete triple
    rows = [(1, 2), (2, 1), (2, 3), (3, 1)]
    df = spark.createDataFrame(rows, "winner long, loser long")
    out = preference_cycles(df).collect()[0]
    assert out["n_decisive_edges"] == 2
    assert out["n_triads"] == 0 and out["cyclic_ppm"] is None


def test_preference_cycles_all_ties_keeps_player_count(spark):
    """ADVICE r9 (medium): a log where EVERY pair is tied has zero
    decisive edges, but n_players must still be the real pairs-level
    count (was NULL via max() over the empty decisive frame) and must
    match the DuckDB twin row-for-row."""
    import duckdb as _dd

    from det_module_spark.operators.prefstats import (
        preference_cycles,
        preference_cycles_sql,
    )

    rows = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)]
    df = spark.createDataFrame(rows, "winner long, loser long")
    out = preference_cycles(df).collect()[0]
    assert out["n_players"] == 3
    assert out["n_decisive_edges"] == 0
    assert out["n_triads"] == 0 and out["cyclic_ppm"] is None
    vals = ", ".join(f"({w}, {l})" for w, l in rows)
    ref = _dd.connect().execute(
        preference_cycles_sql(
            f"SELECT * FROM (VALUES {vals}) t(winner, loser)"
        )
    ).fetchone()
    assert tuple(out) == tuple(ref)
    # the guard must fire on all-ties inputs too (it never could when
    # it lived on the decisive frame)
    import pytest as _pytest

    with _pytest.raises(Exception, match="players"):
        preference_cycles(df, max_players=2)


def test_preference_cycles_matches_duckdb(spark):
    import duckdb as _dd

    from det_module_spark.operators.prefstats import (
        preference_cycles,
        preference_cycles_sql,
    )

    # dense head-to-head log over 6 players: lo beats hi (a+b)%3+2
    # times, hi beats lo (a*b)%2+1 times — most pairs decisive (a few
    # 2-2 ties exercise the indecisive-edge path), complete triads
    # exist (asserted below)
    games = []
    for a in range(1, 7):
        for b in range(a + 1, 7):
            games += [(a, b)] * ((a + b) % 3 + 2) + [(b, a)] * ((a * b) % 2 + 1)
    df = spark.createDataFrame(games, "winner long, loser long")
    got = tuple(preference_cycles(df).collect()[0])
    vals = ", ".join(f"({w}, {l})" for w, l in games)
    ref = _dd.connect().execute(
        preference_cycles_sql(
            f"SELECT * FROM (VALUES {vals}) t(winner, loser)"
        )
    ).fetchone()
    assert got == tuple(ref)
    assert got[2] > 0  # complete triads exist in this log


def test_preference_cycles_guard(spark):
    import pytest as _pytest

    from det_module_spark.operators.prefstats import preference_cycles

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] * 2, "winner long, loser long"
    )
    with _pytest.raises(Exception, match="players"):
        preference_cycles(df, max_players=5).collect()
    assert preference_cycles(df, max_players=6).collect()[0]["n_players"] == 6


# --- copeland_ranking / cycles_by_gap (r10) ---


def test_copeland_ranking_hand_computed(spark):
    from det_module_spark.operators.prefstats import copeland_ranking

    # 1 beats 2 (2-1), 1 ties 3 (1-1), 2 beats 3 (1-0)
    rows = [(1, 2), (1, 2), (2, 1), (1, 3), (3, 1), (2, 3)]
    df = spark.createDataFrame(rows, "winner long, loser long")
    out = {r["player"]: r for r in copeland_ranking(df).collect()}
    assert out[1]["copeland2"] == 3  # win + tie
    assert out[2]["copeland2"] == 2  # loss + win
    assert out[3]["copeland2"] == 1  # tie + loss
    assert (out[1]["pairs_won"], out[1]["pairs_tied"]) == (1, 1)
    assert out[2]["pairs_played"] == 2 and out[2]["pairs_lost"] == 1


def test_copeland_matches_duckdb(spark):
    import duckdb as _dd

    from det_module_spark.operators.prefstats import (
        copeland_ranking,
        copeland_ranking_sql,
    )

    games = []
    for a in range(1, 7):
        for b in range(a + 1, 7):
            games += [(a, b)] * ((a + b) % 3 + 2) + [(b, a)] * ((a * b) % 2 + 1)
    df = spark.createDataFrame(games, "winner long, loser long")
    got = sorted(tuple(r) for r in copeland_ranking(df).collect())
    vals = ", ".join(f"({w}, {l})" for w, l in games)
    ref = sorted(
        tuple(r)
        for r in _dd.connect()
        .execute(
            copeland_ranking_sql(
                f"SELECT * FROM (VALUES {vals}) t(winner, loser)"
            )
        )
        .fetchall()
    )
    assert got == ref


def test_cycles_by_gap_rps_and_transitive(spark):
    from det_module_spark.operators.prefstats import cycles_by_gap

    # rock-paper-scissors: all copeland2 == 2, gap 0, 1 cyclic triad
    rps = spark.createDataFrame(
        [(1, 2)] * 2 + [(2, 3)] * 2 + [(3, 1)] * 2,
        "winner long, loser long",
    )
    out = cycles_by_gap(rps).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["gap_bucket"], r["n_triads"], r["n_cyclic"]) == (0, 1, 1)
    assert r["cyclic_ppm"] == 1_000_000

    # transitive chain: copeland2 = 4/2/0, min gap 2 -> bucket 1
    trans = spark.createDataFrame(
        [(1, 2)] * 2 + [(1, 3)] * 2 + [(2, 3)] * 2,
        "winner long, loser long",
    )
    out = cycles_by_gap(trans).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["gap_bucket"], r["n_triads"], r["n_cyclic"]) == (1, 1, 0)
    assert r["cyclic_ppm"] == 0


def test_cycles_by_gap_matches_duckdb(spark):
    import duckdb as _dd

    from det_module_spark.operators.prefstats import (
        cycles_by_gap,
        cycles_by_gap_sql,
    )

    games = []
    for a in range(1, 8):
        for b in range(a + 1, 8):
            games += [(a, b)] * ((a + b) % 3 + 1) + [(b, a)] * ((a * b) % 4)
    df = spark.createDataFrame(games, "winner long, loser long")
    got = sorted(tuple(r) for r in cycles_by_gap(df).collect())
    vals = ", ".join(f"({w}, {l})" for w, l in games)
    ref = sorted(
        tuple(r)
        for r in _dd.connect()
        .execute(
            cycles_by_gap_sql(
                f"SELECT * FROM (VALUES {vals}) t(winner, loser)"
            )
        )
        .fetchall()
    )
    assert got == ref
    assert sum(r[1] for r in got) > 0  # complete triads exist
    assert len(got) >= 2  # at least two gap buckets exercised


def test_cycles_by_gap_guard(spark):
    import pytest as _pytest

    from det_module_spark.operators.prefstats import cycles_by_gap

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] * 2, "winner long, loser long"
    )
    with _pytest.raises(Exception, match="players"):
        cycles_by_gap(df, max_players=5)
    assert cycles_by_gap(df, max_players=6).count() >= 0


# --- rating_calibration (r10) ---


def test_rating_calibration_hand_computed(spark):
    from det_module_spark.operators.prefstats import rating_calibration

    comps = spark.createDataFrame(
        [(2, 1)] * 8 + [(1, 2)] * 2, "winner long, loser long"
    )
    ratings = spark.createDataFrame(
        [(1, 1_500_000), (2, 1_700_000)], "player long, rating_milli long"
    )
    out = rating_calibration(comps, ratings).collect()
    assert len(out) == 1
    r = out[0]
    # gap 200 points -> bucket 20; favorite (player 2) won 8/10
    assert (r["gap_bucket"], r["n_pairs"], r["n_games"]) == (20, 1, 10)
    assert r["fav_wins"] == 8 and r["actual_fav_ppm"] == 800_000
    # E_fav = 1/(1+10^-0.5) = 0.7597469...; e_bp = 7597
    assert r["predicted_fav_ppm"] == 759_700


def test_rating_calibration_tie_rating_favors_smaller_id(spark):
    from det_module_spark.operators.prefstats import rating_calibration

    comps = spark.createDataFrame(
        [(1, 2)] * 3 + [(2, 1)], "winner long, loser long"
    )
    ratings = spark.createDataFrame(
        [(1, 1_500_000), (2, 1_500_000)], "player long, rating_milli long"
    )
    r = rating_calibration(comps, ratings).collect()[0]
    assert r["gap_bucket"] == 0 and r["fav_wins"] == 3  # lo is favorite
    assert r["predicted_fav_ppm"] == 500_000  # logistic at gap 0


def test_rating_calibration_matches_duckdb(spark):
    import duckdb as _dd

    from det_module_spark.operators.prefstats import (
        rating_calibration,
        rating_calibration_sql,
    )

    games, ratings = [], []
    for a in range(1, 7):
        ratings.append((a, 1_500_000 + (a * 37_000) % 250_000))
        for b in range(a + 1, 7):
            games += [(a, b)] * ((a + b) % 4 + 1) + [(b, a)] * ((a * b) % 3)
    df = spark.createDataFrame(games, "winner long, loser long")
    rdf = spark.createDataFrame(ratings, "player long, rating_milli long")
    got = sorted(tuple(r) for r in rating_calibration(df, rdf).collect())
    gv = ", ".join(f"({w}, {l})" for w, l in games)
    rv = ", ".join(f"({p}, {m})" for p, m in ratings)
    ref = sorted(
        tuple(r)
        for r in _dd.connect()
        .execute(
            rating_calibration_sql(
                f"SELECT * FROM (VALUES {gv}) t(winner, loser)",
                f"SELECT * FROM (VALUES {rv}) t(player, rating_milli)",
            )
        )
        .fetchall()
    )
    assert got == ref
    assert len(got) >= 2  # multiple gap buckets exercised


@pytest.mark.parametrize(
    "fn",
    ["copeland_ranking", "player_consistency", "pairwise_coverage",
     "cycles_by_gap"],
)
def test_pair_table_consumers_read_it_once(spark, fn):
    # both endpoints of a pair come from one explode of the pair
    # table; a Union would plan and scan it once per branch
    import det_module_spark.operators.prefstats as ps

    games = [(1, 2)] * 3 + [(2, 3)] * 2 + [(3, 1)] * 2 + [(4, 1), (2, 4)]
    df = getattr(ps, fn)(
        spark.createDataFrame(games, "winner long, loser long")
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Union" not in plan
