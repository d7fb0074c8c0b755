"""Preference-log analytics — the descriptive layer a pairwise-
preference (RLHF) pipeline runs before and alongside the rating fits
in operators/btrank.py: the head-to-head win-rate matrix with
confidence bounds (the leaderboard table), and the length-bias audit
(does the longer completion win more often — the classic verbosity
bias check).

Cross-engine exactness: counts and win rates are exact BIGINT/ppm as
usual (ROUND_NOTES playbook #10). The confidence bound needs a
square root; IEEE-754 requires +, −, ×, ÷ and sqrt to be CORRECTLY
ROUNDED, so a bound built from integer inputs through an identical
sequence of those five ops is bit-identical in Spark and DuckDB — no
transcendental enters. We use the Agresti-Coull 95% interval at
z = 2 exactly (z² = 4, integer), which keeps every intermediate a
rational of the counts:

    p~   = (w + 2) / (n + 4)
    half = 2·sqrt(p~·(1 − p~) / (n + 4))
    lo   = p~ − half,  hi = p~ + half

The ppm quantization floor(x·1e6 + 0.5) is applied to the identical
double on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


PPM = 1_000_000

# identical double expression on both engines: every op is IEEE
# correctly-rounded, inputs are exact integers, so the doubles (and
# the ppm flooring of them) match bit-for-bit. CRITICAL: literals use
# EXPONENT notation (2.0e0) — in Spark SQL a bare `2.0` is a DECIMAL
# literal, and decimal division truncates at its result scale (a
# ~1e-7-scale error that surfaced as 2-3 ppm drift vs DuckDB, which
# reads `2.0` as double); `2.0e0` is a DOUBLE literal in both.
_PTILDE = "((w_lo + 2.0e0) / (n + 4.0e0))"
_HALF = f"(2.0e0 * SQRT({_PTILDE} * (1.0e0 - {_PTILDE}) / (n + 4.0e0)))"


def _ppm(expr: str) -> str:
    return f"CAST(FLOOR(({expr}) * 1.0e6 + 0.5e0) AS BIGINT)"


# --- shared pieces of the preference family (here and btrank.py) ---


def _pairs(log: DataFrame, winner: str, loser: str) -> DataFrame:
    """Lazy unordered head-to-head records of an already-filtered
    comparison log → (lo, hi, n, w_lo): n games between lo <= hi,
    w_lo of them won by the smaller id. A self-game stays a
    lo == hi row with w_lo = 0; callers that must not see it filter
    it out first."""
    return (
        log.select(
            F.least(F.col(winner), F.col(loser)).alias("lo"),
            F.greatest(F.col(winner), F.col(loser)).alias("hi"),
            F.when(F.col(winner) < F.col(loser), F.lit(1))
            .otherwise(F.lit(0))
            .alias("lo_won"),
        )
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("lo_won").cast("long").alias("w_lo"),
        )
    )


def _endpoints(df: DataFrame, lo: list, hi: list) -> DataFrame:
    """Both endpoints of every row: each row becomes two, the first
    with the ``lo`` columns, the second with the ``hi`` columns (same
    names, same order). One explode reads ``df`` once, where a union
    of two projections plans and runs it once per branch."""
    return df.select(
        F.explode(F.array(F.struct(*lo), F.struct(*hi))).alias("e")
    ).select("e.*")


def _lookup(
    df: DataFrame, table: DataFrame, key: str, value: str, **ends: str
) -> DataFrame:
    """Equi-join ``table``'s per-player ``value`` (keyed by ``key``)
    onto each endpoint column of ``df``: ``ends`` maps an endpoint
    column to the name its looked-up value gets."""
    for end, out in ends.items():
        df = df.join(
            table.select(F.col(key).alias(end), F.col(value).alias(out)),
            end,
        )
    return df


def _e_bp(d_milli: str):
    """The Elo logistic expectation 1/(1 + 10^(d/400)) of a rating
    deficit ``d_milli`` (an exact milli-point SQL expression),
    quantized to basis points — the only float in the Elo algebra,
    the same double expression as the DuckDB twins (pow caveat in
    ``btrank.elo_ratings``)."""
    return F.expr(
        "CAST(FLOOR(10000.0 / (1.0 + POW(10.0, "
        f"{d_milli} / 400000.0)) + 0.5) AS BIGINT)"
    )


def _n_players(pairs: DataFrame) -> DataFrame:
    """1-row (n_players): distinct endpoints of a pair table."""
    return _endpoints(
        pairs, [F.col("lo").alias("p")], [F.col("hi").alias("p")]
    ).agg(F.count_distinct("p").cast("long").alias("n_players"))


def _copeland(pairs: DataFrame) -> DataFrame:
    """Copeland points of a pair table → (player, pairs_played,
    pairs_won, pairs_lost, pairs_tied, copeland2): the strict-majority
    winner of each pair scores 2, the loser 0, a tie 1 each."""
    pts = (
        F.when(2 * F.col("w_lo") > F.col("n"), F.lit(2))
        .when(2 * F.col("w_lo") == F.col("n"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        _endpoints(
            pairs,
            [F.col("lo").alias("player"), pts.alias("pts")],
            [F.col("hi").alias("player"), (2 - pts).alias("pts")],
        )
        .groupBy("player")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pairs_played"),
            F.sum((F.col("pts") == 2).cast("long"))
            .cast("long")
            .alias("pairs_won"),
            F.sum((F.col("pts") == 0).cast("long"))
            .cast("long")
            .alias("pairs_lost"),
            F.sum((F.col("pts") == 1).cast("long"))
            .cast("long")
            .alias("pairs_tied"),
            F.sum("pts").cast("long").alias("copeland2"),
        )
    )


def _decisive(pairs: DataFrame) -> DataFrame:
    """Pairs with a strict-majority winner → (a, b, a_won): a = lo,
    b = hi, a_won = 1 when the smaller id holds the majority."""
    return pairs.filter(2 * F.col("w_lo") != F.col("n")).select(
        F.col("lo").alias("a"),
        F.col("hi").alias("b"),
        (2 * F.col("w_lo") > F.col("n")).cast("int").alias("a_won"),
    )


def _triads(pairs: DataFrame, max_players: int, who: str):
    """Complete decisive triples of a bounded board → (n_players,
    decisive edges, triples (x, y, z, cyclic)). The player count is
    guarded at ``max_players`` and eagerly checkpointed, so an
    oversized board fails before any triad join runs (all-ties logs
    included: the count comes from the pairs, not the edges). Each
    triple x < y < z is enumerated once by one 3-way self-join of
    the decisive edges; cyclic = 1 for x→y→z→x or x←y←z←x."""
    n_players = (
        _n_players(pairs)
        .select(
            F.when(
                F.col("n_players") > max_players,
                F.raise_error(
                    F.concat(
                        F.lit(f"{who}: "),
                        F.col("n_players").cast("string"),
                        F.lit(
                            f" players > {max_players}; triad "
                            "enumeration is a bounded-leaderboard "
                            "operation — slice the player set"
                        ),
                    )
                ).cast("long"),
            )
            .otherwise(F.col("n_players"))
            .alias("n_players")
        )
        .localCheckpoint(eager=True)
    )
    und = _decisive(pairs).localCheckpoint(eager=True)
    e1 = und.select(
        F.col("a").alias("x"), F.col("b").alias("y"),
        F.col("a_won").alias("wxy"),
    )
    e2 = und.select(
        F.col("a").alias("y"), F.col("b").alias("z"),
        F.col("a_won").alias("wyz"),
    )
    e3 = und.select(
        F.col("a").alias("x"), F.col("b").alias("z"),
        F.col("a_won").alias("wxz"),
    )
    triples = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .select(
            "x",
            "y",
            "z",
            (
                (
                    (F.col("wxy") == 1)
                    & (F.col("wyz") == 1)
                    & (F.col("wxz") == 0)
                )
                | (
                    (F.col("wxy") == 0)
                    & (F.col("wyz") == 0)
                    & (F.col("wxz") == 1)
                )
            )
            .cast("long")
            .alias("cyclic"),
        )
    )
    return n_players, und, triples


def win_rate_matrix(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    min_games: int = 1,
) -> DataFrame:
    """Head-to-head table: one row per unordered player pair
    (lo < hi) with ``n`` games, ``w_lo`` wins by the smaller id,
    the exact win rate in ppm, and the Agresti-Coull 95% bounds
    (z = 2) on lo's true win probability, clamped to [0, 1e6] ppm.
    Self-games and NULL participants are dropped; pairs with fewer
    than ``min_games`` games are filtered (a 1-game "rate" is noise
    in any leaderboard).

    Scale shape: one hash aggregation over distinct pairs, then
    scalar arithmetic — no join, no window, work ∝ comparisons.
    """
    # != is NULL, so false, when either side is NULL
    pairs = _pairs(
        comparisons.filter(F.col(winner) != F.col(loser)), winner, loser
    ).filter(F.col("n") >= min_games)
    return pairs.select(
        "lo",
        "hi",
        "n",
        "w_lo",
        F.expr(f"w_lo * {PPM}L div n").alias("win_rate_lo_ppm"),
        F.greatest(
            F.lit(0).cast("long"),
            F.expr(_ppm(f"{_PTILDE} - {_HALF}")),
        ).alias("ci_lo_ppm"),
        F.least(
            F.lit(PPM).cast("long"),
            F.expr(_ppm(f"{_PTILDE} + {_HALF}")),
        ).alias("ci_hi_ppm"),
    )


def win_rate_matrix_sql(
    comparisons_sql: str, min_games: int = 1
) -> str:
    """DuckDB twin — identical count algebra and the identical
    IEEE-exact double sequence for the bounds. ``comparisons_sql``
    must produce columns (winner, loser)."""
    return f"""
    WITH c AS (
      SELECT winner, loser FROM ({comparisons_sql})
      WHERE winner IS NOT NULL AND loser IS NOT NULL
        AND winner <> loser),
    pairs AS (
      SELECT LEAST(winner, loser) AS lo,
             GREATEST(winner, loser) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN winner < loser THEN 1 ELSE 0 END)
                  AS BIGINT) AS w_lo
      FROM c GROUP BY 1, 2)
    SELECT lo, hi, n, w_lo,
           CAST(w_lo * {PPM} // n AS BIGINT) AS win_rate_lo_ppm,
           GREATEST(CAST(0 AS BIGINT),
                    {_ppm(f"{_PTILDE} - {_HALF}")}) AS ci_lo_ppm,
           LEAST(CAST({PPM} AS BIGINT),
                 {_ppm(f"{_PTILDE} + {_HALF}")}) AS ci_hi_ppm
    FROM pairs WHERE n >= {min_games}
    ORDER BY lo, hi"""


def length_bias(
    comparisons: DataFrame,
    winner_len: str = "winner_len",
    loser_len: str = "loser_len",
    bucket_width: int = 200,
    max_bucket: int = 5,
) -> DataFrame:
    """Verbosity-bias audit over a preference log carrying the two
    sides' lengths: among comparisons whose sides differ in length,
    how often does the LONGER side win, overall and by
    length-difference bucket? A strong slope is the classic
    longer-response bias that leaks into reward models.

    Buckets: d = |winner_len − loser_len|, bucket =
    min(d div bucket_width, max_bucket) — the top bucket absorbs the
    tail. Equal-length comparisons are excluded (no longer side).
    → (bucket, n, n_longer_won, longer_win_ppm), exact integers.

    Scale shape: one projection + one hash aggregation over ≤
    max_bucket+1 groups; no join, no window.
    """
    d = F.col(winner_len) - F.col(loser_len)
    rows = comparisons.filter(
        F.col(winner_len).isNotNull()
        & F.col(loser_len).isNotNull()
        & (d != 0)
    ).select(
        F.least(
            F.expr(
                f"abs({winner_len} - {loser_len}) div {bucket_width}"
            ),
            F.lit(max_bucket).cast("long"),
        ).alias("bucket"),
        F.when(d > 0, F.lit(1)).otherwise(F.lit(0)).alias("longer_won"),
    )
    return (
        rows.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("longer_won").cast("long").alias("n_longer_won"),
        )
        .select(
            "bucket",
            "n",
            "n_longer_won",
            F.expr(f"n_longer_won * {PPM}L div n").alias(
                "longer_win_ppm"
            ),
        )
    )


def length_bias_sql(
    comparisons_sql: str, bucket_width: int = 200, max_bucket: int = 5
) -> str:
    """DuckDB twin. ``comparisons_sql`` must produce columns
    (winner_len, loser_len)."""
    return f"""
    WITH rows_ AS (
      SELECT LEAST(ABS(winner_len - loser_len) // {bucket_width},
                   {max_bucket}) AS bucket,
             CASE WHEN winner_len > loser_len THEN 1 ELSE 0 END
               AS longer_won
      FROM ({comparisons_sql})
      WHERE winner_len IS NOT NULL AND loser_len IS NOT NULL
        AND winner_len <> loser_len)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(longer_won) AS BIGINT) AS n_longer_won,
           CAST(SUM(longer_won) * {PPM} // COUNT(*) AS BIGINT)
             AS longer_win_ppm
    FROM rows_ GROUP BY bucket
    ORDER BY bucket"""


# exact BIGINT moment bound for spearman_rho: doubled average ranks
# reach 2n, so sum(r2x*r2y) <= n*(2n)^2 = 4n^3 must stay < 2^63
SPEARMAN_N_LIMIT = 1_290_000


def spearman_rho(
    df: DataFrame,
    x: str,
    y: str,
    n_limit: int = SPEARMAN_N_LIMIT,
) -> DataFrame:
    """Spearman rank correlation between two columns — the ranker-
    agreement metric an eval pipeline runs to compare two rating
    systems (e.g. Bradley-Terry θ vs Elo) or a reward model against
    human preference ranks. → one row (n BIGINT, rho_ppm BIGINT;
    NULL rho when either column is constant). NULL rows in either
    column are dropped.

    Ties use average ranks (Pearson over average ranks IS the
    tie-corrected Spearman). Exactness: average ranks are stored
    DOUBLED — r2(v) = 2·#smaller + #equal + 1, an exact integer —
    and the ranks come from one hash aggregation per column plus
    :func:`det_module_spark.operators.ids.global_cumsum` over the
    DISTINCT-value frame (the two-phase prefix sum; no global
    window, no per-row Python). Moments Σr2x, Σr2x², Σr2x·r2y are
    exact BIGINTs (order-independent), valid while 4n³ < 2^63, i.e.
    n ≤ ``SPEARMAN_N_LIMIT`` ≈ 1.29e6 ranked rows — ENFORCED by a
    raise_error guard (past it the sums would wrap silently in
    non-ANSI Spark while DuckDB errors; shard or pre-bucket beyond).
    The final Pearson combination runs in doubles from those exact
    integers through correctly-rounded ×,−,÷,sqrt only — identical
    expression, bit-identical across engines (module header).

    Scale shape: 2 hash aggregations (distinct values), 2 range
    prefix-sums over the distinct-value frames, 2 equi-joins back,
    one 1-row moment aggregate. Work ∝ rows + distinct values.
    """
    from det_module_spark.operators.ids import global_cumsum

    rows = df.filter(
        F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(F.col(x).alias("__x"), F.col(y).alias("__y"))

    def r2(col: str, out: str) -> DataFrame:
        counts = rows.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        pref = global_cumsum(
            counts, ["v"], "c", out="smaller", inclusive=False
        )
        return pref.select(
            F.col("v").alias(col),
            (2 * F.col("smaller") + F.col("c") + 1)
            .cast("long")
            .alias(out),
        )

    ranked = rows.join(r2("__x", "r2x"), "__x").join(
        r2("__y", "r2y"), "__y"
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r2x").cast("long").alias("sx"),
        F.sum("r2y").cast("long").alias("sy"),
        F.sum(F.expr("r2x * r2x")).cast("long").alias("sxx"),
        F.sum(F.expr("r2y * r2y")).cast("long").alias("syy"),
        F.sum(F.expr("r2x * r2y")).cast("long").alias("sxy"),
    ).select(
        F.when(
            F.col("n") > n_limit,
            F.raise_error(
                F.concat(
                    F.lit("spearman_rho: n = "),
                    F.col("n").cast("string"),
                    F.lit(
                        f" > {n_limit}; the BIGINT rank "
                        "moments would overflow — shard the input "
                        "or pre-bucket the values"
                    ),
                )
            ).cast("long"),
        )
        .otherwise(F.col("n"))
        .alias("n"),
        "sx", "sy", "sxx", "syy", "sxy",
    )
    # doubles from exact integers, identical expression both engines
    num = "(n * 1.0e0 * sxy - sx * 1.0e0 * sy)"
    dx = "(n * 1.0e0 * sxx - sx * 1.0e0 * sx)"
    dy = "(n * 1.0e0 * syy - sy * 1.0e0 * sy)"
    return m.select(
        "n",
        F.when(
            (F.expr(dx) > 0) & (F.expr(dy) > 0),
            F.expr(
                "CAST(FLOOR(" + num + f" / (SQRT({dx}) * SQRT({dy}))"
                " * 1.0e6 + 0.5e0) AS BIGINT)"
            ),
        )
        .cast("long")
        .alias("rho_ppm"),
    )


def spearman_rho_sql(pairs_sql: str) -> str:
    """DuckDB twin — identical rank construction (cumulative count
    over distinct values) and the identical double combination.
    ``pairs_sql`` must produce columns (x, y)."""
    num = "(n * 1.0e0 * sxy - sx * 1.0e0 * sy)"
    dx = "(n * 1.0e0 * sxx - sx * 1.0e0 * sx)"
    dy = "(n * 1.0e0 * syy - sy * 1.0e0 * sy)"
    return f"""
    WITH rows_ AS (
      SELECT x AS xv, y AS yv FROM ({pairs_sql})
      WHERE x IS NOT NULL AND y IS NOT NULL),
    cx AS (SELECT xv AS v, CAST(COUNT(*) AS BIGINT) AS c
           FROM rows_ GROUP BY 1),
    rx AS (SELECT v,
                  CAST(2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1
                       AS BIGINT) AS r2x
           FROM cx),
    cy AS (SELECT yv AS v, CAST(COUNT(*) AS BIGINT) AS c
           FROM rows_ GROUP BY 1),
    ry AS (SELECT v,
                  CAST(2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1
                       AS BIGINT) AS r2y
           FROM cy),
    ranked AS (
      SELECT rx.r2x, ry.r2y
      FROM rows_ JOIN rx ON rx.v = rows_.xv
      JOIN ry ON ry.v = rows_.yv),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r2x) AS BIGINT) AS sx,
             CAST(SUM(r2y) AS BIGINT) AS sy,
             CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
             CAST(SUM(r2y * r2y) AS BIGINT) AS syy,
             CAST(SUM(r2x * r2y) AS BIGINT) AS sxy
      FROM ranked)
    SELECT n,
           CAST(CASE WHEN {dx} > 0 AND {dy} > 0
                THEN FLOOR({num} / (SQRT({dx}) * SQRT({dy}))
                           * 1.0e6 + 0.5e0)
                ELSE NULL END AS BIGINT) AS rho_ppm
    FROM m"""


KENDALL_MAX_ROWS = 5_000  # n(n-1)/2 pairs: 5k rows = 12.5M pairs


def kendall_tau(
    df: DataFrame,
    x: str,
    y: str,
    max_rows: int = KENDALL_MAX_ROWS,
) -> DataFrame:
    """Kendall tau-b between two columns over a BOUNDED frame — the
    pair-concordance rank correlation (more robust than Spearman to
    a few wild ranks; the other standard ranker-agreement number).
    → one row (n, concordant, discordant, tie_x, tie_y, tau_b_ppm;
    NULL tau when either column is constant). NULL rows dropped.
    EMPTY output (zero rows, not a NULL row) when fewer than 2
    non-NULL rows survive — no pair exists, so the groupBy('n') over
    the empty pair frame yields nothing; the SQL twin matches.
    Callers doing ``collect()[0]`` must handle the n < 2 case.

        tau_b = (C − D) / sqrt((C + D + Tx)·(C + D + Ty))

    with Tx/Ty the single-sided tie pair counts (both-tied pairs are
    excluded from both radicands, per the standard estimator).

    INHERENTLY QUADRATIC: every unordered row pair is examined, so
    this is a leaderboard-frame operator (model rankings, supplier
    tables, eval slices), NOT a corpus operator — ``max_rows``
    (default 5000 → 12.5M pairs) is enforced by a raise_error guard
    attached to every row BEFORE pairing, so an over-limit input
    fails on its first row instead of shuffling n² pairs. For
    corpus-scale rank agreement use :func:`spearman_rho` (linear +
    two prefix sums).

    Pairing uses monotonically_increasing_id solely for uniqueness
    (id_a < id_b enumerates each unordered pair once); the counts —
    and therefore the output — are independent of the id assignment.
    The final ratio runs in doubles from exact BIGINT counts through
    IEEE correctly-rounded ops (module header); ties in the pair
    counts make C, D, Tx, Ty exact integers in any engine.
    """
    rows = (
        df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
        .select(F.col(x).alias("xv"), F.col(y).alias("yv"))
        .localCheckpoint(eager=True)  # pin ids + count once
    )
    n_df = rows.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # the guard is folded into n itself (which flows to the output),
    # so column pruning can never eliminate the raise_error; it fires
    # per-row BEFORE pairing, killing an over-limit run at row one
    guarded = rows.crossJoin(F.broadcast(n_df)).select(
        "xv",
        "yv",
        F.when(
            F.col("n") > max_rows,
            F.raise_error(
                F.concat(
                    F.lit("kendall_tau: n = "),
                    F.col("n").cast("string"),
                    F.lit(
                        f" > {max_rows} rows; the all-pairs shape is "
                        "quadratic — slice the frame or use "
                        "spearman_rho"
                    ),
                )
            ).cast("long"),
        )
        .otherwise(F.col("n"))
        .alias("n"),
    )
    ids = guarded.select(
        "xv", "yv", "n", F.monotonically_increasing_id().alias("__id")
    )
    a = ids.select(
        F.col("xv").alias("xa"), F.col("yv").alias("ya"),
        F.col("__id").alias("ia"), "n",
    )
    b = ids.select(
        F.col("xv").alias("xb"), F.col("yv").alias("yb"),
        F.col("__id").alias("ib"),
    )
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        "n",
        F.signum((F.col("xa") - F.col("xb")).cast("double")).alias("sx"),
        F.signum((F.col("ya") - F.col("yb")).cast("double")).alias("sy"),
    )
    m = pairs.groupBy("n").agg(
        F.sum(F.when(F.col("sx") * F.col("sy") > 0, 1).otherwise(0))
        .cast("long").alias("concordant"),
        F.sum(F.when(F.col("sx") * F.col("sy") < 0, 1).otherwise(0))
        .cast("long").alias("discordant"),
        F.sum(
            F.when((F.col("sx") == 0) & (F.col("sy") != 0), 1).otherwise(0)
        ).cast("long").alias("tie_x"),
        F.sum(
            F.when((F.col("sy") == 0) & (F.col("sx") != 0), 1).otherwise(0)
        ).cast("long").alias("tie_y"),
    )
    dx = "((concordant + discordant + tie_x) * 1.0e0)"
    dy = "((concordant + discordant + tie_y) * 1.0e0)"
    return m.select(
        "n",
        "concordant",
        "discordant",
        "tie_x",
        "tie_y",
        F.when(
            (F.expr(dx) > 0) & (F.expr(dy) > 0),
            F.expr(
                "CAST(FLOOR((concordant - discordant) * 1.0e0"
                f" / (SQRT({dx}) * SQRT({dy})) * 1.0e6 + 0.5e0)"
                " AS BIGINT)"
            ),
        )
        .cast("long")
        .alias("tau_b_ppm"),
    )


def kendall_tau_sql(pairs_sql: str) -> str:
    """DuckDB twin — identical pair algebra (ROW_NUMBER ids; the
    counts are id-assignment independent) and the identical IEEE
    double combination. ``pairs_sql`` must produce columns (x, y)."""
    dx = "((concordant + discordant + tie_x) * 1.0e0)"
    dy = "((concordant + discordant + tie_y) * 1.0e0)"
    return f"""
    WITH rows_ AS (
      SELECT x AS xv, y AS yv,
             ROW_NUMBER() OVER () AS id
      FROM ({pairs_sql})
      WHERE x IS NOT NULL AND y IS NOT NULL),
    n_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rows_),
    pairs AS (
      SELECT n_t.n,
             SIGN(a.xv - b.xv) AS sx, SIGN(a.yv - b.yv) AS sy
      FROM rows_ a JOIN rows_ b ON a.id < b.id CROSS JOIN n_t),
    m AS (
      SELECT n,
             CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS concordant,
             CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS discordant,
             CAST(SUM(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tie_x,
             CAST(SUM(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tie_y
      FROM pairs GROUP BY n)
    SELECT n, concordant, discordant, tie_x, tie_y,
           CAST(CASE WHEN {dx} > 0 AND {dy} > 0
                THEN FLOOR((concordant - discordant) * 1.0e0
                           / (SQRT({dx}) * SQRT({dy})) * 1.0e6 + 0.5e0)
                ELSE NULL END AS BIGINT) AS tau_b_ppm
    FROM m"""


CYCLES_MAX_PLAYERS = 2_000


def pair_counts(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
) -> DataFrame:
    """Unordered head-to-head records from a raw comparison log →
    (lo, hi, n, w_lo) with lo < hi, n total games, w_lo wins by the
    smaller id. NULL participants and self-games dropped. ONE corpus
    aggregation, materialized (eager localCheckpoint): every consumer
    (player counts, decisive edges, Copeland scores, triad joins)
    reads the compact pair table instead of re-scanning the log.
    Shared by every pair-table consumer here and by
    ``btrank.elo_ratings``."""
    # != is NULL, so false, when either side is NULL
    return _pairs(
        comparisons.filter(F.col(winner) != F.col(loser)), winner, loser
    ).localCheckpoint(eager=True)


PAIR_COUNTS_SQL = """
      SELECT LEAST(winner, loser) AS lo, GREATEST(winner, loser) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN winner < loser THEN 1 ELSE 0 END)
                  AS BIGINT) AS w_lo
      FROM ({comparisons_sql})
      WHERE winner IS NOT NULL AND loser IS NOT NULL
        AND winner <> loser
      GROUP BY 1, 2"""


def copeland_ranking(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
) -> DataFrame:
    """Copeland pairwise ranking — the Condorcet-consistent
    leaderboard score that needs NO iterative fit: each unordered
    pair's head-to-head record awards the strict-majority winner 2
    points, the loser 0, and 1 each on a tie. → one row per player:
    (player, pairs_played, pairs_won, pairs_lost, pairs_tied,
    copeland2) with copeland2 = 2·wins + ties (kept doubled so it
    stays an exact BIGINT — no halves). Descending copeland2 is the
    ranking; consumers order (copeland2 DESC, player) for the
    deterministic leaderboard.

    Why alongside bt_strengths/elo_ratings: Copeland depends only on
    pairwise MAJORITIES, so it is immune to game-count imbalance
    between pairs (a pair played 1000× counts exactly once), the
    standard robustness companion to magnitude-sensitive fits.

    Scale shape: one corpus aggregation (the shared
    :func:`pair_counts` table), then a pairs→players unpivot and a
    per-player hash agg — work ∝ distinct pairs; no window, no
    collect, no float, no guard needed (nothing quadratic)."""
    return _copeland(pair_counts(comparisons, winner, loser))


def copeland_ranking_sql(comparisons_sql: str) -> str:
    """DuckDB twin — identical pair derivation and point algebra."""
    pairs = PAIR_COUNTS_SQL.format(comparisons_sql=comparisons_sql)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    sides AS (
      SELECT lo AS player,
             CASE WHEN 2 * w_lo > n THEN 2
                  WHEN 2 * w_lo = n THEN 1 ELSE 0 END AS pts
      FROM pairs
      UNION ALL
      SELECT hi,
             CASE WHEN 2 * w_lo < n THEN 2
                  WHEN 2 * w_lo = n THEN 1 ELSE 0 END
      FROM pairs)
    SELECT player,
           CAST(COUNT(*) AS BIGINT) AS pairs_played,
           CAST(SUM(CASE WHEN pts = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_won,
           CAST(SUM(CASE WHEN pts = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_lost,
           CAST(SUM(CASE WHEN pts = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_tied,
           CAST(SUM(pts) AS BIGINT) AS copeland2
    FROM sides GROUP BY player"""


def preference_cycles(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    max_players: int = CYCLES_MAX_PLAYERS,
) -> DataFrame:
    """Transitivity audit of a preference log — Kendall's circular
    triads: among player triples whose three head-to-head records
    are all DECISIVE (strict majority winner), how many are cyclic
    (A beats B beats C beats A)? A high cyclic share means the
    pairwise data contradicts ANY total ordering, and a
    Bradley-Terry/Elo scalar fit will paper over real inconsistency
    (rubric drift, mixed populations). → one row, exact BIGINT:
    (n_players, n_decisive_edges, n_triads, n_cyclic, cyclic_ppm;
    NULL ppm when no complete triads exist).

    Leaderboard-frame operator: triad enumeration is a 3-way
    self-join of the decisive-edge set (players are a model/supplier
    dimension, never a corpus) — guarded loudly at ``max_players``
    via raise_error folded into the pairs-level n_players aggregate,
    eagerly checkpointed so it fires before any triad join (and on
    all-ties inputs too, where the decisive set is empty). Each
    directed 3-cycle is counted once (anchored at its smallest
    vertex); each complete triple once (x < y < z on the undirected
    edge set). Everything is counts — deterministic in any engine.
    """
    n_players, und, triples = _triads(
        pair_counts(comparisons, winner, loser),
        max_players,
        "preference_cycles",
    )
    n_edges = und.agg(
        F.count(F.lit(1)).cast("long").alias("n_decisive_edges")
    )
    counts = triples.agg(
        F.count(F.lit(1)).cast("long").alias("n_triads"),
        # coalesce: zero complete triples must report 0 cyclic (the
        # twin's COUNT(*) semantics), not NULL-from-empty-sum
        F.coalesce(F.sum("cyclic"), F.lit(0)).cast("long").alias("n_cyclic"),
    )
    return (
        F.broadcast(n_players)
        .crossJoin(n_edges)
        .crossJoin(counts)
        .select(
            "n_players",
            "n_decisive_edges",
            "n_triads",
            "n_cyclic",
            F.when(
                F.col("n_triads") > 0,
                F.expr(f"n_cyclic * {PPM}L div n_triads"),
            )
            .cast("long")
            .alias("cyclic_ppm"),
        )
    )


def preference_cycles_sql(comparisons_sql: str) -> str:
    """DuckDB twin — identical edge derivation and triad joins.
    ``comparisons_sql`` must produce columns (winner, loser)."""
    return f"""
    WITH c AS MATERIALIZED (
      SELECT winner, loser FROM ({comparisons_sql})
      WHERE winner IS NOT NULL AND loser IS NOT NULL
        AND winner <> loser),
    pairs AS MATERIALIZED (
      SELECT LEAST(winner, loser) AS lo, GREATEST(winner, loser) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN winner < loser THEN 1 ELSE 0 END)
                  AS BIGINT) AS w_lo
      FROM c GROUP BY 1, 2),
    np AS (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) AS n_players
           FROM (SELECT lo AS p FROM pairs
                 UNION ALL SELECT hi FROM pairs)),
    dec AS MATERIALIZED (
      SELECT CASE WHEN 2 * w_lo > n THEN lo ELSE hi END AS src,
             CASE WHEN 2 * w_lo > n THEN hi ELSE lo END AS dst
      FROM pairs WHERE 2 * w_lo <> n),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_decisive_edges
           FROM dec),
    und AS MATERIALIZED (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM dec),
    triads AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triads
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    cyc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cyclic
      FROM dec d1
      JOIN dec d2 ON d2.src = d1.dst
      JOIN dec d3 ON d3.src = d2.dst AND d3.dst = d1.src
      WHERE d1.src < d1.dst AND d1.src < d2.dst)
    SELECT np.n_players, ne.n_decisive_edges, triads.n_triads,
           cyc.n_cyclic,
           CAST(CASE WHEN triads.n_triads > 0
                THEN cyc.n_cyclic * {PPM} // triads.n_triads
                ELSE NULL END AS BIGINT) AS cyclic_ppm
    FROM np CROSS JOIN ne CROSS JOIN triads CROSS JOIN cyc"""


def cycles_by_gap(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    bucket_width: int = 2,
    max_players: int = CYCLES_MAX_PLAYERS,
) -> DataFrame:
    """Gap-conditioned transitivity — WHERE the circular triads live:
    :func:`preference_cycles`' scalar cyclic rate, broken down by how
    CLOSE the three players are on the Copeland scale. For each
    complete decisive triple, gap = min pairwise |copeland2_i −
    copeland2_j| (the doubled Copeland score of
    :func:`copeland_ranking` — exact BIGINT), bucketed as
    gap_bucket = gap div ``bucket_width``. → one row per non-empty
    bucket: (gap_bucket, n_triads, n_cyclic, cyclic_ppm), ascending
    gap_bucket.

    The question it answers: a 20-30% global cyclic share can mean
    "preferences are noise" OR "close pairs are coin flips while the
    ordering is globally sound" — those demand opposite responses
    (re-rubric vs accept). Intransitivity concentrated in bucket 0
    (players within one decisive win of each other) is the benign
    reading; a flat profile across gaps indicts the rubric.

    Scale shape: the shared :func:`pair_counts` corpus aggregation,
    then triad enumeration over decisive edges (same 3-way self-join
    and ``max_players`` raise_error guard as preference_cycles —
    players are a bounded leaderboard dimension, enforced before any
    triad join runs) with the per-triple cyclic test evaluated from
    the three directed edges: for x < y < z, cyclic ⟺
    (x→y ∧ y→z ∧ z→x) ∨ (y→x ∧ z→y ∧ x→z). Copeland scores join on
    the bounded player dim. Everything is exact integer counts —
    deterministic in any engine.
    """
    pairs = pair_counts(comparisons, winner, loser)
    _, _, triples = _triads(pairs, max_players, "cycles_by_gap")
    gapped = _lookup(
        triples, _copeland(pairs), "player", "copeland2",
        x="cx", y="cy", z="cz",
    ).select(
        "cyclic",
        F.least(
            F.abs(F.col("cx") - F.col("cy")),
            F.abs(F.col("cy") - F.col("cz")),
            F.abs(F.col("cx") - F.col("cz")),
        ).alias("gap"),
    )
    w = int(bucket_width)
    return (
        gapped.groupBy(
            F.expr(f"gap div {w}L").cast("long").alias("gap_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triads"),
            F.sum("cyclic").cast("long").alias("n_cyclic"),
        )
        .select(
            "gap_bucket",
            "n_triads",
            "n_cyclic",
            F.expr(f"n_cyclic * {PPM}L div n_triads")
            .cast("long")
            .alias("cyclic_ppm"),
        )
    )


def pairwise_coverage(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    min_games: int = 5,
) -> DataFrame:
    """Comparison-matrix completeness audit — BEFORE trusting any
    rating fit, how much of the head-to-head matrix was actually
    sampled? → one row, exact BIGINT: (n_players, n_games,
    n_possible_pairs, n_pairs_observed, n_pairs_min_games,
    coverage_ppm, wellsampled_ppm) with n_possible_pairs =
    C(n_players, 2) over the players that appear in ≥1 game,
    coverage_ppm = observed/possible and wellsampled_ppm counting
    only pairs with ≥ ``min_games`` games (a 1-game pair tells a
    rating fit almost nothing).

    The failure mode it catches: a leaderboard fit on a 3%-sampled
    matrix is mostly prior; BT/Elo will happily emit confident
    numbers either way. n_players·(n_players−1) stays exact BIGINT
    to ~3e9 players — far past any leaderboard.

    Scale shape: the shared :func:`pair_counts` corpus aggregation,
    then one 1-row aggregate reading the player count as a scalar
    subquery; no join, no window, no collect.
    """
    pairs = pair_counts(comparisons, winner, loser)
    stats = pairs.agg(
        F.sum("n").cast("long").alias("n_games"),
        F.count(F.lit(1)).cast("long").alias("n_pairs_observed"),
        F.sum((F.col("n") >= min_games).cast("long"))
        .cast("long")
        .alias("n_pairs_min_games"),
    )
    return (
        stats.withColumn("n_players", _n_players(pairs).scalar())
        .select(
            "n_players",
            F.coalesce("n_games", F.lit(0)).cast("long").alias("n_games"),
            F.expr("(n_players * (n_players - 1)) div 2")
            .cast("long")
            .alias("n_possible_pairs"),
            "n_pairs_observed",
            F.coalesce("n_pairs_min_games", F.lit(0))
            .cast("long")
            .alias("n_pairs_min_games"),
        )
        .select(
            "n_players",
            "n_games",
            "n_possible_pairs",
            "n_pairs_observed",
            "n_pairs_min_games",
            F.when(
                F.col("n_possible_pairs") > 0,
                F.expr(f"n_pairs_observed * {PPM}L div n_possible_pairs"),
            )
            .cast("long")
            .alias("coverage_ppm"),
            F.when(
                F.col("n_possible_pairs") > 0,
                F.expr(
                    f"n_pairs_min_games * {PPM}L div n_possible_pairs"
                ),
            )
            .cast("long")
            .alias("wellsampled_ppm"),
        )
    )


def pairwise_coverage_sql(comparisons_sql: str, min_games: int = 5) -> str:
    """DuckDB twin — identical pair derivation and count algebra."""
    pairs = PAIR_COUNTS_SQL.format(comparisons_sql=comparisons_sql)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    np AS (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) AS n_players
           FROM (SELECT lo AS p FROM pairs
                 UNION ALL SELECT hi FROM pairs)),
    st AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_games,
                  CAST(COUNT(*) AS BIGINT) AS n_pairs_observed,
                  CAST(COALESCE(SUM(CASE WHEN n >= {min_games}
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
                    AS n_pairs_min_games
           FROM pairs),
    base AS (
      SELECT np.n_players, st.n_games,
             CAST((np.n_players * (np.n_players - 1)) // 2 AS BIGINT)
               AS n_possible_pairs,
             st.n_pairs_observed, st.n_pairs_min_games
      FROM np CROSS JOIN st)
    SELECT n_players, n_games, n_possible_pairs, n_pairs_observed,
           n_pairs_min_games,
           CAST(CASE WHEN n_possible_pairs > 0
                THEN n_pairs_observed * {PPM} // n_possible_pairs
                ELSE NULL END AS BIGINT) AS coverage_ppm,
           CAST(CASE WHEN n_possible_pairs > 0
                THEN n_pairs_min_games * {PPM} // n_possible_pairs
                ELSE NULL END AS BIGINT) AS wellsampled_ppm
    FROM base"""


def player_consistency(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
) -> DataFrame:
    """Per-player upset profile — which players' results contradict
    the overall ordering? A decisive pair (strict majority winner) is
    an UPSET when the pair-winner's Copeland score is strictly below
    the pair-loser's (score tie → neither upset nor expected;
    reported separately). → one row per player appearing in ≥1
    decisive pair, exact BIGINT: (player, dec_pairs, wins_dec,
    upset_wins, upset_losses, score_ties, upset_ppm) with upset_ppm =
    (upset_wins + upset_losses)·1e6 div dec_pairs — the share of the
    player's decisive pairs that came out "wrong".

    The read: a player with HIGH upset_ppm is mis-ranked by any
    scalar fit (its games disagree with where the ordering puts it)
    — the per-player drill-down of :func:`preference_cycles`' global
    transitivity number.

    Scale shape: the shared :func:`pair_counts` corpus aggregation,
    Copeland scores from the SAME materialized pair table, one
    equi-join per pair side on the bounded player dim, one hash agg.
    No window, no collect, nothing quadratic.
    """
    pairs = pair_counts(comparisons, winner, loser)
    # a_won picks the pair winner's side: upset when the winner's
    # Copeland score is strictly below the loser's
    flagged = _lookup(
        _decisive(pairs), _copeland(pairs), "player", "copeland2",
        a="ca", b="cb",
    ).select(
        "a",
        "b",
        "a_won",
        F.when(F.col("a_won") == 1, F.col("ca") < F.col("cb"))
        .otherwise(F.col("cb") < F.col("ca"))
        .cast("long")
        .alias("upset"),
        (F.col("ca") == F.col("cb")).cast("long").alias("stie"),
    )
    return (
        _endpoints(
            flagged,
            [F.col("a").alias("player"), F.col("a_won").alias("won"),
             "upset", "stie"],
            [F.col("b").alias("player"), (1 - F.col("a_won")).alias("won"),
             "upset", "stie"],
        )
        .groupBy("player")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dec_pairs"),
            F.sum("won").cast("long").alias("wins_dec"),
            F.sum(F.col("won") * F.col("upset"))
            .cast("long")
            .alias("upset_wins"),
            F.sum((1 - F.col("won")) * F.col("upset"))
            .cast("long")
            .alias("upset_losses"),
            F.sum("stie").cast("long").alias("score_ties"),
        )
        .select(
            "player",
            "dec_pairs",
            "wins_dec",
            "upset_wins",
            "upset_losses",
            "score_ties",
            F.expr(
                f"(upset_wins + upset_losses) * {PPM}L div dec_pairs"
            )
            .cast("long")
            .alias("upset_ppm"),
        )
    )


def player_consistency_sql(comparisons_sql: str) -> str:
    """DuckDB twin — identical pair/Copeland/upset algebra."""
    pairs = PAIR_COUNTS_SQL.format(comparisons_sql=comparisons_sql)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    sides AS (
      SELECT lo AS player,
             CASE WHEN 2 * w_lo > n THEN 2
                  WHEN 2 * w_lo = n THEN 1 ELSE 0 END AS pts
      FROM pairs
      UNION ALL
      SELECT hi,
             CASE WHEN 2 * w_lo < n THEN 2
                  WHEN 2 * w_lo = n THEN 1 ELSE 0 END
      FROM pairs),
    cop AS MATERIALIZED (
      SELECT player, CAST(SUM(pts) AS BIGINT) AS copeland2
      FROM sides GROUP BY player),
    dec AS (
      SELECT CASE WHEN 2 * w_lo > n THEN lo ELSE hi END AS pw,
             CASE WHEN 2 * w_lo > n THEN hi ELSE lo END AS pl
      FROM pairs WHERE 2 * w_lo <> n),
    flagged AS (
      SELECT d.pw, d.pl,
             CASE WHEN w.copeland2 < l.copeland2 THEN 1 ELSE 0 END
               AS upset,
             CASE WHEN w.copeland2 = l.copeland2 THEN 1 ELSE 0 END
               AS stie
      FROM dec d
      JOIN cop w ON w.player = d.pw
      JOIN cop l ON l.player = d.pl),
    persides AS (
      SELECT pw AS player, 1 AS won, upset AS upset_win,
             0 AS upset_loss, stie
      FROM flagged
      UNION ALL
      SELECT pl, 0, 0, upset, stie FROM flagged)
    SELECT player,
           CAST(COUNT(*) AS BIGINT) AS dec_pairs,
           CAST(SUM(won) AS BIGINT) AS wins_dec,
           CAST(SUM(upset_win) AS BIGINT) AS upset_wins,
           CAST(SUM(upset_loss) AS BIGINT) AS upset_losses,
           CAST(SUM(stie) AS BIGINT) AS score_ties,
           CAST((CAST(SUM(upset_win) AS BIGINT)
                 + CAST(SUM(upset_loss) AS BIGINT)) * {PPM}
                // COUNT(*) AS BIGINT) AS upset_ppm
    FROM persides GROUP BY player"""


def rating_calibration(
    comparisons: DataFrame,
    ratings: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    player_col: str = "player",
    rating_col: str = "rating_milli",
    bucket_width: int = 10_000,
    pair_table: DataFrame | None = None,
) -> DataFrame:
    """Rating-scale calibration curve — does a fitted rating table
    actually PREDICT game outcomes at every rating gap? For each
    head-to-head pair, the FAVORITE is the higher-rated player
    (rating tie → smaller id, deterministic); pairs are bucketed by
    gap_bucket = |r_a − r_b| div ``bucket_width`` (milli-points;
    default 10 rating points per bucket) and each bucket compares

        actual_fav_ppm    = favorite wins / games
        predicted_fav_ppm = game-weighted mean of the Elo logistic
                            E_fav = 1/(1 + 10^(−gap/400))

    → one row per non-empty bucket: (gap_bucket, n_pairs, n_games,
    fav_wins, actual_fav_ppm, predicted_fav_ppm), ascending. A
    calibrated scale tracks the diagonal; actual ≪ predicted at
    large gaps means the fit overstates separation (the standard
    post-fit audit before a leaderboard ships).

    Composes with :func:`~det_module_spark.operators.btrank.
    elo_ratings` (rating_milli) or any BIGINT rating table. Numeric
    contract: identical to elo_ratings — the ONLY float is the
    logistic, immediately quantized to basis points with the same
    double expression in both engines (pow 1-ulp caveat in
    ``elo_ratings``' docstring); everything else exact BIGINT with truncating
    division. predicted keeps Σ n·e_bp ≤ total_games·1e4 — exact to
    ~9.2e14 games; actual's fav_wins·1e6 is exact to ~9.2e12 wins.

    Scale shape: the shared :func:`pair_counts` corpus aggregation,
    two equi-joins against the bounded player-dim rating table, one
    hash agg per bucket. No window, no collect, nothing quadratic.

    ``pair_table``: optional precomputed, already-materialized
    :func:`pair_counts` output for the same log — when the caller
    also fitted the ratings from it (elo_calibration), passing it in
    means ONE corpus aggregation serves both the fit and the audit
    instead of one each (guide §2.4).
    """
    pairs = (
        pair_table
        if pair_table is not None
        else pair_counts(comparisons, winner, loser)
    )
    w = int(bucket_width)
    scored = (
        _lookup(pairs, ratings, player_col, rating_col, lo="r_lo", hi="r_hi")
        .select(
            "n",
            F.expr("abs(r_lo - r_hi)").alias("gap_milli"),
            # favorite = higher rating, tie -> lo (smaller id)
            F.when(F.col("r_hi") > F.col("r_lo"), F.col("n") - F.col("w_lo"))
            .otherwise(F.col("w_lo"))
            .cast("long")
            .alias("fav_w"),
        )
        .select(
            "n",
            "fav_w",
            F.expr(f"gap_milli div {w}L").cast("long").alias("gap_bucket"),
            _e_bp("-gap_milli").alias("e_fav_bp"),
        )
    )
    return (
        scored.groupBy("gap_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("n").cast("long").alias("n_games"),
            F.sum("fav_w").cast("long").alias("fav_wins"),
            F.sum(F.col("n") * F.col("e_fav_bp"))
            .cast("long")
            .alias("pred_bp_games"),
        )
        .select(
            "gap_bucket",
            "n_pairs",
            "n_games",
            "fav_wins",
            F.expr(f"fav_wins * {PPM}L div n_games")
            .cast("long")
            .alias("actual_fav_ppm"),
            F.expr("pred_bp_games * 100L div n_games")
            .cast("long")
            .alias("predicted_fav_ppm"),
        )
    )


def rating_calibration_sql(
    comparisons_sql: str, ratings_sql: str, bucket_width: int = 10_000
) -> str:
    """DuckDB twin — identical pair derivation, favorite convention,
    logistic quantization and bucket algebra. ``ratings_sql`` must
    produce columns (player, rating_milli)."""
    pairs = PAIR_COUNTS_SQL.format(comparisons_sql=comparisons_sql)
    w = int(bucket_width)
    return f"""
    WITH cal_pairs AS MATERIALIZED ({pairs}),
    cal_ratings AS MATERIALIZED (
      SELECT player, rating_milli FROM ({ratings_sql})),
    cal_scored AS (
      SELECT p.n,
             CASE WHEN rh.rating_milli > rl.rating_milli
                  THEN p.n - p.w_lo ELSE p.w_lo END AS fav_w,
             ABS(rl.rating_milli - rh.rating_milli) // {w}
               AS gap_bucket,
             CAST(FLOOR(10000.0 / (1.0 + POW(10.0,
                  -ABS(rl.rating_milli - rh.rating_milli)
                  / 400000.0)) + 0.5) AS BIGINT) AS e_fav_bp
      FROM cal_pairs p
      JOIN cal_ratings rl ON rl.player = p.lo
      JOIN cal_ratings rh ON rh.player = p.hi)
    SELECT CAST(gap_bucket AS BIGINT) AS gap_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(n) AS BIGINT) AS n_games,
           CAST(SUM(fav_w) AS BIGINT) AS fav_wins,
           CAST((CAST(SUM(fav_w) AS BIGINT) * {PPM})
                // CAST(SUM(n) AS BIGINT) AS BIGINT)
             AS actual_fav_ppm,
           CAST((CAST(SUM(n * e_fav_bp) AS BIGINT) * 100)
                // CAST(SUM(n) AS BIGINT) AS BIGINT)
             AS predicted_fav_ppm
    FROM cal_scored GROUP BY gap_bucket"""


def cycles_by_gap_sql(comparisons_sql: str, bucket_width: int = 2) -> str:
    """DuckDB twin — identical pair/edge/triple derivation, Copeland
    gap algebra and bucketing."""
    pairs = PAIR_COUNTS_SQL.format(comparisons_sql=comparisons_sql)
    w = int(bucket_width)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    und AS MATERIALIZED (
      SELECT lo AS a, hi AS b,
             CASE WHEN 2 * w_lo > n THEN 1 ELSE 0 END AS a_won
      FROM pairs WHERE 2 * w_lo <> n),
    sides AS (
      SELECT lo AS player,
             CASE WHEN 2 * w_lo > n THEN 2
                  WHEN 2 * w_lo = n THEN 1 ELSE 0 END AS pts
      FROM pairs
      UNION ALL
      SELECT hi,
             CASE WHEN 2 * w_lo < n THEN 2
                  WHEN 2 * w_lo = n THEN 1 ELSE 0 END
      FROM pairs),
    cop AS MATERIALIZED (
      SELECT player, CAST(SUM(pts) AS BIGINT) AS copeland2
      FROM sides GROUP BY player),
    triples AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z,
             CASE WHEN (e1.a_won = 1 AND e2.a_won = 1
                        AND e3.a_won = 0)
                    OR (e1.a_won = 0 AND e2.a_won = 0
                        AND e3.a_won = 1)
                  THEN 1 ELSE 0 END AS cyclic
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    gapped AS (
      SELECT t.cyclic,
             LEAST(ABS(cx.copeland2 - cy.copeland2),
                   ABS(cy.copeland2 - cz.copeland2),
                   ABS(cx.copeland2 - cz.copeland2)) AS gap
      FROM triples t
      JOIN cop cx ON cx.player = t.x
      JOIN cop cy ON cy.player = t.y
      JOIN cop cz ON cz.player = t.z)
    SELECT CAST(gap // {w} AS BIGINT) AS gap_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_triads,
           CAST(SUM(cyclic) AS BIGINT) AS n_cyclic,
           CAST((CAST(SUM(cyclic) AS BIGINT) * {PPM})
                // COUNT(*) AS BIGINT) AS cyclic_ppm
    FROM gapped GROUP BY 1"""
