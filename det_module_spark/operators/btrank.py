"""Bradley-Terry preference-strength fit — the pairwise-comparison
model an RLHF data pipeline runs over human/AI preference labels
(which completion wins) to grade annotators, rank models, or weight
training pairs.

Model: P(i beats j) = θ_i/(θ_i+θ_j). Fit by the classic MM
(minorization-maximization) update

    θ_i' = W_i / Σ_j n_ij/(θ_i+θ_j)

with W_i = i's total wins and n_ij = games between i and j — a fixed
number of rounds, each one join + one aggregation over the pair-count
table (state = one θ row per player; same iterate-with-checkpoint
shape as pagerank).

Cross-engine exactness (ROUND_NOTES playbook #10): θ is quantized to
integers (``Q`` units) and every per-pair term is quantized to an
integer with INTEGER DIVISION before the per-player sum, so the sums
are order-independent and the whole fit reproduces bit-for-bit in any
engine with 64-bit integer div — no float enters the update at all:

    tq_ij   = (n_ij·Q·QT) div (θq_i+θq_j)      [term ≈ tq/QT]
    denomq_i = Σ_j tq_ij                        [exact int]
    θq_i'   = max(1, (W_i·QT·Q) div denomq_i)   [θ ≈ θq/Q]

Magnitudes: W·QT·Q ≤ 1e6·1e4·1e6 = 1e16 < 2^63 — exact BIGINT in
Spark and DuckDB alike. The max(1, ·) clamp keeps an all-losing
player's θ positive (the MM denominator needs θ_i+θ_j > 0); a zero
denominator (every term underflowing QT) keeps the previous θ.

The precondition is ENFORCED, not just documented (ADVICE r8): any
per-player win count or per-pair game count above
``OVERFLOW_LIMIT = (2^63−1) div (Q·QT)`` (≈9.2e8) raises via a
distributed ``raise_error`` guard in the plan — in non-ANSI Spark a
BIGINT product wraps silently while DuckDB errors, so without the
guard the two engines would silently diverge at scale instead of
failing loudly.

The gauge (global scale of θ) is NOT normalized between rounds: a
fixed-round quantized fit must be bit-reproducible, and any ratio
θ_i/θ_j — the only thing the model defines — is gauge-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from det_module_spark.operators.prefstats import (
    _e_bp,
    _endpoints,
    _lookup,
    _pairs,
    pair_counts,
)


Q = 1_000_000  # θ quantization: θ_real ≈ theta_q / Q
QT = 10_000  # per-pair term quantization before the exact sum

# Largest per-player win count / per-pair game count for which the
# W·QT·Q and n·Q·QT products stay exact BIGINT (≈9.2e8 games).
OVERFLOW_LIMIT = (2**63 - 1) // (Q * QT)


# what each fit's overflow error tells the caller to do
_BT_ADVICE = "the quantized MM products would exceed BIGINT — reduce Q/QT or shard the fit"
_ELO_ADVICE = "the basis-point products w·10000 would exceed BIGINT — shard the fit"


def _overflow_guard(col: str, what: str, limit: int, fit: str, advice: str):
    """Pass ``col`` through unchanged, raising from the executors if
    it exceeds ``limit`` — the magnitude past which ``fit``'s integer
    products would wrap BIGINT (silently, in non-ANSI Spark). The
    error names ``fit`` and ends with its ``advice``."""
    return F.when(
        F.col(col) > F.lit(limit),
        F.raise_error(
            F.concat(
                F.lit(f"{fit}: {what} overflow: "),
                F.col(col).cast("string"),
                F.lit(f" > {limit}; {advice}"),
            )
        ).cast("long"),
    ).otherwise(F.col(col))


def _player_stats(pairs: DataFrame) -> DataFrame:
    """Per-player totals of a (lo, hi, n, w_lo) pair table →
    (player, j opponents, games, wins), from one explode of both
    endpoints (w_lo wins to lo, n − w_lo to hi). A lo == hi self-pair
    credits its player 2n games and 0 + n = n wins."""
    return (
        _endpoints(
            pairs,
            [F.col("lo").alias("player"), "n", F.col("w_lo").alias("w")],
            [
                F.col("hi").alias("player"),
                "n",
                (F.col("n") - F.col("w_lo")).alias("w"),
            ],
        )
        .groupBy("player")
        .agg(
            F.count(F.lit(1)).cast("long").alias("j"),
            F.sum("n").cast("long").alias("games"),
            F.sum("w").cast("long").alias("wins"),
        )
    )


def bt_strengths(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    rounds: int = 3,
    overflow_limit: int = OVERFLOW_LIMIT,
    pair_table: DataFrame | None = None,
) -> DataFrame:
    """→ (player, theta_q BIGINT, wins BIGINT, games BIGINT), one row
    per player appearing in any comparison, θ from ``rounds`` exact
    integer MM updates (init θq = Q for everyone).
    ``overflow_limit`` (tests lower it) gates the BIGINT-exactness
    precondition: wins/games-per-pair beyond it raise loudly instead
    of wrapping.

    ``pair_table``: optional precomputed, already-materialized
    (lo, hi, n, w_lo) unordered pair-count table (the
    ``prefstats.pair_counts`` shape: lo < hi, NULL participants
    dropped). When a caller fits several rating systems over the SAME
    comparison log (rank_agreement, elo_calibration), passing the
    shared table means ONE corpus aggregation feeds them all instead
    of one per fit (guide §2.4: remove duplicate passes outright).
    Caller contract: if the log can contain self-games
    (winner == loser), the table must include them as lo == hi rows
    (``pair_counts`` drops them — only share a table when the input
    provably has none, e.g. the supplier games whose generator
    filters sk_a != sk_b).

    Scale shape per round: games ⋈ θ (twice, equi-joins on player),
    one explode of both endpoints, one hash aggregation per player,
    θ re-joined — shuffle ∝ distinct pairs, state ∝ players,
    localCheckpoint per round to cut lineage (pagerank discipline).
    No collect, no window, no float. The (games, wins) base is ONE
    corpus aggregation — wins derive from the pair table's w_lo split
    (w_lo to lo, n − w_lo to hi; a lo == hi self-pair row credits
    its player 0 + n = n, exactly the direct per-winner count), so
    the log is scanned once, not twice (optimization r10).
    """
    if pair_table is None:
        # NULLs only: a self-game stays as a lo == hi row
        pair_table = _pairs(
            comparisons.dropna(subset=[winner, loser]), winner, loser
        ).localCheckpoint(eager=True)
    pt = pair_table.withColumn(
        "n",
        _overflow_guard("n", "games-per-pair", overflow_limit, "bt_strengths", _BT_ADVICE),
    )
    games = pt.select("lo", "hi", "n")
    stats = (
        _player_stats(pt)
        .withColumn(
            "wins",
            _overflow_guard("wins", "wins", overflow_limit, "bt_strengths", _BT_ADVICE),
        )
        .localCheckpoint(eager=True)
    )
    theta = stats.select("player", F.lit(Q).cast("long").alias("theta_q"))

    for _ in range(rounds):
        terms = _lookup(
            games, theta, "player", "theta_q", lo="th_lo", hi="th_hi"
        ).select(
            "lo",
            "hi",
            F.expr(f"(n * {Q}L * {QT}L) div (th_lo + th_hi)").alias("tq"),
        )
        denom = (
            _endpoints(
                terms,
                [F.col("lo").alias("player"), "tq"],
                [F.col("hi").alias("player"), "tq"],
            )
            .groupBy("player")
            .agg(F.sum("tq").cast("long").alias("denomq"))
        )
        theta = (
            theta.join(denom, "player")
            .join(stats, "player")
            .select(
                "player",
                F.when(F.col("denomq") > 0, F.greatest(
                    F.lit(1).cast("long"),
                    F.expr(f"(wins * {QT}L * {Q}L) div denomq"),
                ))
                .otherwise(F.col("theta_q"))
                .cast("long")
                .alias("theta_q"),
            )
            .localCheckpoint(eager=True)
        )
    return theta.join(stats, "player").select(
        "player", "theta_q", "wins", "games"
    )


ELO_INIT_MILLI = 1_500_000  # 1500.000 rating points
ELO_K_MILLI = 32_000  # classic K = 32, in milli-points


def elo_ratings(
    comparisons: DataFrame,
    winner: str = "winner",
    loser: str = "loser",
    rounds: int = 2,
    k_milli: int = ELO_K_MILLI,
    overflow_limit: int = (2**63 - 1) // 10_000,
    pair_table: DataFrame | None = None,
) -> DataFrame:
    """Batched (mini-batch) Elo — the online sibling of
    :func:`bt_strengths`: instead of the MM fixed point, ``rounds``
    synchronous passes of the per-opponent-AVERAGED Elo update

        Δ_i = K · mean_j (p̂_ij − E_ij),
        p̂_ij = w_ij / n_ij,
        E_ij = 1 / (1 + 10^((r_j − r_i)/400))

    applied once per round from the round-START ratings (all players
    init 1500). Sequential per-game Elo is a fold over the log —
    inherently serial, un-distributable; the batched form is one
    join + one aggregation per round, work ∝ distinct pairs. The
    averaging is LOAD-BEARING: the naive sum form
    Δ = K·Σ_j (w_ij − n_ij·E_ij) moves a player by up to K·games per
    round — measured on the sf0.001 supplier log (~1900 games/pair)
    it DIVERGED to ±25,000 rating points in two rounds with the
    ranking sign-inverted (rank-correlation −0.99 vs the BT fit).
    The mean bounds every round's move by ±K, so ratings stay in the
    logistic's live range and successive rounds contract.
    → (player, rating_milli, wins, games), one row per player;
    self-games (winner == loser) are dropped.

    Numeric contract: ratings are BIGINT milli-points. The ONLY
    float is the logistic expectation, immediately quantized to
    basis points: e_bp = FLOOR(1e4/(1 + 10^(d_milli/400000.0)) + .5)
    with d_milli an exact integer — the same double expression in
    Spark and DuckDB. pow may differ by 1 ulp between libms, which
    flips e_bp only when the logistic sits within ~1e-12 of a
    half-basis-point boundary (probability ~1e-12 per pair-round;
    parity-swept). Everything else is exact BIGINT with truncating
    division mirrored by DuckDB ``//``:
    s_ij_bp = (w_ij·1e4) div n_ij − e_ij_bp, and
    Δ_i_milli = (K_milli · Σ_j s_ij_bp) div (1e4 · J_i) with J_i the
    opponent count — |Δ| ≤ K_milli by construction.

    Magnitudes: the largest product is w_ij·1e4, so games-per-pair
    above (2^63−1) div 1e4 (≈9.2e14) raise via the shared
    raise_error guard instead of wrapping.

    ``pair_table``: optional precomputed, already-materialized
    (lo, hi, n, w_lo) pair-count table with lo < hi, NULL
    participants AND self-games dropped — exactly
    ``prefstats.pair_counts``. Lets rank_agreement/elo_calibration
    run ONE corpus aggregation for all their fits instead of one per
    fit (guide §2.4); the overflow guard is still applied here.
    """
    if pair_table is None:
        pair_table = pair_counts(comparisons, winner, loser)
    pairs = pair_table.withColumn(
        "n",
        _overflow_guard("n", "games-per-pair", overflow_limit, "elo_ratings", _ELO_ADVICE),
    )
    # J_i (opponent count) is round-invariant
    stats = _player_stats(pairs).localCheckpoint(eager=True)
    ratings = stats.select(
        "player", F.lit(ELO_INIT_MILLI).cast("long").alias("rating_milli")
    )

    for _ in range(rounds):
        terms = _lookup(
            pairs, ratings, "player", "rating_milli", lo="r_lo", hi="r_hi"
        ).select(
            "lo", "hi", "n", "w_lo", _e_bp("(r_hi - r_lo)").alias("e_lo_bp")
        )
        deltas = (
            _endpoints(
                terms,
                [
                    F.col("lo").alias("player"),
                    F.expr("(w_lo * 10000L) div n - e_lo_bp").alias("s_bp"),
                ],
                [
                    F.col("hi").alias("player"),
                    F.expr(
                        "((n - w_lo) * 10000L) div n - (10000L - e_lo_bp)"
                    ).alias("s_bp"),
                ],
            )
            .groupBy("player")
            .agg(F.sum("s_bp").cast("long").alias("s_sum"))
            .join(stats, "player")
            .select(
                "player",
                F.expr(
                    f"({k_milli}L * s_sum) div (10000L * j)"
                ).alias("delta"),
            )
        )
        ratings = (
            ratings.join(deltas, "player", "left")
            .select(
                "player",
                (
                    F.col("rating_milli")
                    + F.coalesce(F.col("delta"), F.lit(0))
                )
                .cast("long")
                .alias("rating_milli"),
            )
            .localCheckpoint(eager=True)
        )

    return ratings.join(stats, "player").select(
        "player", "rating_milli", "wins", "games"
    )


def elo_sql(
    comparisons_sql: str, rounds: int = 2, k_milli: int = ELO_K_MILLI
) -> str:
    """DuckDB twin of :func:`elo_ratings` — identical algebra, rounds
    unrolled as CTEs. ``comparisons_sql`` must produce columns
    (winner, loser)."""
    sql = f"""WITH c AS MATERIALIZED (
  SELECT winner, loser FROM ({comparisons_sql})
  WHERE winner IS NOT NULL AND loser IS NOT NULL
    AND winner <> loser),
pairs AS MATERIALIZED (
  SELECT LEAST(winner, loser) AS lo, GREATEST(winner, loser) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN winner < loser THEN 1 ELSE 0 END)
              AS BIGINT) AS w_lo
  FROM c GROUP BY 1, 2),
players AS (
  SELECT lo AS player FROM pairs UNION SELECT hi FROM pairs),
opp AS (
  SELECT player, CAST(COUNT(*) AS BIGINT) AS j FROM (
    SELECT lo AS player FROM pairs
    UNION ALL SELECT hi FROM pairs)
  GROUP BY player),
r0 AS (SELECT player, CAST({ELO_INIT_MILLI} AS BIGINT)
              AS rating_milli FROM players)"""
    e_bp = (
        "CAST(FLOOR(10000.0 / (1.0 + POW(10.0, "
        "(rh.rating_milli - rl.rating_milli) / 400000.0)) + 0.5) "
        "AS BIGINT)"
    )
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
terms{r} AS (
  SELECT g.lo, g.hi, g.n, g.w_lo, {e_bp} AS e_lo_bp
  FROM pairs g
  JOIN r{p} rl ON rl.player = g.lo
  JOIN r{p} rh ON rh.player = g.hi),
deltas{r} AS (
  SELECT s.player,
         CAST(({k_milli} * s.s_sum) // (10000 * o.j) AS BIGINT)
           AS delta
  FROM (SELECT player, CAST(SUM(s_bp) AS BIGINT) AS s_sum FROM (
          SELECT lo AS player,
                 (w_lo * 10000) // n - e_lo_bp AS s_bp
          FROM terms{r}
          UNION ALL
          SELECT hi,
                 ((n - w_lo) * 10000) // n - (10000 - e_lo_bp)
          FROM terms{r})
        GROUP BY player) s
  JOIN opp o ON o.player = s.player),
r{r} AS (
  SELECT r.player,
         CAST(r.rating_milli + COALESCE(d.delta, 0) AS BIGINT)
           AS rating_milli
  FROM r{p} r LEFT JOIN deltas{r} d ON d.player = r.player)"""
    return (
        sql
        + f"""
SELECT r.player, r.rating_milli, w.wins, g.games
FROM r{rounds} r
JOIN (SELECT player, CAST(SUM(w) AS BIGINT) AS wins FROM (
        SELECT lo AS player, w_lo AS w FROM pairs
        UNION ALL SELECT hi, n - w_lo FROM pairs)
      GROUP BY player) w ON w.player = r.player
JOIN (SELECT player, CAST(SUM(n) AS BIGINT) AS games FROM (
        SELECT lo AS player, n FROM pairs
        UNION ALL SELECT hi, n FROM pairs)
      GROUP BY player) g ON g.player = r.player
ORDER BY r.player"""
    )


def bt_sql(comparisons_sql: str, rounds: int = 3) -> str:
    """DuckDB twin of :func:`bt_strengths` — identical integer
    algebra, the round chain unrolled as CTEs. ``comparisons_sql``
    must produce columns (winner, loser)."""
    sql = f"""WITH c AS MATERIALIZED (
  SELECT winner, loser FROM ({comparisons_sql})
  WHERE winner IS NOT NULL AND loser IS NOT NULL),
games AS MATERIALIZED (
  SELECT LEAST(winner, loser) AS lo, GREATEST(winner, loser) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM c GROUP BY 1, 2),
players AS (
  SELECT lo AS player FROM games UNION SELECT hi FROM games),
wins_full AS (
  SELECT p.player, CAST(COALESCE(w.w, 0) AS BIGINT) AS w
  FROM players p LEFT JOIN (
    SELECT winner AS player, CAST(COUNT(*) AS BIGINT) AS w
    FROM c GROUP BY 1) w ON w.player = p.player),
n_games AS (
  SELECT player, CAST(SUM(n) AS BIGINT) AS games
  FROM (SELECT lo AS player, n FROM games
        UNION ALL SELECT hi, n FROM games)
  GROUP BY player),
th0 AS (SELECT player, CAST({Q} AS BIGINT) AS theta_q FROM wins_full)"""
    for r in range(1, rounds + 1):
        p = r - 1
        sql += f""",
terms{r} AS (
  SELECT g.lo, g.hi,
         (g.n * {Q} * {QT}) // (tl.theta_q + th.theta_q) AS tq
  FROM games g
  JOIN th{p} tl ON tl.player = g.lo
  JOIN th{p} th ON th.player = g.hi),
denom{r} AS (
  SELECT player, CAST(SUM(tq) AS BIGINT) AS denomq
  FROM (SELECT lo AS player, tq FROM terms{r}
        UNION ALL SELECT hi, tq FROM terms{r})
  GROUP BY player),
th{r} AS (
  SELECT t.player,
         CAST(CASE WHEN d.denomq > 0
              THEN GREATEST(1, (w.w * {QT} * {Q}) // d.denomq)
              ELSE t.theta_q END AS BIGINT) AS theta_q
  FROM th{p} t
  JOIN denom{r} d ON d.player = t.player
  JOIN wins_full w ON w.player = t.player)"""
    return (
        sql
        + f"""
SELECT t.player, t.theta_q, w.w AS wins, g.games
FROM th{rounds} t
JOIN wins_full w ON w.player = t.player
JOIN n_games g ON g.player = t.player
ORDER BY t.player"""
    )
