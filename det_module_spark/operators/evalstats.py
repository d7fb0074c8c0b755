"""Model-eval statistics — the primitives an LLM eval harness runs
over a (task, model/sample, correct) attempt log: the unbiased
pass@k estimator (Chen et al. 2021, "Evaluating Large Language
Models Trained on Code", the HumanEval estimator), McNemar's paired
test for "is model A actually better than B on the SAME tasks?", and
classical-test-theory item discrimination ("which tasks separate
strong from weak models?").

All three follow the repo's exact-integer ppm contract (ROUND_NOTES
playbook #10): counts accumulate as BIGINT, every ratio floors via
integer division evaluated identically in Spark (``div``) and DuckDB
(``//``), floats appear only in item_discrimination's final
IEEE-deterministic sqrt over exact integer moments (the
grouped_corr_exact pattern, profile.py:35).

Reference parity note: the reference engine (a queue orchestrator,
queue/tasks.py) has no eval statistics — these extend the
LLM-data-pipeline surface the build brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000

# pass@k's stepwise product acc·(n−c−i) div (n−i) keeps every
# intermediate ≤ PPM·n, wrapping BIGINT once a single task carries
# n > (2^63−1)/1e6 ≈ 9.2e12 samples. Enforced (folded into the
# output column so Catalyst cannot prune it — the kendall_tau
# lesson, prefstats.py).
PASS_N_LIMIT = 1_000_000_000_000

# McNemar's statistic (b01−b10)²·1e6 stays exact BIGINT while the
# discordant-count gap |b01−b10| ≤ ~3.03e6; enforced per pair.
MCNEMAR_DIFF_LIMIT = 3_000_000

# item_discrimination's n·Σy² moment is bounded by (n·max_ability)²;
# exact BIGINT needs n·max_ability ≤ ~3.03e9. Enforced per task.
DISCRIM_NA_LIMIT = 3_000_000_000


def _passk_expr(n: str, c: str, k: int, max_k: int, intdiv: str) -> str:
    """The unrolled stepwise fail-ratio expression, identical text in
    both engines modulo the integer-division operator:

        acc_0 = 1e6;  acc_{i+1} = acc_i·(n−c−i) intdiv (n−i)

    After ``k`` steps acc = floor-chained 1e6·C(n−c,k)/C(n,k). Each
    factor (n−c−i)/(n−i) ≤ 1 so acc stays ≤ 1e6 and every
    intermediate ≤ 1e6·n (PASS_N_LIMIT). When n−c < k the factor at
    i = n−c is exactly 0 and acc collapses to 0 (fail impossible ⇒
    pass@k = 1) before any negative factor is touched. Each step
    floors once: ≤ k ppm ≈ 8 ppm total error, same class as
    cohens_kappa's two-step pe. ``k`` is data (one row per requested
    k), so the unroll goes to ``max_k`` with each step's factors gated
    on i < k: a step past k multiplies and divides by 1. Gating the
    factors, not the step, keeps one copy of ``acc`` per step, so the
    text (and the generated code) grows linearly in ``max_k``.
    """
    acc = str(PPM)
    for i in range(max_k):
        num = f"(CASE WHEN {i} < {k} THEN {n} - {c} - {i} ELSE 1 END)"
        den = f"(CASE WHEN {i} < {k} THEN {n} - {i} ELSE 1 END)"
        acc = f"(({acc}) * {num} {intdiv} {den})"
    return acc


def pass_at_k(
    attempts: DataFrame,
    task: str = "task",
    correct: str = "correct",
    ks: tuple[int, ...] = (1, 2, 4, 8),
) -> DataFrame:
    """Unbiased pass@k over a sample-level attempt log (one row per
    (task, sample); ``correct`` ∈ {0,1}). Per task with n samples and
    c correct, the unbiased estimator is

        pass@k = 1 − C(n−c, k) / C(n, k)

    (probability ≥ 1 of k samples drawn WITHOUT replacement is
    correct). Tasks with n < k cannot support the estimator and are
    excluded (reported as n_skipped — silent-cap honesty rule).
    → one row per k, ordered: (k, n_tasks, n_skipped, pass_ppm),
    all BIGINT; pass_ppm NULL when no task qualifies.

    Exact-integer shape: the binomial RATIO is computed stepwise
    (never the factorials), see :func:`_passk_expr`; the per-task
    ppm values then average with one more floor. The n ≤
    PASS_N_LIMIT guard is folded into the per-task count column so
    it survives column pruning.

    Scale shape: ONE corpus-touching aggregation — the per-task
    (n, c) table, localCheckpoint'ed so the |ks| per-k aggregates
    read the compact task table, then each task row exploded over
    the ks literals (|tasks|×|ks| rows, one hash agg). Work ∝
    tasks·|ks|; no join, no window, no collect, no float.
    """
    ks = tuple(sorted(set(int(k) for k in ks)))
    if not ks or ks[0] < 1:
        raise ValueError("ks must be positive ints")
    max_k = ks[-1]
    tc = (
        attempts.groupBy(F.col(task).alias("task"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.sum(F.col(correct).cast("long")).cast("long").alias("c"),
        )
        .select(
            "task",
            "c",
            F.when(
                F.col("n_raw") > F.lit(PASS_N_LIMIT),
                F.raise_error(
                    F.concat(
                        F.lit("pass_at_k: task sample count "),
                        F.col("n_raw").cast("string"),
                        F.lit(
                            f" > {PASS_N_LIMIT}; the stepwise "
                            "product would exceed BIGINT — "
                            "subsample the task's attempts"
                        ),
                    )
                ).cast("long"),
            )
            .otherwise(F.col("n_raw"))
            .alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    fail = _passk_expr("n", "c", "k", max_k, "div")
    k_lits = F.array(*[F.lit(k).cast("long") for k in ks])
    return (
        tc.select("*", F.explode(k_lits).alias("k"))
        .groupBy("k")
        .agg(
            F.sum(F.expr("CASE WHEN n >= k THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_tasks"),
            F.sum(F.expr("CASE WHEN n < k THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_skipped"),
            F.sum(
                F.expr(
                    f"CASE WHEN n >= k THEN {PPM} - ({fail}) "
                    "ELSE NULL END"
                )
            )
            .cast("long")
            .alias("pass_sum_ppm"),
        )
        .select(
            "k",
            "n_tasks",
            "n_skipped",
            F.when(
                F.col("n_tasks") > 0,
                F.expr("pass_sum_ppm div n_tasks"),
            )
            .cast("long")
            .alias("pass_ppm"),
        )
        .orderBy("k")
    )


def pass_at_k_sql(
    samples_sql: str, ks: tuple[int, ...] = (1, 2, 4, 8)
) -> str:
    """DuckDB twin — identical stepwise integer algebra.
    ``samples_sql`` must produce columns (task, correct)."""
    ks = tuple(sorted(set(int(k) for k in ks)))
    max_k = ks[-1]
    fail = _passk_expr("n", "c", "k", max_k, "//")
    kvals = ", ".join(f"({k})" for k in ks)
    return f"""
    WITH tc AS (
      SELECT task, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(correct) AS BIGINT) AS c
      FROM ({samples_sql}) GROUP BY 1),
    kdf AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES {kvals}) t(k)),
    per_k AS (
      SELECT k,
             CAST(SUM(CASE WHEN n >= k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tasks,
             CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_skipped,
             CAST(SUM(CASE WHEN n >= k THEN {PPM} - ({fail})
                      ELSE NULL END) AS BIGINT) AS pass_sum_ppm
      FROM tc CROSS JOIN kdf GROUP BY 1)
    SELECT k, n_tasks, n_skipped,
           CAST(CASE WHEN n_tasks > 0 THEN pass_sum_ppm // n_tasks
                ELSE NULL END AS BIGINT) AS pass_ppm
    FROM per_k ORDER BY k"""


def mcnemar_pairs(
    attempts: DataFrame,
    task: str = "task",
    model: str = "model",
    correct: str = "correct",
) -> DataFrame:
    """McNemar's paired test over every model pair — THE standard
    "is A better than B, or just luckier tasks?" check for evals:
    on tasks BOTH models attempted, only the discordant cells carry
    signal (b01 = A right & B wrong, b10 = the reverse); the
    statistic (b01−b10)²/(b01+b10) is χ²(1) under H₀ "equal skill".

    ``attempts`` must be unique per (task, model) with ``correct``
    ∈ {0,1} (dedupe upstream). → one row per unordered model pair
    with ≥ 1 common task, ordered by (model_a, model_b):
    (model_a, model_b, n_common, b01, b10, mcnemar_ppm) — the
    statistic ×1e6 as BIGINT, NULL when b01+b10 = 0 (no discordant
    tasks: the test is undefined, not "0").

    Exact-integer shape: (b01−b10)²·1e6 div (b01+b10); exact BIGINT
    while |b01−b10| ≤ MCNEMAR_DIFF_LIMIT ≈ 3.03e6 — enforced, folded
    into the output column (prune-proof).

    Scale shape: one self-join on task (co-partitioned shuffle join
    on the task key) producing per-task model pairs — work ∝
    tasks·(models-per-task choose 2); models is a bounded dimension
    (an eval compares a handful-to-hundreds of models), so the pair
    fan-out is a small constant per task. One hash agg on the
    (model_a, model_b) key. No window, no collect, no float.
    """
    a = attempts.select(
        F.col(task).alias("task"),
        F.col(model).alias("ma"),
        F.col(correct).cast("long").alias("ca"),
    )
    b = attempts.select(
        F.col(task).alias("task"),
        F.col(model).alias("mb"),
        F.col(correct).cast("long").alias("cb"),
    )
    pairs = (
        a.join(b, "task")
        .filter(F.col("ma") < F.col("mb"))
        .groupBy(
            F.col("ma").alias("model_a"), F.col("mb").alias("model_b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(
                F.expr("CASE WHEN ca = 1 AND cb = 0 THEN 1 ELSE 0 END")
            ).cast("long").alias("b01"),
            F.sum(
                F.expr("CASE WHEN ca = 0 AND cb = 1 THEN 1 ELSE 0 END")
            ).cast("long").alias("b10"),
        )
    )
    return pairs.select(
        "model_a",
        "model_b",
        "n_common",
        "b01",
        "b10",
        F.when(
            F.expr(f"abs(b01 - b10) > {MCNEMAR_DIFF_LIMIT}"),
            F.raise_error(
                F.lit(
                    "mcnemar_pairs: |b01-b10| > "
                    f"{MCNEMAR_DIFF_LIMIT}; (b01-b10)^2*1e6 would "
                    "exceed BIGINT — shard the task set"
                )
            ).cast("long"),
        )
        .when(
            F.col("b01") + F.col("b10") > 0,
            F.expr(
                f"(b01 - b10) * (b01 - b10) * {PPM}L div (b01 + b10)"
            ),
        )
        .cast("long")
        .alias("mcnemar_ppm"),
    ).orderBy("model_a", "model_b")


def mcnemar_pairs_sql(attempts_sql: str) -> str:
    """DuckDB twin — identical pair derivation and count algebra.
    ``attempts_sql`` must produce columns (task, model, correct),
    unique per (task, model)."""
    return f"""
    WITH att AS MATERIALIZED (
      SELECT task, model, CAST(correct AS BIGINT) AS correct
      FROM ({attempts_sql})),
    pairs AS (
      SELECT a.model AS model_a, b.model AS model_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CASE WHEN a.correct = 1 AND b.correct = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS b01,
             CAST(SUM(CASE WHEN a.correct = 0 AND b.correct = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS b10
      FROM att a JOIN att b
        ON a.task = b.task AND a.model < b.model
      GROUP BY 1, 2)
    SELECT model_a, model_b, n_common, b01, b10,
           CAST(CASE WHEN b01 + b10 > 0
                THEN (b01 - b10) * (b01 - b10) * {PPM} // (b01 + b10)
                ELSE NULL END AS BIGINT) AS mcnemar_ppm
    FROM pairs ORDER BY model_a, model_b"""


def item_discrimination(
    attempts: DataFrame,
    task: str = "task",
    model: str = "model",
    correct: str = "correct",
) -> DataFrame:
    """Classical-test-theory item analysis per task: difficulty
    (share of models that solved it) and DISCRIMINATION — the
    point-biserial correlation between "model solved THIS task" and
    the model's overall score. High-discrimination tasks separate
    strong from weak models; near-zero (or negative) ones are noise
    (or mis-keyed) and an eval-curation pipeline drops them.

    ``attempts`` must be unique per (task, model), ``correct`` ∈
    {0,1}. → one row per task, ordered:
    (task, n_models, difficulty_ppm, discrimination) — counts and
    difficulty BIGINT-exact; discrimination a double from the
    grouped_corr_exact recipe (profile.py:35): the five sufficient
    moments accumulate as exact BIGINTs (x binary ⇒ Σx² = Σx) and
    only the final divide/sqrt is IEEE float — deterministic given
    exact ints, hence engine-parity-safe. NULL when the task or the
    ability column is constant (zero variance), or n_models < 2.

    The n·Σy² moment peaks at (n·max_ability)²: exact BIGINT needs
    n·max_ability ≤ DISCRIM_NA_LIMIT ≈ 3.03e9 — enforced per task,
    folded into the output column (prune-proof).

    Scale shape: the ability table (model → total correct) is a
    bounded-dimension aggregate, broadcast to the attempt log (no
    shuffle of the big side); then ONE hash agg per task. No window,
    no collect.
    """
    att = attempts.select(
        F.col(task).alias("task"),
        F.col(model).alias("model"),
        F.col(correct).cast("long").alias("x"),
    )
    ability = att.groupBy("model").agg(
        F.sum("x").cast("long").alias("y")
    )
    m = (
        att.join(F.broadcast(ability), "model")
        .groupBy("task")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
            F.max("y").cast("long").alias("max_y"),
        )
    )
    var_x = (F.col("n") * F.col("sx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    var_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "task",
        F.col("n").alias("n_models"),
        F.expr(f"sx * {PPM}L div n").alias("difficulty_ppm"),
        F.when(
            F.expr(f"n * max_y > {DISCRIM_NA_LIMIT}"),
            F.raise_error(
                F.lit(
                    "item_discrimination: n*max_ability > "
                    f"{DISCRIM_NA_LIMIT}; n*sum(y^2) would exceed "
                    "BIGINT — rescale ability first"
                )
            ).cast("double"),
        )
        .when(
            (F.col("n") > 1) & (var_x > 0) & (var_y > 0),
            cov_n.cast("double") / F.sqrt(var_x * var_y),
        )
        .alias("discrimination"),
    ).orderBy("task")


def item_discrimination_sql(attempts_sql: str) -> str:
    """DuckDB twin — identical moment algebra; the final
    divide/sqrt is IEEE-deterministic over exact BIGINTs.
    ``attempts_sql`` must produce columns (task, model, correct),
    unique per (task, model)."""
    return f"""
    WITH att AS MATERIALIZED (
      SELECT task, model, CAST(correct AS BIGINT) AS x
      FROM ({attempts_sql})),
    ability AS (
      SELECT model, CAST(SUM(x) AS BIGINT) AS y
      FROM att GROUP BY 1),
    m AS (
      SELECT a.task,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.x) AS BIGINT) AS sx,
             CAST(SUM(ab.y) AS BIGINT) AS sy,
             CAST(SUM(a.x * ab.y) AS BIGINT) AS sxy,
             CAST(SUM(ab.y * ab.y) AS BIGINT) AS syy
      FROM att a JOIN ability ab USING (model)
      GROUP BY 1)
    SELECT task, n AS n_models,
           CAST(sx * {PPM} // n AS BIGINT) AS difficulty_ppm,
           CASE WHEN n > 1
                 AND n * sx - sx * sx > 0
                 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / SQRT(CAST(n * sx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE))
                ELSE NULL END AS discrimination
    FROM m ORDER BY task"""


# auc_roc's final u2*1e6 div (2*n_pos*n_neg): u2 <= 2*n_pos*n_neg, so
# exact BIGINT needs n_pos*n_neg <= ~4.6e12 — enforced. An eval set
# beyond that has > 2e6 of EACH class; subsample first.
AUC_PAIRS_LIMIT = 4_000_000_000_000

# ks_test's d_num*1e6 with d_num <= n_a*n_b: exact BIGINT to ~9.2e12
# cross pairs — enforced.
KS_PAIRS_LIMIT = 9_000_000_000_000


def auc_roc(
    scored: DataFrame,
    score: str = "score",
    label: str = "label",
) -> DataFrame:
    """Exact ROC-AUC for a binary classifier from the rank-sum (the
    Mann-Whitney U identity): AUC = P(score⁺ > score⁻) + ½·P(tie).
    ``score`` must be integral (quantize floats to a fixed decimal
    first — the module contract); ``label`` ∈ {0,1}. → one row:
    (n_pos, n_neg, u2, auc_ppm), all BIGINT — u2 is 2·U (doubled so
    half-credit ties stay integer), auc_ppm NULL when either class is
    empty.

    Identity on the per-distinct-score count table (p_s positives,
    n_s negatives at score s, N_s = negatives strictly below s):

        2U = Σ_s p_s · (2·N_s + n_s)        (ties at s count ½ each)
        AUC = 2U / (2·n_pos·n_neg)

    Exact-integer contract: one floor in the final ppm division;
    u2·1e6 stays BIGINT while n_pos·n_neg ≤ AUC_PAIRS_LIMIT —
    enforced via raise_error folded into the output.

    Scale shape: ONE corpus aggregation (the distinct-score count
    table, localCheckpoint'ed), then :func:`~det_module_spark.
    operators.ids.global_cumsum` for the negatives-below prefix (the
    two-phase range-partition recipe — no empty-partition-spec
    window, no sort of the corpus, work ∝ distinct scores) and the
    1-row totals, joined as a scalar subquery. No float anywhere.
    """
    from det_module_spark.operators.ids import global_cumsum

    g = (
        scored.groupBy(F.col(score).cast("long").alias("s"))
        .agg(
            F.sum(F.col(label).cast("long")).cast("long").alias("pos"),
            F.sum(1 - F.col(label).cast("long"))
            .cast("long")
            .alias("neg"),
        )
        .localCheckpoint(eager=True)
    )
    cum = global_cumsum(
        g, ["s"], "neg", out="neg_below", inclusive=False
    )
    u2 = cum.agg(
        F.sum(
            F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))
        ).cast("long").alias("u2"),
    )
    tot = g.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
    )
    return tot.withColumn("u2", u2.scalar()).select(
        "n_pos",
        "n_neg",
        F.coalesce(F.col("u2"), F.lit(0)).cast("long").alias("u2"),
        F.when(
            F.expr(f"n_pos * n_neg > {AUC_PAIRS_LIMIT}"),
            F.raise_error(
                F.lit(
                    "auc_roc: n_pos*n_neg > "
                    f"{AUC_PAIRS_LIMIT}; u2*1e6 would exceed BIGINT "
                    "— subsample the eval set"
                )
            ).cast("long"),
        )
        .when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(f"u2 * {PPM}L div (2 * n_pos * n_neg)"),
        )
        .cast("long")
        .alias("auc_ppm"),
    )


def auc_roc_sql(scored_sql: str) -> str:
    """DuckDB twin — identical rank-sum algebra via a window
    cumulative sum (the oracle side may use the plain window; the
    Spark side's two-phase prefix sum is the distributed shape).
    ``scored_sql`` must produce columns (score, label)."""
    return f"""
    WITH g AS (
      SELECT CAST(score AS BIGINT) AS s,
             CAST(SUM(label) AS BIGINT) AS pos,
             CAST(SUM(1 - label) AS BIGINT) AS neg
      FROM ({scored_sql}) GROUP BY 1),
    cum AS (
      SELECT s, pos, neg,
             CAST(COALESCE(SUM(neg) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS neg_below
      FROM g),
    u AS (SELECT CAST(COALESCE(SUM(pos * (2 * neg_below + neg)), 0)
                      AS BIGINT) AS u2 FROM cum),
    tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
                   CAST(SUM(neg) AS BIGINT) AS n_neg FROM g)
    SELECT tot.n_pos, tot.n_neg, u.u2,
           CAST(CASE WHEN tot.n_pos > 0 AND tot.n_neg > 0
                THEN u.u2 * {PPM} // (2 * tot.n_pos * tot.n_neg)
                ELSE NULL END AS BIGINT) AS auc_ppm
    FROM tot CROSS JOIN u"""


def ks_test(
    samples: DataFrame,
    value: str = "value",
    flag: str = "flag",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — THE nonparametric
    drift detector between two empirical distributions (sample A =
    rows with ``flag`` 0, sample B = ``flag`` 1; ``value`` must be
    integral — quantize first). → one row, all BIGINT:
    (n_a, n_b, d_num, ks_ppm) where

        D = max_v |F_A(v) − F_B(v)|
        d_num = max_v |cumA(v)·n_b − cumB(v)·n_a|   (= D·n_a·n_b)

    so d_num is EXACT (the CDF difference over the common denominator
    n_a·n_b) and ks_ppm = d_num·1e6 div (n_a·n_b) floors once. Exact
    BIGINT while n_a·n_b ≤ KS_PAIRS_LIMIT — enforced via raise_error
    folded into the output. NULL ks_ppm when either sample is empty.

    Scale shape: ONE corpus aggregation (per-distinct-value counts of
    both samples, localCheckpoint'ed), two two-phase prefix sums over
    the compact count table (:func:`global_cumsum` — no global
    window, no corpus sort), one max with the sample sizes read as
    scalar subqueries. No float anywhere.
    """
    from det_module_spark.operators.ids import global_cumsum

    g = (
        samples.groupBy(F.col(value).cast("long").alias("v"))
        .agg(
            F.sum(1 - F.col(flag).cast("long"))
            .cast("long")
            .alias("ca"),
            F.sum(F.col(flag).cast("long")).cast("long").alias("cb"),
        )
        .localCheckpoint(eager=True)
    )
    ga = global_cumsum(g, ["v"], "ca", out="cum_a", inclusive=True)
    gb = global_cumsum(
        g.select("v", "cb"), ["v"], "cb", out="cum_b", inclusive=True
    )
    cum = ga.select("v", "cum_a").join(gb.select("v", "cum_b"), "v")
    tot = g.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    d = cum.agg(
        F.max(
            F.abs(
                F.col("cum_a") * tot.select("n_b").scalar()
                - F.col("cum_b") * tot.select("n_a").scalar()
            )
        ).cast("long").alias("d_raw"),
    )
    return tot.withColumn("d_raw", d.scalar()).select(
        "n_a",
        "n_b",
        F.coalesce(F.col("d_raw"), F.lit(0)).cast("long").alias("d_num"),
        F.when(
            F.expr(f"n_a * n_b > {KS_PAIRS_LIMIT}"),
            F.raise_error(
                F.lit(
                    f"ks_test: n_a*n_b > {KS_PAIRS_LIMIT}; "
                    "d_num*1e6 would exceed BIGINT — subsample"
                )
            ).cast("long"),
        )
        .when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.expr(f"d_raw * {PPM}L div (n_a * n_b)"),
        )
        .cast("long")
        .alias("ks_ppm"),
    )


def ks_test_sql(samples_sql: str) -> str:
    """DuckDB twin — identical CDF algebra via window cumulative
    sums. ``samples_sql`` must produce columns (value, flag)."""
    return f"""
    WITH g AS (
      SELECT CAST(value AS BIGINT) AS v,
             CAST(SUM(1 - flag) AS BIGINT) AS ca,
             CAST(SUM(flag) AS BIGINT) AS cb
      FROM ({samples_sql}) GROUP BY 1),
    cum AS (
      SELECT v,
             CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cum_b
      FROM g),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                   CAST(SUM(cb) AS BIGINT) AS n_b FROM g),
    d AS (SELECT CAST(COALESCE(MAX(ABS(cum_a * tot.n_b
                                       - cum_b * tot.n_a)), 0)
                      AS BIGINT) AS d_num
          FROM cum CROSS JOIN tot)
    SELECT tot.n_a, tot.n_b, d.d_num,
           CAST(CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN d.d_num * {PPM} // (tot.n_a * tot.n_b)
                ELSE NULL END AS BIGINT) AS ks_ppm
    FROM tot CROSS JOIN d"""
