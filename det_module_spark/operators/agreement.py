"""Inter-annotator agreement — the QC gate a preference-labeling
pipeline runs before trusting pairwise labels (two raters label the
same items; how much of their agreement is beyond chance?).

Cohen's kappa, exact-integer contract (ROUND_NOTES playbook #10):

    po = agreements / n                      (observed agreement)
    pe = Σ_c (n_a,c · n_b,c) / n²            (chance agreement)
    κ  = (po - pe) / (1 - pe)

Everything is derived from counts, so both engines compute identical
BIGINTs; the two ratios are reported in ppm via integer division, and
κ itself as

    kappa_ppm = (po_ppm - pe_ppm)·1e6 div (1e6 - pe_ppm)

— one integer division of exact integers, no float anywhere. The ppm
quantization of po loses < 1e-6; pe's two-step division (below)
floors twice, so pe_ppm can sit up to ~1 ppm per CATEGORY below the
real ratio (C ppm total) — far below any labeling noise, and
cross-engine parity is unaffected since both engines evaluate the
identical expression. pe_ppm = 1e6 (raters constant and equal — κ
undefined, 0/0) returns NULL kappa_ppm.

Magnitudes: po's product stays ≤ n·1e6, but pe's naive cross term
n_a,c·n_b,c grows as n² and overflows BIGINT past n ≈ 3e9 rows per
category — so pe is computed as Σ (n_a,c·1e6 div n)·n_b,c div n:
the two-step integer division keeps every intermediate ≤ n·1e6 and
is exact to the same ppm contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000

# Largest per-unit label count m for which the krippendorff_alpha D_o
# term nuc·(m−nuc)·PPM stays exact BIGINT: the product peaks at
# (m²/4)·PPM, so m ≤ 2·sqrt((2^63−1)/PPM) ≈ 6.07e6. Enforced via a
# distributed raise_error guard (ADVICE r9).
KRIPP_UNIT_LIMIT = 6_000_000


def cohens_kappa(
    labels: DataFrame,
    item: str,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """``labels``: one row per item with both raters' labels (columns
    ``rater_a``, ``rater_b``; NULL-labeled rows are dropped — an
    unlabeled item is not an agreement sample). → one row:
    (n_items, n_agree, po_ppm, pe_ppm, kappa_ppm), all BIGINT
    (kappa_ppm NULL when pe = 1).

    Scale shape: one filter + two hash aggregations (per-category
    marginals joined on category — work ∝ distinct labels, not
    items²); no window, no collect.
    """
    df = labels.filter(
        F.col(rater_a).isNotNull() & F.col(rater_b).isNotNull()
    ).select(
        F.col(item).alias("item"),
        F.col(rater_a).cast("string").alias("la"),
        F.col(rater_b).cast("string").alias("lb"),
    )
    totals = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("la") == F.col("lb"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_agree"),
    )
    ma = df.groupBy(F.col("la").alias("cat")).agg(
        F.count(F.lit(1)).cast("long").alias("na")
    )
    mb = df.groupBy(F.col("lb").alias("cat")).agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    # pe in ppm with overflow-safe two-step integer division:
    # Σ ((na·1e6 div n)·nb div n)
    pe = (
        ma.join(mb, "cat")
        .crossJoin(totals.select("n"))
        .select(
            F.expr(f"(na * {PPM}L div n) * nb div n").alias("pe_term")
        )
        .agg(F.sum("pe_term").cast("long").alias("pe_ppm"))
    )
    return (
        totals.crossJoin(pe)
        .select(
            F.col("n").alias("n_items"),
            "n_agree",
            F.expr(f"n_agree * {PPM}L div n").alias("po_ppm"),
            "pe_ppm",
            F.when(
                F.col("pe_ppm") < PPM,
                F.expr(
                    f"(n_agree * {PPM}L div n - pe_ppm) * {PPM}L "
                    f"div ({PPM}L - pe_ppm)"
                ),
            )
            .cast("long")
            .alias("kappa_ppm"),
        )
    )


def cohens_kappa_sql(labels_sql: str) -> str:
    """DuckDB twin — identical integer algebra. ``labels_sql`` must
    produce columns (item, la, lb)."""
    return f"""
    WITH df AS (
      SELECT item, CAST(la AS VARCHAR) AS la, CAST(lb AS VARCHAR) AS lb
      FROM ({labels_sql})
      WHERE la IS NOT NULL AND lb IS NOT NULL),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM df),
    ma AS (SELECT la AS cat, CAST(COUNT(*) AS BIGINT) AS na
           FROM df GROUP BY 1),
    mb AS (SELECT lb AS cat, CAST(COUNT(*) AS BIGINT) AS nb
           FROM df GROUP BY 1),
    pe AS (
      SELECT CAST(SUM((na * {PPM} // n) * nb // n) AS BIGINT) AS pe_ppm
      FROM ma JOIN mb USING (cat) CROSS JOIN totals)
    SELECT t.n AS n_items, t.n_agree,
           CAST(t.n_agree * {PPM} // t.n AS BIGINT) AS po_ppm,
           pe.pe_ppm,
           CAST(CASE WHEN pe.pe_ppm < {PPM}
                THEN (t.n_agree * {PPM} // t.n - pe.pe_ppm) * {PPM}
                     // ({PPM} - pe.pe_ppm)
                ELSE NULL END AS BIGINT) AS kappa_ppm
    FROM totals t CROSS JOIN pe"""


def krippendorff_alpha(
    votes: DataFrame,
    item: str = "item",
    label: str = "label",
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) over a LONG-format vote
    table — the generalization of Cohen's kappa to ANY number of
    raters with MISSING labels (the usual shape of a crowd/AI
    labeling run: each item sees an arbitrary subset of raters).
    NULL labels are dropped; units with < 2 labels are unpairable and
    excluded, per the standard estimator. → one row, all BIGINT:
    (n_units, n_pairable, do_ppm, de_ppm, alpha_ppm).

        D_o = Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1) / n
        D_e = Σ_c n_c·(n − n_c) / (n·(n − 1))
        α   = 1 − D_o/D_e

    with m_u = labels on unit u, n_uc = count of category c on u,
    n = Σ m_u over pairable units, n_c = Σ_u n_uc. Exact-integer ppm
    contract (ROUND_NOTES playbook #10): every ratio is a two-step
    BIGINT division evaluated identically in Spark (``div``) and
    DuckDB (``//``) — both truncate toward zero, verified for the
    negative-α case (systematic disagreement) by test. Like
    :func:`cohens_kappa`'s pe, the double flooring costs up to ~1 ppm
    per category; D_e's n_c·(n−n_c) cross term is computed as
    ((n_c·1e6 div n)·(n−n_c)) div (n−1) so every intermediate stays
    ≤ n·1e6 — exact BIGINT to n ≈ 9e12 pairable labels for D_e. D_o's
    nuc·(m−nuc)·1e6 term instead bounds the PER-UNIT label count m at
    ``KRIPP_UNIT_LIMIT`` ≈ 6.07e6 — ENFORCED by a distributed
    raise_error guard on m (past it, non-ANSI Spark wraps silently
    where DuckDB errors). α = 1 means
    do_ppm = 0; de_ppm = 0 (all labels one category — α undefined)
    returns NULL alpha_ppm.

    Scale shape: ONE corpus-touching aggregation — the (item, label)
    count table, materialized via localCheckpoint so every derived
    aggregate (per-unit m, totals, category marginals, unit count)
    reads the compact count table instead of re-scanning the vote
    corpus (without the cut, Catalyst re-evaluates the scan+agg
    subtree per consumer: 14 corpus scans for this 1-row answer at
    any scale). Then per-item and per-category hash aggregations and
    1-row scalar crossJoins — work ∝ items + distinct labels; no
    window, no collect, no float.
    """
    v = votes.filter(F.col(label).isNotNull()).select(
        F.col(item).alias("item"),
        F.col(label).cast("string").alias("label"),
    )
    ucounts = (
        v.groupBy("item", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("nuc"))
        .localCheckpoint(eager=True)
    )
    # Enforced, not just documented (ADVICE r9): the D_o term
    # nuc·(m−nuc)·1e6 peaks at (m²/4)·1e6, which wraps BIGINT silently
    # (non-ANSI Spark) once a single unit carries m > ~6.07e6 labels —
    # DuckDB would error while Spark returned garbage. Guard m per
    # unit; the guarded column flows into every downstream aggregate.
    um = ucounts.groupBy("item").agg(
        F.sum("nuc").cast("long").alias("m_raw")
    ).select(
        "item",
        F.when(
            F.col("m_raw") > F.lit(KRIPP_UNIT_LIMIT),
            F.raise_error(
                F.concat(
                    F.lit("krippendorff_alpha: unit label count "),
                    F.col("m_raw").cast("string"),
                    F.lit(
                        f" > {KRIPP_UNIT_LIMIT}; nuc*(m-nuc)*1e6 "
                        "would exceed BIGINT — shard or subsample "
                        "the unit's labels"
                    ),
                )
            ).cast("long"),
        )
        .otherwise(F.col("m_raw"))
        .alias("m"),
    )
    pair_lab = ucounts.join(um, "item").filter(F.col("m") >= 2)
    totals = pair_lab.groupBy().agg(
        F.count_distinct(F.col("item")).cast("long").alias("n_pairable"),
        F.sum("nuc").cast("long").alias("n"),
        F.sum(
            F.expr(f"(nuc * (m - nuc) * {PPM}L) div (m - 1)")
        ).cast("long").alias("do_num_ppm"),
    )
    # distinct items with >= 1 non-null label == distinct items in
    # the count table — derived from the checkpoint, not the corpus
    all_units = ucounts.select(
        F.count_distinct(F.col("item")).cast("long").alias("n_units")
    )
    ncat = (
        pair_lab.groupBy("label")
        .agg(F.sum("nuc").cast("long").alias("nc"))
        .crossJoin(totals.select("n"))
        .agg(
            F.sum(
                F.expr(f"((nc * {PPM}L div n) * (n - nc)) div (n - 1)")
            ).cast("long").alias("de_ppm")
        )
    )
    return (
        totals.crossJoin(ncat)
        .crossJoin(all_units)
        .select(
            "n_units",
            "n_pairable",
            F.expr("do_num_ppm div n").alias("do_ppm"),
            "de_ppm",
            F.when(
                F.col("de_ppm") > 0,
                F.expr(
                    f"(de_ppm - do_num_ppm div n) * {PPM}L div de_ppm"
                ),
            )
            .cast("long")
            .alias("alpha_ppm"),
        )
    )


def krippendorff_alpha_sql(votes_sql: str) -> str:
    """DuckDB twin — identical integer algebra. ``votes_sql`` must
    produce columns (item, label)."""
    return f"""
    WITH v AS (
      SELECT item, CAST(label AS VARCHAR) AS label
      FROM ({votes_sql}) WHERE label IS NOT NULL),
    ucounts AS (
      SELECT item, label, CAST(COUNT(*) AS BIGINT) AS nuc
      FROM v GROUP BY 1, 2),
    um AS (SELECT item, CAST(SUM(nuc) AS BIGINT) AS m
           FROM ucounts GROUP BY 1),
    pair_lab AS (
      SELECT u.item, u.label, u.nuc, m.m
      FROM ucounts u JOIN um m USING (item) WHERE m.m >= 2),
    totals AS (
      SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS n_pairable,
             CAST(SUM(nuc) AS BIGINT) AS n,
             CAST(SUM((nuc * (m - nuc) * {PPM}) // (m - 1)) AS BIGINT)
               AS do_num_ppm
      FROM pair_lab),
    all_units AS (
      SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS n_units FROM v),
    ncat AS (
      SELECT CAST(SUM(((nc * {PPM} // n) * (n - nc)) // (n - 1))
                  AS BIGINT) AS de_ppm
      FROM (SELECT label, CAST(SUM(nuc) AS BIGINT) AS nc
            FROM pair_lab GROUP BY 1) CROSS JOIN totals)
    SELECT a.n_units, t.n_pairable,
           CAST(t.do_num_ppm // t.n AS BIGINT) AS do_ppm,
           c.de_ppm,
           CAST(CASE WHEN c.de_ppm > 0
                THEN (c.de_ppm - t.do_num_ppm // t.n) * {PPM}
                     // c.de_ppm
                ELSE NULL END AS BIGINT) AS alpha_ppm
    FROM totals t CROSS JOIN ncat c CROSS JOIN all_units a"""


def consensus_labels(
    votes: DataFrame,
    item: str = "item",
    rater: str = "rater",
    label: str = "label",
) -> DataFrame:
    """Majority-vote label aggregation over a LONG-format vote table
    (one row per (item, rater, label); NULL labels dropped) →
    (item, consensus, votes_for, votes_total). Ties break to the
    lexicographically smallest label — deterministic in any engine.

    Scale shape: one count aggregation per (item, label), then ONE
    hash aggregation per item with the argmax encoded as
    ``min(struct(-count, label))`` (the graph.py survivorship idiom —
    no window, no per-item sort).
    """
    v = votes.filter(F.col(label).isNotNull()).select(
        F.col(item).alias("item"),
        F.col(rater).alias("rater"),
        F.col(label).cast("string").alias("label"),
    )
    counts = v.groupBy("item", "label").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        counts.groupBy("item")
        .agg(
            F.min(
                F.struct(
                    (-F.col("c")).alias("neg"),
                    F.col("label").alias("label"),
                    F.col("c").alias("c"),
                )
            ).alias("best"),
            F.sum("c").cast("long").alias("votes_total"),
        )
        .select(
            "item",
            F.col("best.label").alias("consensus"),
            F.col("best.c").alias("votes_for"),
            "votes_total",
        )
    )


def rater_accuracy(
    votes: DataFrame,
    item: str = "item",
    rater: str = "rater",
    label: str = "label",
    consensus: DataFrame | None = None,
) -> DataFrame:
    """Per-rater reliability against the majority consensus —
    (rater, n_votes, n_match, accuracy_ppm), exact integers (the
    Dawid-Skene-lite annotator QC table; a rater systematically
    below the pack is mislabeling or misreading the rubric).

    Note the consensus INCLUDES each rater's own vote (standard for
    the quick QC table; leave-one-out re-ranks ties and is a
    different, more expensive contract).

    ``consensus``: optional precomputed :func:`consensus_labels`
    output for the SAME cleaned vote table — callers that also need
    the consensus themselves (weighted_consensus) pass it so the
    per-(item,label) count + argmax aggregation runs once, not twice
    (optimization r10, guide §2.4).
    """
    v = votes.filter(F.col(label).isNotNull()).select(
        F.col(item).alias("item"),
        F.col(rater).alias("rater"),
        F.col(label).cast("string").alias("label"),
    )
    cons = consensus if consensus is not None else consensus_labels(v)
    return (
        v.join(cons.select("item", "consensus"), "item")
        .groupBy("rater")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_votes"),
            F.sum(
                F.when(F.col("label") == F.col("consensus"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_match"),
        )
        .select(
            "rater",
            "n_votes",
            "n_match",
            F.expr(f"n_match * {PPM}L div n_votes").alias("accuracy_ppm"),
        )
    )


def rater_accuracy_sql(votes_sql: str) -> str:
    """DuckDB twin of :func:`rater_accuracy` (consensus via
    ROW_NUMBER ordered (count DESC, label ASC) — same tie-break as
    min(struct(-count, label))). ``votes_sql`` must produce columns
    (item, rater, label)."""
    return f"""
    WITH v AS (
      SELECT item, rater, CAST(label AS VARCHAR) AS label
      FROM ({votes_sql}) WHERE label IS NOT NULL),
    counts AS (
      SELECT item, label, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY 1, 2),
    cons AS (
      SELECT item, label AS consensus
      FROM (SELECT item, label,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY c DESC, label ASC) AS rn
            FROM counts)
      WHERE rn = 1)
    SELECT v.rater,
           CAST(COUNT(*) AS BIGINT) AS n_votes,
           CAST(SUM(CASE WHEN v.label = cons.consensus
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           CAST(SUM(CASE WHEN v.label = cons.consensus
                    THEN 1 ELSE 0 END) * {PPM} // COUNT(*) AS BIGINT)
             AS accuracy_ppm
    FROM v JOIN cons USING (item)
    GROUP BY v.rater
    ORDER BY v.rater"""


def weighted_consensus(
    votes: DataFrame,
    item: str = "item",
    rater: str = "rater",
    label: str = "label",
) -> DataFrame:
    """One hard-EM round of Dawid-Skene-lite relabeling: majority
    consensus → per-rater accuracy against it (:func:`rater_accuracy`)
    → re-vote with each rater's ballot weighted by their accuracy_ppm.
    The standard crowd-labeling upgrade when raters differ in quality:
    a reliable minority can overrule a noisy majority, and 1-1 ties
    between raters of unequal accuracy resolve to the better rater
    instead of lexicographically.

    → (item, consensus, weight_for, weight_total, majority, changed),
    exact integers/strings/bool: ``consensus`` is the
    accuracy-weighted argmax (ties → lexicographically smallest
    label, the min(struct(-weight, label)) idiom), ``majority`` the
    unweighted round-0 consensus, ``changed`` their disagreement
    flag. NULL labels are dropped.

    Weights are BIGINT ppm (Σ over ≤ raters-per-item ballots — no
    overflow concern below 9e12 raters per item). Deterministic in
    any engine: weights derive from exact counts, the argmax is
    order-free.

    Scale shape: the cleaned vote table is materialized ONCE
    (eager localCheckpoint — the krippendorff_alpha/kmeans rescan
    treatment, d3177e0/e93e7e4): four consumers read it (the round-0
    consensus inside rater_accuracy, the accuracy counts, the
    majority column, the weighted re-vote), and without the cut
    Catalyst replans the vote-derivation subtree per consumer — 24
    static corpus scans for this output at any scale. Then the
    per-rater weight table joins broadcast (rater-cardinality dim)
    and two hash aggregations per (item,label)→item; no window, no
    collect.
    """
    v = (
        votes.filter(F.col(label).isNotNull())
        .select(
            F.col(item).alias("item"),
            F.col(rater).alias("rater"),
            F.col(label).cast("string").alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    # ONE consensus aggregation (optimization r10): rater_accuracy and
    # the majority column both need consensus_labels(v) — materialize
    # it once instead of running the per-(item,label) count + argmax
    # agg twice (guide §2.4). The r10-verdict "wcounts fold" (derive
    # the re-vote from one (item, label, count, collect_list(rater))
    # aggregation) was BUILT AND MEASURED in r11: 3.8 s vs 2.7 s warm —
    # the rater arrays through the exchange plus two explodes cost
    # more than the one corpus agg they save at any tested floor, so
    # the three-pass shape stays (honest negative result).
    cons = consensus_labels(v).localCheckpoint(eager=True)
    acc = rater_accuracy(v, consensus=cons).select(
        "rater", "accuracy_ppm"
    )
    maj = cons.select("item", F.col("consensus").alias("majority"))
    wcounts = (
        v.join(F.broadcast(acc), "rater")
        .groupBy("item", "label")
        .agg(F.sum("accuracy_ppm").cast("long").alias("w"))
    )
    return (
        wcounts.groupBy("item")
        .agg(
            F.min(
                F.struct(
                    (-F.col("w")).alias("neg"),
                    F.col("label").alias("label"),
                    F.col("w").alias("w"),
                )
            ).alias("best"),
            F.sum("w").cast("long").alias("weight_total"),
        )
        .select(
            "item",
            F.col("best.label").alias("consensus"),
            F.col("best.w").alias("weight_for"),
            "weight_total",
        )
        .join(maj, "item")
        .withColumn("changed", F.col("consensus") != F.col("majority"))
    )


def weighted_consensus_sql(votes_sql: str) -> str:
    """DuckDB twin of :func:`weighted_consensus` (same tie-breaks:
    weighted argmax via ROW_NUMBER (w DESC, label ASC); majority via
    (count DESC, label ASC)). ``votes_sql`` must produce columns
    (item, rater, label)."""
    return f"""
    WITH v AS (
      SELECT item, rater, CAST(label AS VARCHAR) AS label
      FROM ({votes_sql}) WHERE label IS NOT NULL),
    counts AS (
      SELECT item, label, CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY 1, 2),
    cons AS (
      SELECT item, label AS consensus
      FROM (SELECT item, label,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY c DESC, label ASC) AS rn
            FROM counts)
      WHERE rn = 1),
    acc AS (
      SELECT v.rater,
             CAST(SUM(CASE WHEN v.label = cons.consensus
                      THEN 1 ELSE 0 END) * {PPM} // COUNT(*) AS BIGINT)
               AS accuracy_ppm
      FROM v JOIN cons USING (item)
      GROUP BY v.rater),
    wcounts AS (
      SELECT v.item, v.label,
             CAST(SUM(acc.accuracy_ppm) AS BIGINT) AS w
      FROM v JOIN acc ON acc.rater = v.rater
      GROUP BY v.item, v.label),
    best AS (
      SELECT item, label AS consensus, w AS weight_for
      FROM (SELECT item, label, w,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY w DESC, label ASC) AS rn
            FROM wcounts)
      WHERE rn = 1),
    tot AS (
      SELECT item, CAST(SUM(w) AS BIGINT) AS weight_total
      FROM wcounts GROUP BY item)
    SELECT b.item, b.consensus, b.weight_for, t.weight_total,
           c.consensus AS majority,
           b.consensus <> c.consensus AS changed
    FROM best b
    JOIN tot t USING (item)
    JOIN cons c USING (item)
    ORDER BY b.item"""


# Largest per-unit label count m for which fleiss_kappa's per-item
# observed-agreement numerator Σ_c n_uc·(n_uc−1)·PPM stays exact
# BIGINT: the sum peaks at m·(m−1) (one category takes every label),
# so m·(m−1)·PPM ≤ 2^63−1 → m ≤ ~3.03e6. Enforced like
# KRIPP_UNIT_LIMIT via a distributed raise_error guard.
FLEISS_UNIT_LIMIT = 3_000_000


def fleiss_kappa(
    votes: DataFrame,
    item: str = "item",
    label: str = "label",
) -> DataFrame:
    """Fleiss' kappa (generalized to a variable number of raters per
    item, Fleiss 1971 / Gwet's variable-m form) over the same
    LONG-format vote table :func:`krippendorff_alpha` reads — the
    third chance-corrected agreement lens: Cohen's fixes TWO raters,
    Krippendorff weighs label PAIRS, Fleiss averages PER-ITEM
    agreement and compares it against the squared label prevalences.
    NULL labels are dropped; items with < 2 labels are unpairable and
    excluded from both P_o and the prevalence terms (they still count
    in n_units). → one row, all BIGINT:
    (n_units, n_pairable, po_ppm, pe_ppm, fleiss_kappa_ppm).

        P_o  = (1/N) Σ_u [ Σ_c n_uc·(n_uc−1) / (m_u·(m_u−1)) ]
        π_c  = (1/N) Σ_u n_uc / m_u
        P_e  = Σ_c π_c²
        κ    = (P_o − P_e) / (1 − P_e)

    Exact-integer ppm contract (ROUND_NOTES playbook #10): each
    per-item ratio floors once to ppm (≤ 1 ppm error per item,
    averaged so ≤ ~2 ppm on P_o / per category on P_e after the
    second floor) and both engines evaluate the identical expression
    (Spark ``div`` / DuckDB ``//``, both truncate toward zero — the
    κ numerator po−pe CAN be negative, same verified case as
    :func:`cohens_kappa`). The per-item numerator
    Σ_c n_uc·(n_uc−1)·1e6 peaks at m·(m−1)·1e6, wrapping BIGINT past
    m ≈ 3.03e6 labels on ONE item — ENFORCED by a raise_error guard
    on m at ``FLEISS_UNIT_LIMIT``. P_e sums squares of ppm-scaled
    prevalences (≤ 1e12 each, ≤ C·1e12 total) — exact BIGINT to
    ~9e6 distinct labels. pe_ppm = 1e6 (every pairable label one
    category) returns NULL kappa_ppm (0/0).

    Scale shape: ONE corpus-touching aggregation — the (item, label)
    count table, localCheckpoint'ed so the per-item, global, and
    per-category aggregates all read the compact count table (the
    krippendorff_alpha materialization pattern, d3177e0). The 1-row
    totals enter as scalar subqueries, not joins. Work ∝ items +
    distinct labels; no window, no collect, no float.
    """
    v = votes.filter(F.col(label).isNotNull()).select(
        F.col(item).alias("item"),
        F.col(label).cast("string").alias("label"),
    )
    ucounts = (
        v.groupBy("item", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("nuc"))
        .localCheckpoint(eager=True)
    )
    um = ucounts.groupBy("item").agg(
        F.sum("nuc").cast("long").alias("m_raw")
    ).select(
        "item",
        F.when(
            F.col("m_raw") > F.lit(FLEISS_UNIT_LIMIT),
            F.raise_error(
                F.concat(
                    F.lit("fleiss_kappa: unit label count "),
                    F.col("m_raw").cast("string"),
                    F.lit(
                        f" > {FLEISS_UNIT_LIMIT}; "
                        "sum(nuc*(nuc-1))*1e6 would exceed BIGINT "
                        "— shard or subsample the unit's labels"
                    ),
                )
            ).cast("long"),
        )
        .otherwise(F.col("m_raw"))
        .alias("m"),
    )
    pair_lab = ucounts.join(um, "item").filter(F.col("m") >= 2)
    # per-item observed agreement and per-item prevalence shares,
    # each floored once to ppm
    per_item = pair_lab.groupBy("item").agg(
        F.expr(
            f"sum(nuc * (nuc - 1)) * {PPM}L div (max(m) * (max(m) - 1))"
        ).cast("long").alias("poi_ppm"),
    )
    totals = per_item.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_pairable"),
        F.sum("poi_ppm").cast("long").alias("po_sum_ppm"),
    )
    all_units = ucounts.select(
        F.count_distinct(F.col("item")).cast("long").alias("n_units")
    )
    # prevalence π_c: per-(item,label) share floored to ppm, summed,
    # then averaged over pairable items; P_e = Σ_c (π_c ppm)² // 1e6
    pe = (
        pair_lab.groupBy("label")
        .agg(
            F.sum(F.expr(f"nuc * {PPM}L div m"))
            .cast("long")
            .alias("pic_sum_ppm")
        )
        .withColumn("n_pairable", totals.select("n_pairable").scalar())
        .agg(
            F.sum(
                F.expr(
                    "(pic_sum_ppm div n_pairable) * "
                    "(pic_sum_ppm div n_pairable)"
                )
            ).cast("long").alias("pe_num"),
        )
        .select(F.expr(f"pe_num div {PPM}L").alias("pe_ppm"))
    )
    return (
        totals.withColumn("pe_ppm", pe.scalar())
        .withColumn("n_units", all_units.scalar())
        .select(
            "n_units",
            "n_pairable",
            F.expr("po_sum_ppm div n_pairable").alias("po_ppm"),
            "pe_ppm",
            F.when(
                F.col("pe_ppm") < F.lit(PPM),
                F.expr(
                    f"(po_sum_ppm div n_pairable - pe_ppm) * {PPM}L "
                    f"div ({PPM}L - pe_ppm)"
                ),
            )
            .cast("long")
            .alias("fleiss_kappa_ppm"),
        )
    )


def fleiss_kappa_sql(votes_sql: str) -> str:
    """DuckDB twin — identical integer algebra. ``votes_sql`` must
    produce columns (item, label)."""
    return f"""
    WITH v AS (
      SELECT item, CAST(label AS VARCHAR) AS label
      FROM ({votes_sql}) WHERE label IS NOT NULL),
    ucounts AS (
      SELECT item, label, CAST(COUNT(*) AS BIGINT) AS nuc
      FROM v GROUP BY 1, 2),
    um AS (SELECT item, CAST(SUM(nuc) AS BIGINT) AS m
           FROM ucounts GROUP BY 1),
    pair_lab AS (
      SELECT u.item, u.label, u.nuc, m.m
      FROM ucounts u JOIN um m USING (item) WHERE m.m >= 2),
    per_item AS (
      SELECT item,
             CAST(SUM(nuc * (nuc - 1)) * {PPM}
                  // (MAX(m) * (MAX(m) - 1)) AS BIGINT) AS poi_ppm
      FROM pair_lab GROUP BY 1),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairable,
             CAST(SUM(poi_ppm) AS BIGINT) AS po_sum_ppm
      FROM per_item),
    all_units AS (
      SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS n_units FROM v),
    pe AS (
      SELECT CAST(SUM((pic_sum_ppm // n_pairable) *
                      (pic_sum_ppm // n_pairable)) // {PPM}
                  AS BIGINT) AS pe_ppm
      FROM (SELECT label,
                   CAST(SUM(nuc * {PPM} // m) AS BIGINT)
                     AS pic_sum_ppm
            FROM pair_lab GROUP BY 1) CROSS JOIN totals)
    SELECT a.n_units, t.n_pairable,
           CAST(t.po_sum_ppm // t.n_pairable AS BIGINT) AS po_ppm,
           p.pe_ppm,
           CAST(CASE WHEN p.pe_ppm < {PPM}
                THEN (t.po_sum_ppm // t.n_pairable - p.pe_ppm)
                     * {PPM} // ({PPM} - p.pe_ppm)
                ELSE NULL END AS BIGINT) AS fleiss_kappa_ppm
    FROM totals t CROSS JOIN pe p CROSS JOIN all_units a"""
