"""Regression pins for the round-6 third code-review pass
(profile/sequence/chunking/sketch/encoding/skyline/importance).

Same class as test_review_r6b.py: edge-input-only defects — ANSI
aborts on singleton/constant groups, an int64 overflow inside gini's
documented envelope, a float64 round-trip corrupting >2^53 skyline
values, NULL-masked drift flags, the single-partition global window
in ungrouped pack_sequences, zero-token documents vanishing from
DSIR weights, and NULL answers from empty KMV sketches. No trigger
exists in the driver tables, so registered-query values are
unchanged (full parity re-verified).
"""

import pytest
from pyspark.sql import functions as F


def test_grouped_corr_singleton_and_constant_groups_null(spark):
    from det_module_spark.operators.profile import grouped_corr_exact

    rows = [
        ("single", 1, 10),
        ("const", 5, 7), ("const", 5, 9),       # x constant → var 0
        ("ok", 1, 2), ("ok", 2, 4), ("ok", 3, 6),
    ]
    df = spark.createDataFrame(rows, "g string, x int, y int")
    got = {r["g"]: r for r in grouped_corr_exact(df, "g", "x", "y").collect()}
    assert got["single"]["cov_samp"] is None
    assert got["single"]["corr"] is None
    assert got["const"]["corr"] is None          # no abort, NULL
    assert got["ok"]["corr"] == pytest.approx(1.0)
    assert got["ok"]["cov_samp"] == pytest.approx(2.0)


def test_gini_exact_survives_documented_envelope(spark):
    from det_module_spark.operators.profile import gini_exact

    # 10 rows of ~1e12-unit values: inside the documented n²·max(x)
    # int64 envelope for the SUMS, but the old long ×1e6 rescale
    # overflowed (~1e19 > 2^63) and ANSI aborted the job
    vals = [(i % 2, 10**12 + i) for i in range(10)]
    df = spark.createDataFrame(vals, "grp int, x long")
    got = {r["grp"]: r for r in gini_exact(df, "grp", "x").collect()}
    for g, r in got.items():
        xs = sorted(x for gg, x in vals if gg == g)
        n, sx = len(xs), sum(xs)
        six = sum((i + 1) * x for i, x in enumerate(xs))
        expect = (10**6 * (2 * six - (n + 1) * sx)) // (n * sx)
        assert r["gini_ppm"] == expect
        assert r["n"] == n and r["total"] == sx


def test_skyline_exact_above_2_53(spark):
    from det_module_spark.operators.skyline import skyline

    base = 1 << 60
    # ascending x; y = base at x=1, base+1 at x=2 (frontier: both),
    # then base+1 again at x=3 (dominated: same y, higher x)
    rows = [(1, base), (2, base + 1), (3, base + 1), (4, base - 5)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = sorted((r["x"], r["y"]) for r in skyline(df, "x", "y").collect())
    # float64 rounding would merge base and base+1 and drop x=2
    assert got == [(1, base), (2, base + 1)]


def test_profile_diff_added_column_flags_change(spark):
    from det_module_spark.operators.profile import profile_diff

    before = spark.createDataFrame([(1, "a")], "id int, old_col string")
    after = spark.createDataFrame([(1, "a")], "id int, new_col string")
    got = {r["column"]: r for r in profile_diff(before, after).collect()}
    # a column present on one side only is the loudest drift signal —
    # it must flag TRUE, not NULL
    assert got["old_col"]["min_changed"] is True
    assert got["new_col"]["max_changed"] is True
    assert got["id"]["min_changed"] is False


def test_pack_sequences_ungrouped_is_distributed_and_exact(spark, partitions):
    from det_module_spark.operators.chunking import pack_sequences

    rows = [(i, " ".join(["w"] * (3 + i % 5))) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with partitions(7):
        got = {
            r["doc_id"]: r
            for r in pack_sequences(df, budget=8, part_col=None).collect()
        }
    # reference single-stream packing in plain python
    cum = 0
    for i in range(1, 41):
        n = 3 + i % 5
        r = got[i]
        assert r["n_tokens"] == n
        assert r["cum_before"] == cum
        assert r["bin_start"] == cum // 8
        assert r["bin_end"] == (cum + n - 1) // 8
        assert r["bin_offset"] == cum % 8
        cum += n
    # and no empty-partition-spec window in the plan: its one window is
    # global_cumsum's, partitioned by the pinned range partition id
    with partitions(7):
        plan = (
            pack_sequences(df, budget=8, part_col=None)
            ._jdf.queryExecution().executedPlan().toString()
        )
    assert "SinglePartition" not in plan
    assert plan.count("Window [") == plan.count("windowspecdefinition(__pid") == 1


def test_dsir_weights_zero_token_docs_keep_a_row(spark):
    from det_module_spark.operators.importance import (
        dsir_select,
        dsir_weights,
    )

    target = spark.createDataFrame(
        [(1, "alpha beta beta")], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(10, "alpha beta"), (11, ""), (12, "   "), (13, "gamma")],
        "doc_id long, text string",
    )
    w = dsir_weights(target, raw)
    got = {r["doc_id"]: r for r in w.collect()}
    assert sorted(got) == [10, 11, 12, 13]   # nothing vanishes
    assert got[11]["n_toks"] == 0 and got[11]["weightq"] == 0
    assert got[12]["n_toks"] == 0 and got[12]["weightq"] == 0
    sel = {r["doc_id"]: r["selected"] for r in dsir_select(w, k=1).collect()}
    assert sorted(sel) == [10, 11, 12, 13]
    assert sel[10] and not sel[13]           # target-like doc wins


def test_kmv_set_estimates_empty_inputs_answer_zero(spark):
    from det_module_spark.operators.sketch import kmv_set_estimates

    empty = spark.createDataFrame([], "v string")
    r = kmv_set_estimates(empty, empty, F.col("v"), F.col("v")).collect()[0]
    assert r["n_seen"] == 0 and r["n_both"] == 0
    assert r["est_union"] == 0
    assert r["est_intersection"] == 0        # exact, not NULL

    # exhaustive (< k) case still exact after the div rewrite
    a = spark.createDataFrame([("x",), ("y",)], "v string")
    b = spark.createDataFrame([("y",), ("z",)], "v string")
    r2 = kmv_set_estimates(a, b, F.col("v"), F.col("v")).collect()[0]
    assert r2["est_union"] == 3 and r2["est_intersection"] == 1


def test_transition_variants_share_pair_semantics(spark):
    from det_module_spark.operators.sequence import (
        event_transitions,
        transition_matrix_ppm,
    )

    rows = [
        (1, "a", 1, 100), (1, "b", 2, 101), (1, "a", 3, 102),
        (2, "a", 1, 200), (2, "a", 2, 201),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long"
    )
    et = {(r["from_state"], r["to_state"]): r["n"]
          for r in event_transitions(df).collect()}
    pp = {(r["from_state"], r["to_state"]): r["p_ppm"]
          for r in transition_matrix_ppm(df).collect()}
    assert et == {("a", "b"): 1, ("b", "a"): 1, ("a", "a"): 1}
    assert sorted(pp) == sorted(et)          # same pair extraction
    assert pp[("a", "b")] == 500000 and pp[("a", "a")] == 500000
