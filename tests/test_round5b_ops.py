"""Round-5 second-wave operator units: skyline (Pareto frontier),
multi-source BFS, transitive closure / BOM explosion, snapshot diff
(CDC generation), l-diversity, DP-style noisy counts."""

import pytest
from pyspark.sql import functions as F

from det_module_spark.operators.graph import bfs_hops, k_core
from det_module_spark.operators.hierarchy import transitive_closure
from det_module_spark.operators.privacy import (
    dp_noisy_counts,
    l_diversity_report,
)
from det_module_spark.operators.scd import cdc_apply, snapshot_diff
from det_module_spark.operators.skyline import skyline
from det_module_spark.operators.text import phrase_search


# ---------------------------------------------------------------------------
# skyline
# ---------------------------------------------------------------------------


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, x double, y long")


def _brute_skyline(rows):
    out = []
    for r in rows:
        if r[1] is None or r[2] is None:
            continue
        dominated = any(
            q[1] is not None
            and q[2] is not None
            and q[1] <= r[1]
            and q[2] >= r[2]
            and (q[1] < r[1] or q[2] > r[2])
            for q in rows
        )
        if not dominated:
            out.append(r[0])
    return sorted(out)


def test_skyline_basic_frontier(spark):
    rows = [
        (1, 1.0, 10),  # frontier: cheapest
        (2, 2.0, 20),  # frontier
        (3, 3.0, 15),  # dominated by 2
        (4, 2.5, 20),  # dominated by 2 (same y, pricier)
        (5, 4.0, 25),  # frontier
    ]
    got = sorted(
        r.id for r in skyline(_pts(spark, rows), "x", "y").collect()
    )
    assert got == _brute_skyline(rows) == [1, 2, 5]


def test_skyline_ties_both_dims_all_survive(spark):
    rows = [(1, 1.0, 5), (2, 1.0, 5), (3, 1.0, 4), (4, 0.5, 1)]
    got = sorted(
        r.id for r in skyline(_pts(spark, rows), "x", "y").collect()
    )
    # (1.0, 5) duplicates both survive; 3 loses its x-group; 4 is the
    # cheapest so nothing with smaller x beats it
    assert got == _brute_skyline(rows) == [1, 2, 4]


def test_skyline_nulls_dropped(spark):
    rows = [(1, None, 9), (2, 1.0, None), (3, 2.0, 3)]
    got = [r.id for r in skyline(_pts(spark, rows), "x", "y").collect()]
    assert got == [3]


def test_skyline_matches_brute_force_across_partitions(spark, partitions):
    # enough rows that repartitionByRange(32) actually splits; values
    # chosen so the frontier crosses several partitions
    rows = [
        (i, float((i * 37) % 101), int((i * 53) % 89)) for i in range(400)
    ]
    with partitions(8):
        got = sorted(r.id for r in skyline(_pts(spark, rows), "x", "y").collect())
    assert got == _brute_skyline(rows)


def test_skyline_monotone_staircase_all_survive(spark, partitions):
    # y rises with x: pricier points are always bigger, so no point
    # dominates another and the whole staircase is the frontier
    rows = [(i, float(i), i) for i in range(50)]
    with partitions(4):
        got = sorted(r.id for r in skyline(_pts(spark, rows), "x", "y").collect())
    assert got == list(range(50))


# ---------------------------------------------------------------------------
# bfs_hops
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node string")


def test_bfs_min_hops_and_unreachable(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")],
    )
    got = {
        r.node: r.hops
        for r in bfs_hops(e, _nodes(spark, ["a"]), max_hops=3).collect()
    }
    # c via the shortcut a->c is 1 hop, not 2; x/y unreachable
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_multi_source_takes_minimum(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("s", "c")])
    got = {
        r.node: r.hops
        for r in bfs_hops(e, _nodes(spark, ["a", "s"]), max_hops=4).collect()
    }
    assert got == {"a": 0, "s": 0, "b": 1, "c": 1}


def test_bfs_cycle_terminates_and_respects_cap(spark):
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d")])
    got = {
        r.node: r.hops
        for r in bfs_hops(e, _nodes(spark, ["a"]), max_hops=2).collect()
    }
    # d is 3 hops away — beyond the cap
    assert got == {"a": 0, "b": 1, "c": 2}


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------


def test_k_core_peels_cascade(spark):
    # triangle a-b-c (2-core) + pendant chain c-d-e: d survives the
    # first peel (degree 2 via c and e) but falls once e is gone —
    # the cascade is what distinguishes k-core from a degree filter
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
    )
    got = {r.node: r.degree for r in k_core(e, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_k_core_empty_when_k_exceeds_graph(spark):
    e = _edges(spark, [("a", "b"), ("b", "c")])
    assert k_core(e, k=3).count() == 0


def test_k_core_dedups_and_symmetrizes(spark):
    # duplicate + reverse edges must not inflate degrees
    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("a", "c")],
    )
    got = {r.node: r.degree for r in k_core(e, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_k_core_respects_round_cap(spark):
    # chain 0-1-2-3-4-5: the 2-core is empty, but each peel removes
    # only the two endpoints. rounds=1 stops after one peel (0 and 5
    # gone); the final degree>=k output filter then hides the NEW
    # endpoints 1 and 4 (degree 1 in the remaining chain), exactly as
    # the oracle's HAVING does
    chain = [(str(i), str(i + 1)) for i in range(5)]
    after_one = {
        r.node for r in k_core(_edges(spark, chain), k=2, rounds=1).collect()
    }
    assert after_one == {"2", "3"}
    assert k_core(_edges(spark, chain), k=2, rounds=8).count() == 0


# ---------------------------------------------------------------------------
# transitive_closure
# ---------------------------------------------------------------------------


def _bom(spark, rows):
    return spark.createDataFrame(rows, "parent long, child long, qty long")


def test_closure_chain_multiplies_quantities(spark):
    # 1 -(2)-> 2 -(3)-> 3: the 1->3 path carries 2*3 = 6
    out = transitive_closure(
        _bom(spark, [(1, 2, 2), (2, 3, 3)]), qty="qty"
    ).collect()
    got = {(r.ancestor, r.descendant, r.depth): r.ext_qty for r in out}
    assert got == {(1, 2, 1): 2, (2, 3, 1): 3, (1, 3, 2): 6}


def test_closure_diamond_sums_over_paths(spark):
    # 1->2->4 (2*1=2) and 1->3->4 (3*2=6): ext_qty(1,4,depth2) = 8
    out = transitive_closure(
        _bom(spark, [(1, 2, 2), (1, 3, 3), (2, 4, 1), (3, 4, 2)]),
        qty="qty",
    ).collect()
    got = {(r.ancestor, r.descendant, r.depth): r.ext_qty for r in out}
    assert got[(1, 4, 2)] == 8


def test_closure_depth_cap_and_default_qty(spark):
    chain = [(i, i + 1, 1) for i in range(1, 6)]  # 1->2->...->6
    out = transitive_closure(
        _bom(spark, chain), qty=None, max_depth=3
    ).collect()
    depths = {(r.ancestor, r.descendant): r.depth for r in out}
    assert depths[(1, 4)] == 3
    assert (1, 5) not in depths  # depth 4 > cap
    assert all(r.ext_qty == 1 for r in out)


def test_closure_parallel_edges_sum_at_depth_one(spark):
    out = transitive_closure(
        _bom(spark, [(1, 2, 2), (1, 2, 5)]), qty="qty"
    ).collect()
    assert {(r.ancestor, r.descendant, r.depth, r.ext_qty) for r in out} == {
        (1, 2, 1, 7)
    }


# ---------------------------------------------------------------------------
# phrase_search
# ---------------------------------------------------------------------------


def _doc_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phrase_search_consecutive_only(spark):
    df = _doc_df(
        spark,
        [
            (1, "the quick brown fox"),
            (2, "quick the brown fox"),  # terms present, order wrong
            (3, "the quick red quick brown fox"),  # gap breaks it
        ],
    )
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_search(df, ["quick", "brown", "fox"]).collect()
    }
    assert got == {1: (1, 1), 3: (1, 3)}


def test_phrase_search_counts_multiple_occurrences(spark):
    df = _doc_df(spark, [(1, "a b a b a b"), (2, "b a")])
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_search(df, ["a", "b"]).collect()
    }
    # doc 2 is "b a" — reversed, no match
    assert got == {1: (3, 0)}


def test_phrase_search_single_term_and_repeated_term(spark):
    df = _doc_df(spark, [(1, "x x y"), (2, "y")])
    single = {
        r.doc_id: r.n_matches
        for r in phrase_search(df, ["x"]).collect()
    }
    assert single == {1: 2}
    repeated = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in phrase_search(df, ["x", "x"]).collect()
    }
    assert repeated == {1: (1, 0)}


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k long, v double, s string")


def test_snapshot_diff_classifies_and_drops_unchanged(spark):
    old = _snap(spark, [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")])
    new = _snap(spark, [(2, 2.0, "b"), (3, 9.0, "c"), (4, 4.0, "d")])
    got = {
        r.k: r.change_op
        for r in snapshot_diff(old, new, "k", ["v", "s"]).collect()
    }
    assert got == {1: "delete", 3: "update", 4: "insert"}


def test_snapshot_diff_null_transition_is_update(spark):
    old = _snap(spark, [(1, None, "a")])
    new = _snap(spark, [(1, 5.0, "a")])
    rows = snapshot_diff(old, new, "k", ["v", "s"]).collect()
    assert len(rows) == 1 and rows[0].change_op == "update"
    assert rows[0].old_v is None and rows[0].new_v == 5.0


def test_snapshot_diff_replays_through_cdc_apply(spark):
    old = _snap(spark, [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")])
    new = _snap(spark, [(2, 2.5, "b"), (3, 3.0, "c"), (4, 4.0, "d")])
    diff = snapshot_diff(old, new, "k", ["v", "s"])
    changes = diff.select(
        F.col("k"),
        F.when(F.col("change_op") == "delete", "D")
        .when(F.col("change_op") == "insert", "I")
        .otherwise("U")
        .alias("op"),
        F.col("new_v").alias("v"),
        F.col("new_s").alias("s"),
        F.lit(1).alias("seq"),
    )
    replayed = cdc_apply(old, changes, "k", ["v", "s"])
    assert sorted(
        (r.k, r.v, r.s) for r in replayed.collect()
    ) == sorted((r.k, r.v, r.s) for r in new.collect())


# ---------------------------------------------------------------------------
# MMR diversified selection
# ---------------------------------------------------------------------------


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_mmr_prefers_diverse_over_redundant(spark):
    from det_module_spark.operators.mmr import mmr_select

    # query along +x; candidates: 10 (strong +x), 11 (same direction,
    # slightly weaker — redundant), 12 (oblique — diverse). Plain
    # top-2 would pick 10 then 11; MMR must pick 10 then 12.
    q = _vecs(spark, [(0, [1.0, 0.0])])
    c = _vecs(
        spark,
        [
            (0, [1.0, 0.0]),
            (10, [2.0, 0.0]),
            (11, [1.9, 0.0]),
            (12, [1.0, 1.2]),
        ],
    )
    got = [
        (r.sel_rank, r.vec_id)
        for r in mmr_select(q, c, k=2, pool=3)
        .orderBy("sel_rank")
        .collect()
    ]
    assert got == [(1, 10), (2, 12)]


def test_mmr_first_pick_is_pure_relevance_with_id_tiebreak(spark):
    from det_module_spark.operators.mmr import mmr_select

    q = _vecs(spark, [(0, [1.0, 0.0])])
    c = _vecs(
        spark, [(0, [1.0, 0.0]), (5, [3.0, 0.0]), (4, [3.0, 0.0])]
    )
    got = [
        (r.sel_rank, r.vec_id)
        for r in mmr_select(q, c, k=1, pool=5).collect()
    ]
    assert got == [(1, 4)]  # equal relevance -> smaller id wins


def test_mmr_k_capped_by_pool(spark):
    from det_module_spark.operators.mmr import mmr_select

    q = _vecs(spark, [(0, [1.0, 0.0])])
    c = _vecs(spark, [(0, [1.0, 0.0]), (1, [1.0, 1.0]), (2, [0.5, 0.5])])
    rows = mmr_select(q, c, k=10, pool=12).collect()
    assert len(rows) == 2  # only two non-query candidates exist


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking
# ---------------------------------------------------------------------------


def test_snb_pairs_window_and_refine(spark):
    from det_module_spark.operators.fuzzyjoin import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha"),
            (2, "alphb"),  # lev 1 from alpha, adjacent in sort
            (3, "beta"),
            (4, "bexz"),  # lev 2 from beta -> refined out
            (5, "zzzzz"),
        ],
        "id long, name string",
    )
    got = {
        (r.id_a, r.id_b): (r.rank_gap, r.distance)
        for r in sorted_neighborhood_pairs(
            df, "id", "name", window=2, max_distance=1
        ).collect()
    }
    assert got == {(1, 2): (1, 1)}
    # without refine: every pair within 2 sort ranks survives
    raw = {
        (r.id_a, r.id_b): r.rank_gap
        for r in sorted_neighborhood_pairs(
            df, "id", "name", window=2
        ).collect()
    }
    assert raw == {
        (1, 2): 1, (1, 3): 2, (2, 3): 1, (2, 4): 2,
        (3, 4): 1, (3, 5): 2, (4, 5): 1,
    }


def test_snb_pairs_matches_each_pair_once_across_buckets(spark):
    # 40 identical-prefix keys force pairs that straddle rank-bucket
    # boundaries; every (i, i+gap<=w) pair must appear exactly once
    from det_module_spark.operators.fuzzyjoin import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"k{i:03d}") for i in range(40)], "id long, name string"
    )
    rows = sorted_neighborhood_pairs(df, "id", "name", window=3).collect()
    got = sorted((r.id_a, r.id_b) for r in rows)
    want = sorted(
        (i, j) for i in range(40) for j in range(i + 1, min(i + 4, 40))
    )
    assert got == want
    assert len(rows) == len(set(got))  # no duplicates


# ---------------------------------------------------------------------------
# log_as_of + quantile normalization
# ---------------------------------------------------------------------------


def test_log_as_of_cut_points(spark):
    from det_module_spark.operators.scd import log_as_of

    log = spark.createDataFrame(
        [
            (1, 10, "I", 100.0),
            (1, 20, "D", None),
            (1, 30, "U", 150.0),  # revival after delete
            (2, 10, "I", 200.0),
            (2, 25, "U", 250.0),
        ],
        "k long, seq long, op string, price double",
    )

    def state(as_of):
        return {
            r.k: r.price
            for r in log_as_of(log, "k", "seq", ["price"], as_of).collect()
        }

    assert state(15) == {1: 100.0, 2: 200.0}
    assert state(22) == {2: 200.0}  # key 1 deleted at 20
    assert state(35) == {1: 150.0, 2: 250.0}  # revived + updated


def test_quantile_normalize_map_shifted_groups(spark):
    from det_module_spark.operators.profile import quantile_normalize_map

    # group b is group a shifted by +100: per-bucket means differ by
    # 100 and the reference sits exactly between them
    rows = [("a", v, v) for v in range(10)] + [
        ("b", v + 100, v) for v in range(10)
    ]
    df = spark.createDataFrame(rows, "grp string, v long, tb long")
    out = quantile_normalize_map(df, "grp", "v", "tb", n_buckets=5)
    got = {
        (r.grp, r.bucket): (r.n, r.group_meanq, r.ref_meanq)
        for r in out.collect()
    }
    for b in range(1, 6):
        na, ma, ra = got[("a", b)]
        nb, mb, rb = got[("b", b)]
        assert na == nb == 2
        assert mb - ma == 100 * 1_000_000
        assert ra == rb == (ma + mb) // 2


# ---------------------------------------------------------------------------
# encoding: WOE binning + out-of-fold target encoding
# ---------------------------------------------------------------------------


def test_woe_binning_signs_and_iv(spark):
    import math

    from det_module_spark.operators.encoding import woe_binning

    # bin 1 (v in 0..9): all goods; bin 2 (v in 10..19): all bads
    rows = [(v, v, 1 if v < 10 else 0) for v in range(20)]
    df = spark.createDataFrame(rows, "v long, tb long, y int")
    out = {r.bucket: r for r in woe_binning(df, "v", "tb", "y", 2).collect()}
    assert out[1].goods == 10 and out[1].bads == 0
    assert out[2].goods == 0 and out[2].bads == 10
    # bin 1: g2=21, b2=1; totals gtot=22, btot=22
    # woeq = lnq(21*22) - lnq(1*22)
    assert out[1].woeq == math.floor(math.log(21 * 22) * 1e9 + 0.5) - \
        math.floor(math.log(22) * 1e9 + 0.5)
    assert out[1].woeq > 0 > out[2].woeq
    assert out[1].ivq > 0 and out[2].ivq > 0  # IV contributions positive


def test_target_encode_oof_excludes_own_fold(spark):
    from det_module_spark.operators.encoding import target_encode_oof

    # category 'a': fold 0 all label-1 (3 rows), fold 1 all label-0
    # (3 rows) -> fold 0's encoding sees only fold 1 (mean 0) and vice
    # versa (mean 1); fold 2 has no rows -> full-category mean 0.5
    rows = [("a", 1, 0)] * 3 + [("a", 0, 1)] * 3
    df = spark.createDataFrame(rows, "cat string, y int, f int")
    got = {
        (r.cat, r.fold): (r.n_oof, r.oof_meanq)
        for r in target_encode_oof(df, "cat", "y", "f", 3).collect()
    }
    assert got[("a", 0)] == (3, 0)
    assert got[("a", 1)] == (3, 1_000_000)
    assert got[("a", 2)] == (6, 500_000)


def test_target_encode_oof_null_when_category_is_single_fold(spark):
    from det_module_spark.operators.encoding import target_encode_oof

    df = spark.createDataFrame(
        [("solo", 1, 0), ("solo", 0, 0)], "cat string, y int, f int"
    )
    got = {
        r.fold: (r.n_oof, r.oof_meanq)
        for r in target_encode_oof(df, "cat", "y", "f", 2).collect()
    }
    assert got[0] == (0, None)  # nothing outside its only fold
    assert got[1] == (2, 500_000)


# ---------------------------------------------------------------------------
# privacy: l-diversity + dp noisy counts
# ---------------------------------------------------------------------------


def _people(spark, rows):
    return spark.createDataFrame(rows, "zip string, age long, disease string")


def test_l_diversity_flags_homogeneous_groups(spark):
    df = _people(
        spark,
        [
            ("94107", 1, "flu"),
            ("94107", 2, "flu"),
            ("94107", 3, "flu"),  # 3 rows, 1 sensitive value -> risky
            ("10001", 1, "flu"),
            ("10001", 2, "cold"),
            ("10001", 3, "covid"),  # 3 distinct -> safe at l=3
        ],
    )
    got = {
        r.zip: (r.n_rows, r.n_sensitive, r.is_risky)
        for r in l_diversity_report(df, ["zip"], "disease", l=3).collect()
    }
    assert got == {"94107": (3, 1, True), "10001": (3, 3, False)}


def test_dp_noisy_counts_suppression_bound_and_determinism(spark):
    rows = [(f"u{i}", "big") for i in range(50)] + [
        (f"u{i}", "small") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "user string, grp string")
    out1 = {
        r.grp: r.noisy_count
        for r in dp_noisy_counts(
            df, ["grp"], seed="s", noise_bound=8, min_count=10
        ).collect()
    }
    # small group suppressed; noise bounded by construction
    assert set(out1) == {"big"}
    assert abs(out1["big"] - 50) <= 8
    out2 = {
        r.grp: r.noisy_count
        for r in dp_noisy_counts(
            df, ["grp"], seed="s", noise_bound=8, min_count=10
        ).collect()
    }
    assert out1 == out2  # same seed -> identical release
    out3 = dp_noisy_counts(
        df, ["grp"], seed="other-seed", noise_bound=8, min_count=10
    ).collect()
    assert abs(out3[0].noisy_count - 50) <= 8


def test_dp_noisy_counts_true_count_never_released_below_min(spark):
    df = spark.createDataFrame(
        [(i, "g") for i in range(9)], "id long, grp string"
    )
    assert (
        dp_noisy_counts(df, ["grp"], seed="s", min_count=10).count() == 0
    )
