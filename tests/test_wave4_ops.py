"""Units for the round-5 wave-4 operators: SSSP, HITS, incremental
LSH dedup (index + probe), exact ACF, chi-square independence, and
touch attribution. Each test pins the semantics against a small
hand-checkable fixture or an independent pure-Python reference; the
driver's DuckDB oracles cover the same operators at table scale."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# ---------------------------------------------------------------- sssp


def test_sssp_matches_dijkstra(spark):
    from det_module_spark.operators.graph import sssp

    edges = [
        ("a", "b", 4),
        ("a", "c", 1),
        ("c", "b", 2),
        ("b", "d", 5),
        ("c", "d", 8),
        ("d", "e", 1),
        ("x", "y", 3),  # disconnected from the source
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    s = spark.createDataFrame([("a",)], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in sssp(e, s, rounds=6).collect()
    }
    # hand-checked: a=0, c=1, b=3 (a->c->b), d=8 (a->c->b->d), e=9
    assert got == {"a": 0, "c": 1, "b": 3, "d": 8, "e": 9}


def test_sssp_round_cap_limits_path_length(spark):
    from det_module_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)], ["src", "dst", "w"]
    )
    s = spark.createDataFrame([("a",)], ["node"])
    got = {r["node"]: r["dist"] for r in sssp(e, s, rounds=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # d needs 3 hops


def test_sssp_fixpoint_test_sees_null_distance_filled(spark):
    from det_module_spark.operators.graph import sssp

    # round 1 reaches n through a NULL weight (dist NULL); round 2
    # fills n with 2 while c falls 4 -> 2, so the node count and the
    # distance sum both hold. Only the non-NULL count shows the change,
    # and round 3 still lowers d to 3 through n.
    e = spark.createDataFrame(
        [
            ("a", "n", None),
            ("a", "b", 1),
            ("a", "c", 4),
            ("a", "d", 100),
            ("b", "n", 1),
            ("b", "c", 1),
            ("n", "d", 1),
        ],
        "src string, dst string, w long",
    )
    s = spark.createDataFrame([("a",)], ["node"])
    got = {r["node"]: r["dist"] for r in sssp(e, s, rounds=6).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "n": 2, "d": 3}


def test_sssp_rejects_negative_weights(spark):
    from det_module_spark.operators.graph import sssp

    e = spark.createDataFrame([("a", "b", -1)], ["src", "dst", "w"])
    s = spark.createDataFrame([("a",)], ["node"])
    with pytest.raises(ValueError, match="non-negative"):
        sssp(e, s)


# ---------------------------------------------------------------- hits


def test_hits_matches_reference_iteration(spark):
    from det_module_spark.operators.graph import hits

    edges = [("u1", "v1"), ("u1", "v2"), ("u2", "v2"), ("v1", "u2")]
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(e, rounds=2).collect()}

    # independent pure-Python reference of the same unnormalized
    # mutual-reinforcement recurrence
    nodes = {n for ed in edges for n in ed}
    hub = {n: 1 for n in nodes}
    auth = {}
    for _ in range(2):
        auth = {n: 0 for n in nodes}
        for s_, d_ in edges:
            auth[d_] += hub[s_]
        hub = {n: 0 for n in nodes}
        for s_, d_ in edges:
            hub[s_] += auth[d_]
    assert got == {n: (hub[n], auth[n]) for n in nodes}


# --------------------------------------------- incremental LSH dedup


def _sigs(spark, rows):
    from det_module_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return minhash_signatures(df, num_hashes=16)


def test_lsh_probe_finds_cross_side_pairs_only(spark):
    from det_module_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_probe,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = [(1, base), (2, base + " tail"), (3, "entirely different words here")]
    delta = [(10, base), (11, "nothing shared with anyone at all")]
    index = minhash_lsh_index(_sigs(spark, corpus), bands=8, rows=2)
    pairs = {
        (r["probe_id"], r["index_id"])
        for r in minhash_lsh_probe(
            index, _sigs(spark, delta), bands=8, rows=2
        ).collect()
    }
    # the duplicated text must match its corpus twins; the unique delta
    # doc matches nothing; no corpus-corpus or delta-delta pairs appear
    assert (10, 1) in pairs
    assert all(p in (10, 11) for p, _ in pairs)
    assert all(i in (1, 2, 3) for _, i in pairs)
    assert not any(p == 11 for p, _ in pairs)


def test_lsh_probe_consistent_with_self_join_path(spark):
    """Splitting a corpus and probing one half against the other must
    recover exactly the cross-side subset of the self-join pairs."""
    from det_module_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_pairs,
        minhash_lsh_probe,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8)))
        for i in range(12)
    ]
    sigs = _sigs(spark, rows)
    all_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(sigs, bands=8, rows=2).collect()
    }
    cross_expected = {
        tuple(sorted(p)) for p in all_pairs if (p[0] % 2) != (p[1] % 2)
    }
    even = sigs.filter(F.col("doc_id") % 2 == 0)
    odd = sigs.filter(F.col("doc_id") % 2 == 1)
    index = minhash_lsh_index(even, bands=8, rows=2)
    probed = {
        tuple(sorted((r["probe_id"], r["index_id"])))
        for r in minhash_lsh_probe(index, odd, bands=8, rows=2).collect()
    }
    assert probed == cross_expected


# ----------------------------------------------------------------- acf


def test_acf_exact_matches_numpy_like_reference(spark):
    from det_module_spark.operators.profile import acf_exact

    series = [5, 7, 4, 8, 6, 9, 3, 10, 2, 11]
    rows = [Row(g="a", i=i, v=v) for i, v in enumerate(series)]
    out = acf_exact(
        spark.createDataFrame(rows), "g", ["i"], "v", max_lag=2
    ).collect()
    got = {r["lag"]: (r["n"], r["corrq"]) for r in out}

    def ref(lag):
        xs = series[lag:]
        ys = series[:-lag]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        num = n * sxy - sx * sy
        den = math.sqrt(float(n * sxx - sx * sx) * float(n * syy - sy * sy))
        return n, math.floor(num / den * 1e6 + 0.5)

    assert got == {1: ref(1), 2: ref(2)}


def test_acf_zero_variance_yields_null(spark):
    from det_module_spark.operators.profile import acf_exact

    rows = [Row(g="c", i=i, v=5) for i in range(6)]
    out = acf_exact(
        spark.createDataFrame(rows), "g", ["i"], "v", max_lag=1
    ).collect()
    assert len(out) == 1 and out[0]["corrq"] is None


# ---------------------------------------------------------- chi-square


def test_chi_square_matches_textbook_formula(spark):
    from det_module_spark.operators.quality import chi_square_independence

    # 2x2 with known chi2: [[10, 20], [30, 40]]
    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20 + [("y", "p")] * 30 + [("y", "q")] * 40
    )
    out = chi_square_independence(
        spark.createDataFrame(rows, ["a", "b"]), "a", "b"
    ).collect()
    total = [r for r in out if r["a"] is None][0]
    cells = [r for r in out if r["a"] is not None]
    assert len(cells) == 4 and total["dof"] == 1
    # independent reference
    n = len(rows)
    obs = {("x", "p"): 10, ("x", "q"): 20, ("y", "p"): 30, ("y", "q"): 40}
    r_tot = {"x": 30, "y": 70}
    c_tot = {"p": 40, "q": 60}
    chi2 = sum(
        (o - r_tot[a] * c_tot[b] / n) ** 2 / (r_tot[a] * c_tot[b] / n)
        for (a, b), o in obs.items()
    )
    assert abs(total["contrib_q"] / 1e6 - chi2) < 4e-6  # 4 cells' rounding
    for r in cells:
        exp = r_tot[r["a"]] * c_tot[r["b"]] / n
        assert abs(r["expected_q"] / 1e6 - exp) < 1e-6


# --------------------------------------------------------- attribution


def test_attribution_first_last_touch(spark):
    from det_module_spark.operators.attribution import (
        attribution_report,
        touch_attribution,
    )

    rows = [
        # user 1: view -> click -> PURCHASE(100) -> signup -> PURCHASE(50)
        Row(u=1, t=1, ch="view"),
        Row(u=1, t=2, ch="click"),
        Row(u=1, t=3, ch="purchase"),
        Row(u=1, t=4, ch="signup"),
        Row(u=1, t=5, ch="purchase"),
        # user 2: PURCHASE with no prior touch
        Row(u=2, t=1, ch="purchase"),
    ]
    ev = spark.createDataFrame(rows)
    conv = touch_attribution(
        ev,
        "u",
        ["t"],
        channel=F.col("ch"),
        is_touch=F.col("ch").isin("view", "click", "signup"),
        is_conv=F.col("ch") == "purchase",
        value=F.when(F.col("t") == 3, 100).when(F.col("t") == 5, 50).otherwise(10),
    )
    got = {
        (r["user"], r["value_c"]): (r["first_touch"], r["last_touch"])
        for r in conv.collect()
    }
    assert got == {
        (1, 100): ("view", "click"),
        (1, 50): ("view", "signup"),
        (2, 10): ("(none)", "(none)"),
    }
    rep = {
        (r["model"], r["channel"]): (r["n_conv"], r["value_c"])
        for r in attribution_report(conv).collect()
    }
    assert rep[("first_touch", "view")] == (2, 150)
    assert rep[("last_touch", "click")] == (1, 100)
    assert rep[("last_touch", "signup")] == (1, 50)
    assert rep[("first_touch", "(none)")] == (1, 10)
