"""Units for the round-5 wave-17 operators: Hilbert layout key,
Kaplan-Meier survival, item-item collaborative filtering."""

import math

from pyspark.sql import functions as F


def hilbert_xy2d(bits: int, x: int, y: int) -> int:
    """Pure-Python reference for ``layout.hilbert_by``: identical
    recurrence."""
    d = 0
    s = 1 << (bits - 1)
    x, y = x % (1 << bits), y % (1 << bits)
    while s > 0:
        rx, ry = x // s, y // s
        x, y = x % s, y % s
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_reference_is_a_space_filling_curve():
    for bits in (3, 4):
        n = 1 << bits
        pos = {}
        for x in range(n):
            for y in range(n):
                d = hilbert_xy2d(bits, x, y)
                assert 0 <= d < n * n
                assert d not in pos, "bijection broken"
                pos[d] = (x, y)
        # THE Hilbert property: consecutive keys are adjacent cells
        for d in range(n * n - 1):
            (x1, y1), (x2, y2) = pos[d], pos[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1, d


def test_hilbert_column_matches_reference(spark):
    from det_module_spark.operators.layout import hilbert_by

    rows = [(i, (i * 37) % 256, (i * 91) % 256) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    got = {
        r["id"]: r["hkey"]
        for r in hilbert_by(df, "x", "y", bits=8).collect()
    }
    for i, x, y in rows:
        assert got[i] == hilbert_xy2d(8, x, y), (i, x, y)


def test_hilbert_locality_beats_zorder_on_range_boxes(spark):
    """Mean Manhattan step along the curve: Hilbert is exactly 1,
    Morton jumps. (Locality rationale for offering both.)"""
    n = 16
    pos = {}
    for x in range(n):
        for y in range(n):
            pos[hilbert_xy2d(4, x, y)] = (x, y)
    steps = [
        abs(pos[d][0] - pos[d + 1][0]) + abs(pos[d][1] - pos[d + 1][1])
        for d in range(n * n - 1)
    ]
    assert max(steps) == 1


def _km_reference(units, horizon=3):
    """Pure-python KM: units = [(cohort, first, last)]."""
    mx = max(last for _, _, last in units)
    out = {}
    by_cohort = {}
    for c, f, last in units:
        by_cohort.setdefault(c, []).append((last - f, last + horizon <= mx))
    for c, lst in by_cohort.items():
        times = sorted({t for t, dead in lst if dead})
        rows = []
        ln_s = 0
        for t in times:
            n_risk = sum(1 for u, _ in lst if u >= t)
            d = sum(1 for u, dead in lst if u == t and dead)
            if d == 0 or d == n_risk:
                continue
            term = math.floor(1e6 * math.log((n_risk - d) / n_risk) + 0.5)
            ln_s += term
            rows.append((t, n_risk, d, ln_s))
        out[c] = rows
    return out


def test_kaplan_meier_matches_reference(spark):
    from det_module_spark.operators.survival import kaplan_meier

    # cohort a: staggered churn; cohort b: everyone censored
    units = [
        ("a", 0, 2), ("a", 0, 4), ("a", 1, 5), ("a", 0, 8),
        ("a", 2, 12), ("a", 0, 12),
        ("b", 0, 11), ("b", 1, 12), ("b", 0, 12),
    ]
    rows = []
    for i, (c, f, last) in enumerate(units):
        rows += [(c, i, f), (c, i, last)]
    df = spark.createDataFrame(rows, ["c", "u", "d"])
    got = {}
    for r in kaplan_meier(
        df, F.col("c"), "u", F.col("d"), horizon_days=3
    ).collect():
        got.setdefault(r["cohort"], []).append(
            (r["t"], r["n_risk"], r["n_events"], r["ln_s_micro"])
        )
    ref = _km_reference(units)
    assert sorted(got.get("a", [])) == sorted(ref["a"])
    assert got.get("b", []) == ref.get("b", [])
    # survival is monotone non-increasing along t
    for rows_ in got.values():
        lns = [r[3] for r in sorted(rows_)]
        assert lns == sorted(lns, reverse=True)


def test_item_cf_matches_brute_force(spark):
    from det_module_spark.operators.cf import item_item_cf

    inter = [
        (u, it)
        for u in range(12)
        for it in ["a", "b", "c", "d"]
        if (u * 7 + ord(it)) % 3 != 0
    ]
    df = spark.createDataFrame(inter, ["u", "i"])
    got = {
        (r["item_a"], r["item_b"]): (
            r["n_both"], r["n_a"], r["n_b"], r["cos_ppm"], r["rk"]
        )
        for r in item_item_cf(df, "u", "i", k=3, max_items_per_user=10)
        .collect()
    }
    sets = {}
    for u, it in inter:
        sets.setdefault(it, set()).add(u)
    for (a, b), (n_both, n_a, n_b, cos_ppm, _rk) in got.items():
        assert n_both == len(sets[a] & sets[b])
        assert (n_a, n_b) == (len(sets[a]), len(sets[b]))
        expect = math.floor(
            1e6 * n_both / math.sqrt(n_a * n_b) + 0.5
        )
        assert cos_ppm == expect
    # per-item neighbor lists are ranked dense from 1
    for a in sets:
        rks = sorted(rk for (x, _), (*_, rk) in got.items() if x == a)
        assert rks == list(range(1, len(rks) + 1))


def test_item_cf_fanout_cap_bounds_pairs(spark):
    from det_module_spark.operators.cf import item_item_cf

    # one power user touching 30 items, cap at 5 -> every pair count
    # comes from the capped incidence (<= C(5,2) pairs exist at all)
    inter = [(1, "i%02d" % k) for k in range(30)]
    df = spark.createDataFrame(inter, ["u", "i"])
    out = item_item_cf(df, "u", "i", k=100, max_items_per_user=5)
    rows = out.collect()
    assert len(rows) == 5 * 4  # both orientations of C(5,2)
    assert all(r["n_a"] == 1 and r["n_b"] == 1 for r in rows)
