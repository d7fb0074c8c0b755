"""Property-based tests (SURVEY.md §5.2.5) with hypothesis.

Driver-side pure functions get real property coverage; Spark-backed
properties use a few deterministic cases (a hypothesis-driven Spark
job per example would be minutes per test).
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from det_module_spark.functions.hashing import canonical_json, spec_hash
from det_module_spark.plans.spec import normalize_filters

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(max_size=20),
)
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=8), children, max_size=4),
    ),
    max_leaves=10,
)


@given(st.dictionaries(st.text(max_size=8), json_values, max_size=6))
@settings(max_examples=200, deadline=None)
def test_spec_hash_key_order_invariant(d):
    shuffled = dict(reversed(list(d.items())))
    assert spec_hash(d) == spec_hash(shuffled)
    # canonicalization round-trips to an equal object
    assert json.loads(canonical_json(d)) == json.loads(json.dumps(d))


@given(st.dictionaries(st.text(max_size=8), json_values, max_size=6))
@settings(max_examples=100, deadline=None)
def test_spec_hash_injective_on_canonical_form(d):
    # same canonical string <=> same hash (sha1 collision aside)
    assert spec_hash(json.loads(canonical_json(d))) == spec_hash(d)


@given(
    st.dictionaries(
        st.sampled_from(["donors", "years", "sectors"]),
        st.lists(
            st.one_of(st.sampled_from(["All", "None", "x", "y"]), st.none()),
            max_size=4,
        ),
        max_size=3,
    )
)
@settings(max_examples=200, deadline=None)
def test_normalize_filters_idempotent_and_noop_free(filters):
    out = normalize_filters(filters)
    # idempotent
    assert normalize_filters(out) == out
    # no surviving entry contains a no-op marker
    for v in out.values():
        assert not any(x in ("All", "None", None) for x in v)
    # entries without markers survive untouched
    for k, v in filters.items():
        if v and not any(x in ("All", "None", None) for x in v):
            assert out[k] == v


def test_cdc_apply_is_idempotent(spark):
    """Applying the same change batch twice equals applying it once —
    the property that makes at-least-once delivery safe."""
    from det_module_spark.operators.scd import cdc_apply

    snap = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k long, v long"
    )
    changes = spark.createDataFrame(
        [(k, 100 + k, "U" if k % 3 else "D", k * 7) for k in range(0, 20, 2)],
        "k long, seq long, op string, v long",
    )
    once = cdc_apply(snap, changes, "k", ["v"])
    # deletes already applied in `once` target missing keys on replay;
    # replaying must not resurrect or change anything
    twice = cdc_apply(once, changes, "k", ["v"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_morton_preserves_quadrant_order(spark):
    """Z-order property: if both coordinates of p are <= those of q
    (dominance), then zkey(p) <= zkey(q)."""
    import random

    from pyspark.sql import functions as F

    from det_module_spark.operators.layout import morton_key

    rng = random.Random(7)
    pts = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(300)]
    rows = (
        spark.createDataFrame(pts, "x long, y long")
        .select("x", "y", morton_key(F.col("x"), F.col("y")).alias("z"))
        .collect()
    )
    for i in range(0, 300, 7):
        a = rows[i]
        for b in rows:
            if a.x <= b.x and a.y <= b.y:
                assert a.z <= b.z


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(1, 50)),
        min_size=1,
        max_size=60,
    ),
    st.integers(20, 200),
)
@settings(max_examples=12, deadline=None)
def test_shard_plan_conserves_and_bounds(spark, rows, target):
    """Property: shard planning conserves bytes, never overshoots a
    shard by more than one row, and keeps key ranges disjoint —
    for arbitrary group/size mixes and targets."""
    from det_module_spark.operators.layout import shard_plan

    data = [(f"g{g}", i, sz) for i, (g, sz) in enumerate(rows)]
    df = spark.createDataFrame(data, ["g", "k", "sz"])
    out = shard_plan(df, "sz", "k", target, by=["g"]).collect()
    assert sum(r["shard_bytes"] for r in out) == sum(sz for _, _, sz in data)
    max_row = max(sz for _, _, sz in data)
    groups = {}
    for r in out:
        groups.setdefault(r["g"], []).append(r)
        assert r["shard_bytes"] <= target + max_row
    for shards in groups.values():
        shards.sort(key=lambda r: r["shard"])
        for a, b in zip(shards, shards[1:]):
            assert a["last_key"] < b["first_key"]


@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=300))
@settings(max_examples=10, deadline=None)
def test_kmv_merge_property(spark, vals):
    """Property: bottom-k of any split of the data merges to the
    whole-data sketch (the map-side-combine correctness condition)."""
    from det_module_spark.operators.sketch import kmv_distinct
    from pyspark.sql import functions as F

    half = len(vals) // 2
    whole = spark.createDataFrame([(v,) for v in vals], "v int")
    parts = spark.createDataFrame(
        [(v,) for v in vals[:half]], "v int"
    ).unionAll(spark.createDataFrame([(v,) for v in vals[half:]], "v int"))
    k = 16
    a = kmv_distinct(whole, F.col("v"), k=k).collect()[0][0]
    b = kmv_distinct(parts, F.col("v"), k=k).collect()[0][0]
    assert a == b
