"""Round-7 regression tests: the three ADVICE r06 items plus the
round's plan changes (dense_ids jvm default, ahash multiprobe scheme
+ bounded top-k deliverable).

ADVICE items covered (the third, protorecords' staged overwrite,
went with the module):
1. chunking.pack_sequences NULL text — the ungrouped branch crashed
   the whole stage (NaN -> to_numpy('int64') ValueError) while the
   grouped branch emitted NULL bins; both now apply the same
   contract: a NULL doc contributes 0 tokens and is still emitted.
2. vector.read_geojson_boundaries per-file id offsets — the chained
   WHEN built an O(#files)-deep expression tree; now a flat
   create_map lookup (constant depth).
"""

import json

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------
# 1. pack_sequences NULL-text contract (both branches)
# ---------------------------------------------------------------

def test_pack_sequences_null_text_grouped(spark):
    from det_module_spark.operators.chunking import pack_sequences

    df = spark.createDataFrame(
        [
            ("en", 1, "a b c"),
            ("en", 2, None),
            ("en", 3, "d e"),
        ],
        "lang string, doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in pack_sequences(df, budget=4, part_col="lang").collect()
    }
    # the NULL doc is emitted with zero tokens and does not shift the
    # stream: doc 3 starts right where doc 1 ended
    assert rows[2]["n_tokens"] == 0
    assert rows[2]["cum_before"] == 3
    assert rows[3]["cum_before"] == 3
    assert rows[3]["bin_start"] == 0
    assert rows[1]["n_tokens"] == 3


def test_pack_sequences_null_text_ungrouped_no_crash(spark, partitions):
    from det_module_spark.operators.chunking import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e"), (4, None), (5, "f")],
        "doc_id long, text string",
    )
    with partitions(3):
        rows = {
            r["doc_id"]: r
            for r in pack_sequences(df, budget=4, part_col=None).collect()
        }
    assert rows[2]["n_tokens"] == 0 and rows[4]["n_tokens"] == 0
    # stream positions identical to the branch with the nulls dropped
    # to zero-width entries: 3 + 0 + 2 + 0 + 1
    assert [rows[i]["cum_before"] for i in (1, 2, 3, 4, 5)] == [
        0, 3, 3, 5, 5,
    ]


def test_pack_sequences_branches_agree_with_nulls(spark, partitions):
    """The docstring's 'identical output' claim between the grouped
    and ungrouped branches, on null-bearing input (the ADVICE
    counterexample)."""
    from det_module_spark.operators.chunking import pack_sequences

    data = [(i, None if i % 3 == 0 else "w " * (i % 7 + 1)) for i in
            range(1, 40)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    grouped = {
        r["doc_id"]: (r["n_tokens"], r["cum_before"], r["bin_start"])
        for r in pack_sequences(
            df.withColumn("g", F.lit("x")), budget=8, part_col="g"
        ).collect()
    }
    with partitions(5):
        ungrouped = {
            r["doc_id"]: (r["n_tokens"], r["cum_before"], r["bin_start"])
            for r in pack_sequences(df, budget=8, part_col=None).collect()
        }
    assert grouped == ungrouped


# ---------------------------------------------------------------
# 2. vector per-file offsets: flat lookup, constant depth
# ---------------------------------------------------------------

def test_geojson_many_files_offsets_flat(spark, tmp_path):
    from det_module_spark.sources.vector import read_geojson_boundaries

    n_files = 60
    for f in range(n_files):
        features = [
            {
                "type": "Feature",
                "properties": {"NAME_1": f"f{f}_{i}"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[f, i], [f + 1, i], [f + 1, i + 1], [f, i]]
                    ],
                },
            }
            for i in range(2)
        ]
        (tmp_path / f"b{f:03d}.geojson").write_text(
            json.dumps({"type": "FeatureCollection", "features": features})
        )
    df = read_geojson_boundaries(spark, str(tmp_path))
    ids = [r["asdf_id"] for r in df.select("asdf_id").collect()]
    assert sorted(ids) == list(range(2 * n_files))
    # constant expression depth: the analyzed plan must not nest one
    # CASE WHEN per file (the old chain put 'CASE WHEN' ~n_files
    # times INSIDE each other; a flat map lookup mentions map_keys /
    # create_map once)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.count("CASE WHEN") < n_files


# ---------------------------------------------------------------
# ahash: multiprobe16 scheme equivalence + bounded top-k contract
# ---------------------------------------------------------------

def _hashes(spark, rows):
    return spark.createDataFrame(rows, "media_id long, hi long, lo long")


def _brute_pairs(rows, r):
    out = []
    for i, (ida, hia, loa) in enumerate(rows):
        for idb, hib, lob in rows[i + 1:]:
            d = bin((hia ^ hib) | ((loa ^ lob) << 64)).count("1")
            if d <= r:
                a, b = sorted((ida, idb))
                out.append((a, b, d))
    return sorted(out)


def test_multiprobe16_equals_band8_and_brute_force(spark):
    import random

    from det_module_spark.operators.multimodal import (
        ahash_near_dup_pairs,
    )

    rng = random.Random(7)
    rows = []
    base = rng.getrandbits(64)
    for i in range(40):
        if i % 3 == 0:
            v = base
            # flip 0..7 random bits off the shared base
            for _ in range(rng.randrange(8)):
                v ^= 1 << rng.randrange(64)
        else:
            v = rng.getrandbits(64)
        rows.append((i, (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF))
    want = _brute_pairs(rows, 7)
    df = _hashes(spark, rows)
    for scheme in ("band8", "multiprobe16"):
        got = sorted(
            (r["media_a"], r["media_b"], r["hamming"])
            for r in ahash_near_dup_pairs(
                df, max_hamming=7, scheme=scheme
            ).collect()
        )
        assert got == want, scheme
    with pytest.raises(ValueError, match="scheme"):
        ahash_near_dup_pairs(df, scheme="nope")


def test_ahash_topk_bounded_output_and_overflow_counts(spark):
    from det_module_spark.operators.multimodal import (
        ahash_near_dup_topk,
    )

    # one dense cluster of 6 identical hashes + 2 isolated items:
    # every cluster member has 5 neighbors, top-3 kept, overflow 2
    # hamming((7,7), (0xAAAAAAAA, 0x55555555)) and every other cross
    # distance is far above 7; (2^31, 2^31) sits at exactly 8 from
    # the cluster — just outside the radius
    rows = [(i, 7, 7) for i in range(6)] + [
        (10, 0xAAAAAAAA, 0x55555555),
        (11, 2**31, 2**31),
    ]
    out = ahash_near_dup_topk(
        _hashes(spark, rows), max_hamming=7, k=3
    ).collect()
    by_item = {}
    for r in out:
        by_item.setdefault(r["media_id"], []).append(r)
    assert set(by_item) == set(range(6))  # isolated items: no rows
    for mid, rs in by_item.items():
        assert len(rs) == 3  # bounded at k
        assert all(r["n_neighbors"] == 5 for r in rs)
        assert [r["rnk"] for r in sorted(rs, key=lambda r: r["rnk"])] == [
            1, 2, 3,
        ]
        # deterministic neighbor order: hamming asc then id asc
        nbrs = [
            r["neighbor"] for r in sorted(rs, key=lambda r: r["rnk"])
        ]
        assert nbrs == sorted(x for x in range(6) if x != mid)[:3]
    with pytest.raises(ValueError, match="k must be"):
        ahash_near_dup_topk(_hashes(spark, rows), k=0)


# ---------------------------------------------------------------
# review pass: incremental state merges must combine NULL-key groups
# ---------------------------------------------------------------

def test_merge_agg_state_null_group_key(spark):
    from det_module_spark.operators.incremental import (
        merge_agg_state,
        partial_agg,
    )

    a = spark.createDataFrame(
        [(None, 10), ("x", 1)], "k string, v long"
    )
    b = spark.createDataFrame(
        [(None, 5), ("y", 2)], "k string, v long"
    )
    s = partial_agg(a, ["k"], sum_cols={"s_v": "v"},
                    min_cols={"m_v": "v"})
    d = partial_agg(b, ["k"], sum_cols={"s_v": "v"},
                    min_cols={"m_v": "v"})
    out = {
        r["k"]: (r["n_rows"], r["s_v"], r["m_v"])
        for r in merge_agg_state(
            s, d, ["k"], ["s_v"], min_cols=["m_v"]
        ).collect()
    }
    # the NULL group merges into ONE row (a plain equi-join emitted it
    # twice); one-sided groups pass through
    assert out[None] == (2, 15, 5)
    assert out["x"] == (1, 1, 1) and out["y"] == (1, 2, 2)
    assert len(out) == 3


def test_agg_delta_retract_null_group_key(spark):
    from det_module_spark.operators.incremental import agg_delta_retract

    state = spark.createDataFrame(
        [(None, 2, 30), ("x", 1, 7)],
        "k string, n_rows long, sum_value long",
    )
    delta = spark.createDataFrame(
        [(None, 10, 1), (None, 20, -1), ("x", 5, 1)],
        "k string, v long, _w long",
    )
    out = {
        r["k"]: (r["n_rows"], r["sum_value"])
        for r in agg_delta_retract(
            state, delta, ["k"], "v"
        ).collect()
    }
    assert out[None] == (2, 20)  # one merged row, not two
    assert out["x"] == (2, 12)
    assert len(out) == 2


def test_salted_join_rejects_dim_preserving_types(spark):
    from det_module_spark.operators.skew import salted_join

    f = spark.createDataFrame([(1, "a")], "k long, fv string")
    d = spark.createDataFrame([(1, "d")], "k long, dv string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="fact-preserving"):
            salted_join(f, d, "k", n_salts=4, how=how)
    # fact-preserving types still work and never duplicate
    got = salted_join(f, d, "k", n_salts=4, how="left").collect()
    assert len(got) == 1


# ---------------------------------------------------------------
# streaming intake: timeout eviction + NULL expected_items guard
# ---------------------------------------------------------------

class _FakeState:
    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timer_set = False

    @property
    def exists(self):
        return self._v is not None and not self.removed

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timer_set = True


def test_intake_timeout_evicts_state():
    import pandas as pd

    from det_module_spark.streaming.intake import _completion_update

    update = _completion_update(idle_timeout_ms=1000)
    st = _FakeState(value=(5, 2), timed_out=True)
    out = list(update(("r1",), iter([]), st))
    assert st.removed and not st.timer_set  # evicted, NOT re-armed
    assert len(out) == 1
    assert out[0]["status"].iloc[0] == "timeout"
    assert out[0]["n_items"].iloc[0] == 2


def test_intake_null_expected_items_does_not_crash():
    import pandas as pd

    from det_module_spark.streaming.intake import _completion_update

    update = _completion_update(idle_timeout_ms=0)
    st = _FakeState()
    batch = pd.DataFrame(
        {
            "expected_items": [None, None],
            "item_done": [1, 1],
        }
    )
    out = list(update(("r2",), iter([batch]), st))
    assert out[0]["status"].iloc[0] == "pending"
    assert out[0]["n_items"].iloc[0] == 2
    assert st._v == (0, 2)  # progress kept, expected unknown
