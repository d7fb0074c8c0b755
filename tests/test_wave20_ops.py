"""Units for the round-5 wave-20 operators: personalized PageRank and
time-respecting reachability."""


def _ppr_ref(edges, seeds, iterations, scale=10**12):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    seed_fp = {s: scale // len(seeds) for s in seeds}
    rank = {n: seed_fp.get(n, 0) for n in nodes}
    for _ in range(iterations):
        contrib = {}
        for u, v in edges:
            contrib[v] = contrib.get(v, 0) + rank[u] // outdeg[u]
        rank = {
            n: 15 * seed_fp.get(n, 0) // 100
            + 85 * contrib.get(n, 0) // 100
            for n in nodes
        }
    return rank


def test_personalized_pagerank_matches_reference(spark):
    from det_module_spark.operators.graph import personalized_pagerank

    edges = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
        ("c", "d"), ("d", "c"), ("d", "e"), ("e", "d"),
    ]
    seeds = ["a"]
    e = spark.createDataFrame(edges, ["src", "dst"])
    s = spark.createDataFrame([(x,) for x in seeds], ["node"])
    got = {
        r["node"]: r["rank_fp"]
        for r in personalized_pagerank(e, s, iterations=3).collect()
    }
    assert got == _ppr_ref(edges, seeds, 3)
    # mass concentrates near the seed: a outranks the far node e
    assert got["a"] > got["e"]


def test_temporal_reachability_respects_time(spark):
    from det_module_spark.operators.graph import temporal_reachability

    # a -(5)-> b -(3)-> c : c unreachable (3 < 5);
    # a -(5)-> b -(7)-> d : d reached at 7;
    # f isolated from the seed entirely
    edges = [
        ("a", "b", 5), ("b", "c", 3), ("b", "d", 7), ("f", "c", 9),
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "t"])
    s = spark.createDataFrame([("a",)], ["node"])
    got = {
        r["node"]: r["arrival"]
        for r in temporal_reachability(e, s, rounds=4).collect()
    }
    assert got == {"a": 0, "b": 5, "d": 7}


def test_temporal_reachability_takes_earliest_path(spark):
    from det_module_spark.operators.graph import temporal_reachability

    # two time-valid routes to c: via b (arrive 9) and direct (arrive 2)
    edges = [("a", "b", 1), ("b", "c", 9), ("a", "c", 2)]
    e = spark.createDataFrame(edges, ["src", "dst", "t"])
    s = spark.createDataFrame([("a",)], ["node"])
    got = {
        r["node"]: r["arrival"]
        for r in temporal_reachability(e, s, rounds=3).collect()
    }
    assert got["c"] == 2


def test_temporal_reachability_stops_at_fixpoint(spark):
    import duckdb

    from det_module_spark.operators.graph import (
        temporal_reachability,
        temporal_reachability_sql,
    )

    # round 1 reaches b at 1 and c at 5 (direct); round 2 improves c
    # to 2 via b; c -> d (t=1) is in c's past: nothing changes after
    # round 2, so 8 rounds stop early with the 2-round rows
    edges = [("a", "b", 1), ("b", "c", 2), ("a", "c", 5), ("c", "d", 1)]
    e = spark.createDataFrame(edges, ["src", "dst", "t"])
    s = spark.createDataFrame([("a",)], ["node"])

    def run(rounds):
        return sorted(
            map(tuple, temporal_reachability(e, s, rounds=rounds).collect())
        )

    assert run(2) == [("a", 0), ("b", 1), ("c", 2)]
    assert run(8) == run(2)
    edges_cte = " UNION ALL ".join(
        f"SELECT '{u}' AS src, '{v}' AS dst, {t} AS t" for u, v, t in edges
    )
    sql = temporal_reachability_sql(edges_cte, "SELECT 'a' AS node", rounds=8)
    assert sorted(duckdb.connect().execute(sql).fetchall()) == run(8)
