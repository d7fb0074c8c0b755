"""Connected components / dedup clustering and binned range join."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from det_module_spark.operators.graph import connected_components, dedup_clusters
from det_module_spark.operators.rangejoin import range_join


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 iteration), island 10-11,
    # self-contained pair 20-21
    edges = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)]]
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_with_singletons(spark):
    pairs = spark.createDataFrame([Row(id_a=5, id_b=7)])
    all_ids = spark.createDataFrame([Row(doc_id=i) for i in [3, 5, 7, 9]])
    out = {r["id"]: (r["cluster"], r["is_canonical"])
           for r in dedup_clusters(pairs, all_ids).collect()}
    assert out[5] == (5, True)
    assert out[7] == (5, False)
    assert out[3] == (3, True)   # singleton keeps own cluster
    assert out[9] == (9, True)
    # dedup keep-set = canonicals
    assert sorted(k for k, v in out.items() if v[1]) == [3, 5, 9]


def test_range_join_numeric(spark):
    points = spark.createDataFrame([Row(x=i) for i in range(20)])
    ranges = spark.createDataFrame(
        [
            Row(rid=1, lo=3, hi=6),     # matches 3,4,5
            Row(rid=2, lo=5, hi=15),    # matches 5..14 (spans bins)
            Row(rid=3, lo=100, hi=110), # matches nothing
        ]
    )
    out = range_join(points, ranges, "x", "lo", "hi", bin_size=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["rid"], set()).add(r["x"])
    assert got[1] == {3, 4, 5}
    assert got[2] == set(range(5, 15))
    assert 3 not in got


def test_range_join_inclusive_end(spark):
    points = spark.createDataFrame([Row(x=i) for i in range(10)])
    ranges = spark.createDataFrame([Row(rid=1, lo=2, hi=4)])
    excl = range_join(points, ranges, "x", "lo", "hi", bin_size=3)
    incl = range_join(points, ranges, "x", "lo", "hi", bin_size=3, inclusive_end=True)
    assert {r["x"] for r in excl.collect()} == {2, 3}
    assert {r["x"] for r in incl.collect()} == {2, 3, 4}


def test_range_join_timestamps(spark):
    points = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1) + dt.timedelta(days=i)) for i in range(10)]
    )
    ranges = spark.createDataFrame(
        [Row(rid=1,
             lo=dt.datetime(2024, 1, 3),
             hi=dt.datetime(2024, 1, 6))]
    )
    out = range_join(points, ranges, "ts", "lo", "hi", bin_size=86400)
    days = sorted(r["ts"].day for r in out.collect())
    assert days == [3, 4, 5]


def test_pagerank_hand_computed(spark):
    """3-node chain a->b->c plus c->a: hand-check one iteration of the
    fixed-point arithmetic, and total mass conservation (no dangling
    nodes here, so mass is preserved up to floor truncation)."""
    from det_module_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    B = 10**12
    out = {r.node: r.rank_fp for r in pagerank(edges, iterations=1).collect()}
    # symmetric cycle, outdeg 1 everywhere: every node keeps B//3
    expect = 15 * (B // 3) // 100 + 85 * (B // 3) // 100
    assert out == {1: expect, 2: expect, 3: expect}

    # star: 2,3 -> 1; node 1 dangling (leaks), nodes 2,3 get base only
    edges2 = spark.createDataFrame([(2, 1), (3, 1)], "src long, dst long")
    out2 = {r.node: r.rank_fp for r in pagerank(edges2, iterations=1).collect()}
    base = 15 * (B // 3) // 100
    assert out2[2] == base and out2[3] == base
    assert out2[1] == base + 85 * (2 * (B // 3)) // 100


def test_pagerank_matches_unrolled_sql_oracle(spark):
    """The Spark iteration and the unrolled-CTE SQL must agree bit-for-
    bit on a random-ish graph (the determinism contract)."""
    import duckdb

    from det_module_spark.operators.graph import pagerank, pagerank_sql

    edges = [(i % 17, (i * 7 + 3) % 13) for i in range(100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_fp for r in pagerank(df, iterations=3).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    sql = pagerank_sql("SELECT DISTINCT src, dst FROM e", iterations=3)
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_label_propagation_deterministic(spark):
    """Two triangles joined by a bridge: deterministic communities
    with min-label tie-breaks; partition-independent."""
    from pyspark.sql import functions as F

    from det_module_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["id"]: r["community"] for r in label_propagation(df, rounds=3).collect()}
    assert set(out) == {1, 2, 3, 10, 11, 12}
    # triangle {1,2,3} collapses to a single small-label community
    assert out[1] == out[2] == out[3]
    b = {r["id"]: r["community"] for r in label_propagation(df.repartition(7), rounds=3).collect()}
    assert out == b


def test_connected_components_randomized_vs_union_find(spark):
    # Random multi-component graphs (deterministic seed) incl. one
    # 40-node path — diameter 39 forces several pointer-jumping
    # rounds, the regime the fixed chain/islands case doesn't reach.
    import random

    from det_module_spark.operators.graph import connected_components

    rng = random.Random(0xBEEF)

    def union_find(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min node id in the component
        roots = {}
        for v in range(n_nodes):
            r = find(v)
            roots.setdefault(r, v)  # first visit in id order is min
        return {v: roots[find(v)] for v in range(n_nodes)}

    cases = []
    # sparse random graph: many small components
    cases.append((60, [(rng.randrange(60), rng.randrange(60)) for _ in range(35)]))
    # long path: worst-case diameter for label propagation
    cases.append((40, [(i, i + 1) for i in range(39)]))
    # two dense blobs bridged by one edge
    blob = [(rng.randrange(15), rng.randrange(15)) for _ in range(40)]
    blob += [(15 + rng.randrange(15), 15 + rng.randrange(15)) for _ in range(40)]
    cases.append((30, blob + [(7, 22)]))

    for n_nodes, raw in cases:
        edges = [(a, b) for a, b in raw if a != b]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["id"]: r["component"]
            for r in connected_components(df).collect()
        }
        want_all = union_find(n_nodes, edges)
        touched = {v for e in edges for v in e}
        want = {v: want_all[v] for v in touched}
        assert got == want, f"CC mismatch on case n={n_nodes}"


@pytest.mark.parametrize(
    "op",
    [
        "connected_components",
        "label_propagation",
        "k_core",
        "degree_assortativity",
        "clustering_coefficients",
    ],
)
def test_undirected_operators_read_edge_input_once(spark, op):
    # the edge input is often an expensive pair pipeline: building both
    # orientations must not run it once per orientation or per consumer
    from pyspark.sql.types import LongType

    from det_module_spark.operators import graph

    calls = spark.sparkContext.accumulator(0)

    def tick(x):
        calls.add(1)
        return x

    rows = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 6)]
    edges = spark.createDataFrame(rows, "src long, raw long").select(
        "src", F.udf(tick, LongType())("raw").alias("dst")
    )
    extra = {"k": 2} if op == "k_core" else {}
    assert getattr(graph, op)(edges, src="src", dst="dst", **extra).collect()
    assert calls.value == len(rows)
