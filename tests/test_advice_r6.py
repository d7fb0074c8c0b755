"""Regression tests for the round-6 ADVICE items:

- graph.hits(rounds=0) raises a clear ValueError instead of joining
  against a None auth frame;
- temporal_reachability_sql can honor a seed ``arrival`` column
  (parity with the DataFrame twin) via ``seeds_have_arrival``.
"""

import duckdb
import pytest

from det_module_spark.operators.graph import (
    hits,
    temporal_reachability,
    temporal_reachability_sql,
)


def test_hits_rejects_zero_rounds(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="rounds >= 1"):
        hits(edges, rounds=0)


def test_temporal_reach_sql_honors_seed_arrival(spark):
    # b is only reachable time-respecting if the seed arrives <= 5;
    # with arrival 10 the only edge (t=5) is in the seed's past.
    edges = [("a", "b", 5)]
    edges_cte = "SELECT 'a' AS src, 'b' AS dst, 5 AS t"
    seeds_cte = "SELECT 'a' AS node, CAST(10 AS BIGINT) AS arrival"
    con = duckdb.connect()
    with_arr = con.execute(
        temporal_reachability_sql(
            edges_cte, seeds_cte, rounds=2, seeds_have_arrival=True
        )
    ).fetchall()
    without = con.execute(
        temporal_reachability_sql(edges_cte, seeds_cte, rounds=2)
    ).fetchall()
    assert sorted(with_arr) == [("a", 10)]  # b not reached
    assert sorted(without) == [("a", 0), ("b", 5)]

    # and the DataFrame twin agrees with the arrival-honoring SQL
    e = spark.createDataFrame(edges, "src string, dst string, t long")
    s = spark.createDataFrame([("a", 10)], "node string, arrival long")
    got = sorted(
        map(tuple, temporal_reachability(e, s, rounds=2).collect())
    )
    assert got == [("a", 10)]


def test_similarity_kernels_null_embedding_yields_null(spark):
    # A single NULL embedding in 100 TB must not kill the stage: every
    # Arrow kernel in operators/similarity.py must emit NULL (and the
    # downstream explodes must silently exclude the row), matching the
    # Column-side kernels' NULL-on-NULL contract — the same executor
    # TypeError class as the r5 TWS null-value guard.
    from pyspark.sql import functions as F

    from det_module_spark.operators.similarity import (
        ivf_assign,
        lsh_buckets,
        pair_cosine_udf,
        pq_encode,
        quantize_batch,
    )

    import numpy as np

    dim = 8
    rows = [
        (1, [float(i) / 10 for i in range(dim)]),
        (2, None),
        (3, [float(dim - i) / 10 for i in range(dim)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # LSH: null row emits no buckets; valid rows keep their signatures
    b = lsh_buckets(df, "id", "vec_id", "embedding", 4, 2, dim)
    got_ids = sorted(r["id"] for r in b.select("id").distinct().collect())
    assert got_ids == [1, 3]
    only_valid = df.filter(F.col("embedding").isNotNull())
    b2 = lsh_buckets(only_valid, "id", "vec_id", "embedding", 4, 2, dim)
    assert sorted(map(tuple, b.select("id", "table", "bucket").collect())) == \
        sorted(map(tuple, b2.select("id", "table", "bucket").collect()))

    # IVF assign: same exclusion contract
    cents = quantize_batch(np.asarray([r[1] for r in rows if r[1]]))
    a = ivf_assign(df, cents, "id", "vec_id", "embedding", n_probe=1)
    assert sorted(r["id"] for r in a.select("id").distinct().collect()) == [1, 3]

    # PQ encode: null codes for the null row, not a crash
    codes = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(
            df, (cents.reshape(2, 1, dim)[:, :, : dim // 2].copy(),
                 np.ones((2, 1), dtype=np.int64)),
            id_name="vec_id",
        ).collect()
    }
    assert codes[2] is None and codes[1] is not None

    # pair cosine: null on either side -> NULL, valid pairs unchanged
    pc = pair_cosine_udf()
    pairs = df.alias("a").crossJoin(df.alias("b")).select(
        F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
        pc(
            F.col("a.embedding"), F.col("b.embedding"),
            F.lit(1.0), F.lit(1.0),
        ).alias("c"),
    )
    got = {(r["ia"], r["ib"]): r["c"] for r in pairs.collect()}
    assert got[(2, 1)] is None and got[(1, 2)] is None and got[(2, 2)] is None
    assert got[(1, 3)] is not None


def test_mmr_select_null_embedding_excluded(spark):
    # a null vector in either side must be silently excluded, not
    # crash the int64 greedy kernel via an underfull relevance pool
    from det_module_spark.operators.mmr import mmr_select

    dim = 4
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),
            (11, None),
            (12, [0.0, 1.0, 0.0, 0.0]),
            (13, [0.9, 0.1, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, None)],
        "vec_id long, embedding array<float>",
    )
    got = mmr_select(queries, corpus, k=2, pool=10).collect()
    qids = {r["query_id"] for r in got}
    picked = {r["vec_id"] for r in got}
    assert qids == {1}          # null query dropped
    assert 11 not in picked     # null candidate dropped
    assert len(got) == 2


def test_simhash_bits_validation(spark):
    import pytest

    from det_module_spark.operators.dedup import simhash

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    for bad in (0, -1, 64):
        with pytest.raises(ValueError, match="bits"):
            simhash(df, bits=bad)
    assert simhash(df, bits=8).count() == 1


def test_pq_and_fit_paths_null_embedding_excluded(spark):
    # follow-ups to the kernel NULL masking: (1) a null embedding in
    # the fit sample must not crash the driver-side quantize, (2)
    # pq_topk must EXCLUDE null rows — codes=NULL would yield
    # adist=NULL, and ASC window order is NULLS FIRST, so the null row
    # would silently outrank every real neighbor.
    from det_module_spark.operators.similarity import (
        cosine_topk,
        ivf_fit_centroids,
        pq_fit,
        pq_topk,
    )

    rows = [
        (i, [float((i * 7 + j) % 5) / 5 for j in range(8)])
        for i in range(1, 7)
    ] + [(7, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = ivf_fit_centroids(df, k=2, sample=10)  # null in sample: no crash
    assert cents.shape == (2, 8)

    books = pq_fit(df, m=2, k=2, sample=10, dim=8)
    got = pq_topk(df, df, books, topk=3).collect()
    assert got, "pq_topk returned nothing"
    assert all(r["neighbor_id"] != 7 for r in got)   # null row never ranks
    assert all(r["query_id"] != 7 for r in got)      # null query dropped
    assert all(r["adist"] is not None for r in got)

    short = pq_topk(df, df, books, topk=2, shortlist=4).collect()
    assert short and all(r["neighbor_id"] != 7 for r in short)
    assert all(r["d2"] is not None for r in short)

    ck = cosine_topk(df, df, k=10).collect()  # k > real candidates
    assert ck and all(
        r["neighbor_id"] != 7 and r["query_id"] != 7 and r["cos"] is not None
        for r in ck
    )
