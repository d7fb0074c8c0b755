"""Similarity search over embedding columns (array<float>).

Two paths, as a production vector pipeline would have:

- **brute-force cosine top-k** — the exactness baseline. Queries are
  broadcast against the corpus; the dot product is a
  ``zip_with``+``aggregate`` Column expression (codegen, no Python).
  Cost O(|Q|·|C|·d): right answer for |Q| small or as the re-rank
  stage;
- **random-hyperplane LSH** — the scale path. Each vector gets a
  b-bit signature (sign of ⟨v, plane⟩ per plane); candidates share a
  bucket, then exact cosine re-ranks candidates only. Plane
  components are derived deterministically from md5, so signatures
  are reproducible across runs and engines.

At 100 TB the corpus side never shuffles: signatures are a
projection; the bucket join shuffles only (bucket, id, vec) with
bounded bucket sizes (tune n_planes to data density).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _stack_valid(vecs: pd.Series):
    """(matrix, valid_mask) for a batch of vector cells: rows whose
    vector is NULL are masked out instead of crashing ``np.stack``
    inside the executor (the Column-side kernels yield NULL on NULL
    input; the Arrow kernels must match that contract — a single null
    embedding in 100 TB must not kill the stage). ``matrix`` is None
    when the batch has no valid rows (incl. the empty batch)."""
    import numpy as np

    valid = vecs.notna().to_numpy()
    if len(vecs) == 0 or not valid.any():
        return None, valid
    if valid.all():
        return np.stack(vecs.to_numpy()), valid
    return np.stack(vecs[valid].to_numpy()), valid


def _emit_masked(results, valid, n) -> pd.Series:
    """Scatter per-valid-row results back to batch positions; masked
    rows emit None (→ SQL NULL)."""
    out = [None] * n
    if results is not None:
        k = 0
        for i in range(n):
            if valid[i]:
                out[i] = results[k]
                k += 1
    return pd.Series(out, dtype=object)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine given precomputed L2 norms. Higher-order lambdas run
    interpreted, so norms are hoisted out of pairwise joins: computed
    once per ROW on each side (O(|A|+|B|) aggregate evals) instead of
    once per PAIR (O(|A|·|B|)): the dot product over the product of
    the two norms.

    A zero norm (all-zero embedding — padding or a failed encoder
    row) yields NULL, not a crash: cosine is undefined there, and
    under ANSI mode (on in this engine) the raw division would abort
    the whole job with DIVIDE_BY_ZERO. NULL then composes with the
    existing NULL-vector contract — threshold filters drop it, desc
    rankings sort it last, and the top-k entry points exclude
    zero-norm rows up front."""
    return _dot(a, b) / F.nullif(na * nb, F.lit(0.0))


def pair_cosine_udf():
    """Arrow-batched cosine for PAIR tables — same values as
    ``cosine_with_norms``, ~10× the throughput on large candidate
    sets.

    Higher-order-function lambdas (``aggregate``/``zip_with``) run
    INTERPRETED in Spark — fine per-row, but a candidate-pair table
    evaluates |pairs|·d lambda steps (52M for 817k×64, seconds of
    driver-measured time). This kernel vectorizes across rows in
    numpy while keeping the float64 accumulation LEFT-TO-RIGHT over
    dimensions (``acc = acc + P[:, j]``, never ``np.sum``, whose
    pairwise reduction reorders float adds) — so every output double
    is bit-identical to the interpreted HOF path and to a SQL
    oracle's sequential ``a[1]*b[1] + a[2]*b[2] + …`` sum."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pc(
        va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series
    ) -> pd.Series:
        # zero norms join the invalid mask (→ NULL, matching
        # cosine_with_norms' zero-norm contract); a NaN norm from a
        # null vector compares != 0 but is already masked by notna
        valid = (
            va.notna() & vb.notna() & (na != 0) & (nb != 0)
        ).to_numpy()
        if len(va) == 0 or not valid.any():
            return pd.Series([None] * len(va), dtype=object)
        A = np.stack(va[valid].to_numpy()).astype(np.float64)
        B = np.stack(vb[valid].to_numpy()).astype(np.float64)
        P = A * B
        acc = np.zeros(len(P), dtype=np.float64)
        for j in range(P.shape[1]):
            acc = acc + P[:, j]
        res = acc / (na[valid].to_numpy() * nb[valid].to_numpy())
        if valid.all():
            return pd.Series(res)
        return _emit_masked([float(x) for x in res], valid, len(va))

    return pc


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, rank, neighbor_id, cos) — ties broken by
    neighbor id so results are total-ordered and reproducible.
    """
    from pyspark.sql import Window

    # NULL and zero-norm embeddings are excluded (the kernels'
    # NULL-on-NULL / NULL-on-zero contract): both score cos=NULL,
    # which desc-sorts last but would still fill an underfull top-k
    # with null rows. The norm filter runs on the projected column,
    # so the norm aggregate is still evaluated once per row.
    q = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            _norm(F.col(vec_col)).alias("qn"),
        )
        .filter(F.col("qn") > 0)
    )
    c = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            _norm(F.col(vec_col)).alias("cn"),
        )
        .filter(F.col("cn") > 0)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


#: vector components are quantized to integers (q = floor(v·QUANT +
#: 0.5)) before any sign/argmax decision, so accumulation is exact
#: int64 arithmetic — order-free, bit-identical across engines and
#: partitionings. QUANT is a power of two: v·QUANT is exact in
#: float64, so the quantization itself has no rounding ambiguity.
VEC_QUANT = 1024


def _plane_center(plane: int, dim: int) -> int:
    """Deterministic pseudo-random plane component as a CENTERED
    INTEGER in (−16^8, 16^8): first 8 hex chars of
    md5("rhp:plane:dim"), doubled and shifted. Stable across runs,
    engines, and cluster sizes — no RNG state to ship, and integer
    dot products are exactly reproducible in ANSI SQL (the DuckDB
    oracle recomputes the same md5 → the same planes)."""
    import hashlib

    h = int(hashlib.md5(f"rhp:{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return 2 * h - 16**8


def _plane_matrix(n_planes: int, n_tables: int, dim: int):
    """(dim, n_tables*n_planes) int64 hyperplane matrix, columns
    grouped by table. Built once on the driver (a few KB), broadcast
    inside the UDF closure."""
    import numpy as np

    cols = []
    for t in range(n_tables):
        for p in range(n_planes):
            pid = t * 1000 + p
            cols.append([_plane_center(pid, d) for d in range(dim)])
    return np.asarray(cols, dtype=np.int64).T


def quantize_batch(mat):
    """float matrix → int64, q = floor(v·QUANT + 0.5) (half-up, the
    cross-engine rounding from ROUND_NOTES.md #2)."""
    import numpy as np

    return np.floor(mat.astype(np.float64) * VEC_QUANT + 0.5).astype(np.int64)


def rhp_signatures_udf(n_planes: int, n_tables: int, dim: int):
    """Arrow-batched signature kernel: one numpy matmul per batch
    computes every table's signature for every row — sign bits packed
    per table into an array<long>.

    The matmul is INTEGER (quantized vectors × integer planes):
    |q| ≤ QUANT·|v|max ≈ 550 and |plane| < 2^32, so 64-term dot
    products stay ≪ 2^63 — exact, order-free, and therefore
    bit-reproducible by the DuckDB oracle's SUM over the same terms
    (a float matmul's sign could flip on near-zero dots between BLAS
    and SQL accumulation orders).

    A pure Column-expression formulation needs tables×planes×dim
    (≈2000) expression terms per row, which blows past JVM codegen
    limits and falls back to interpreted eval (~20× slower measured);
    dense linear algebra is the one case where the vectorized Python
    path beats codegen.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = _plane_matrix(n_planes, n_tables, dim)
    weights = np.power(2, np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        mat, valid = _stack_valid(vecs)
        if mat is None:
            return pd.Series([None] * len(vecs), dtype=object)
        bits = (quantize_batch(mat) @ planes) > 0  # (n, tables*planes)
        out = []
        for row in bits.reshape(len(mat), n_tables, n_planes):
            out.append((row @ weights).astype(np.int64).tolist())
        if valid.all():
            return pd.Series(out)
        return _emit_masked(out, valid, len(vecs))

    return sigs


def lsh_buckets(
    df: DataFrame,
    id_name: str,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
) -> DataFrame:
    """(id, vec, table, bucket) rows — one signature per hash table.
    AND within a table (n_planes bits), OR across tables: standard LSH
    amplification. Candidate recall for cosine-θ neighbors is
    1 − (1 − (1 − θ/π)^planes)^tables. One Arrow pass computes all
    tables; ``posexplode`` fans out to (table, bucket) rows."""
    sigs = rhp_signatures_udf(n_planes, n_tables, dim)
    with_sigs = df.select(
        F.col(id_col).alias(id_name),
        F.col(vec_col).alias(f"{id_name}_v"),
        _norm(F.col(vec_col)).alias(f"{id_name}_n"),
        sigs(F.col(vec_col)).alias("sigs"),
    )
    return with_sigs.select(
        id_name,
        f"{id_name}_v",
        f"{id_name}_n",
        F.posexplode("sigs").alias("table", "bucket"),
    )


def ivf_assign(
    df: DataFrame,
    centroids,  # np.ndarray (k, dim) int64 centroid SUMS
    id_name: str,
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
):
    """Assign each vector to its ``n_probe`` nearest centroid cells —
    one Arrow-batched matmul, same kernel shape as the LSH signatures.

    The score is cos(v, centroid direction) up to the per-row constant
    ‖v‖: dot(q, S_j)/‖S_j‖ with q the quantized vector and S_j the
    integer centroid sum — the integer dot is exact, the divide and
    the argsort comparisons are then identical float ops on identical
    operands in every engine. Ties break toward the lowest cell id
    (stable argsort), matching the oracle's ORDER BY r DESC, j ASC."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    S = np.asarray(centroids, dtype=np.int64)
    norms = np.sqrt((S * S).sum(axis=1).astype(np.float64))
    # a zero centroid (possible only when zero vectors seeded the
    # fit) must score 0, not 0/0=NaN: its dot is identically 0, so a
    # unit denominator leaves every real score untouched
    norms[norms == 0] = 1.0

    @pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        mat, valid = _stack_valid(vecs)
        if mat is None:
            return pd.Series([None] * len(vecs), dtype=object)
        r = (quantize_batch(mat) @ S.T).astype(np.float64) / norms
        top = np.argsort(-r, axis=1, kind="stable")[:, :n_probe].astype(
            np.int32
        )
        if valid.all():
            return pd.Series(list(top))
        return _emit_masked(list(top), valid, len(vecs))

    out = df.select(
        F.col(id_col).alias(id_name),
        F.col(vec_col).alias(f"{id_name}_v"),
        _norm(F.col(vec_col)).alias(f"{id_name}_n"),
        cells(F.col(vec_col)).alias("cells"),
    )
    return out.select(
        id_name, f"{id_name}_v", f"{id_name}_n", F.explode("cells").alias("cell")
    )


def ivf_fit_centroids(
    corpus: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2000,
    iterations: int = 5,
):
    """Deterministic mini k-means on a driver-side sample — EXACT
    integer-moment arithmetic (ROUND_NOTES.md #8), so the fit is
    bit-reproducible by the DuckDB oracle's unrolled-SQL k-means:

    - vectors quantized to int64 (quantize_batch);
    - centroid state is the integer SUM of member vectors (means never
      materialized: argmax_j dot(q, S_j)/‖S_j‖ ranks cells identically
      to cosine against the mean, and the n_j denominators cancel);
    - init = evenly spaced sample points; ties → lowest j; empty
      cluster keeps its previous sum.

    Returns the (k, dim) int64 centroid-sum matrix.

    At 100 TB the *fit* stays a sample (centroid quality needs ~1000
    points per cell, not the full corpus); only the *assignment* pass
    touches every row, and that is distributed (ivf_assign). The
    sample is ordered by id — a bare ``limit`` returns different rows
    under different partitionings, which would make the index
    non-reproducible."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())  # NULL-exclusion contract
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError(
            "ivf_fit_centroids: the fit sample is empty (no non-null "
            f"embeddings in {vec_col!r}) — cannot initialize centroids"
        )
    x = np.asarray([r[1] for r in rows])
    q = quantize_batch(x)
    # deterministic init: evenly spaced sample points (linspace then
    # truncate — the float step is the same two ops the oracle does)
    idx = np.linspace(0, len(q) - 1, k).astype(int)
    S = q[idx].copy()
    for _ in range(iterations):
        norms = np.sqrt((S * S).sum(axis=1).astype(np.float64))
        # zero-centroid guard, same contract as ivf_assign: a zero
        # centroid's dots are identically 0, so a unit denominator
        # scores it 0 instead of poisoning argmax with 0/0=NaN
        norms[norms == 0] = 1.0
        r = (q @ S.T).astype(np.float64) / norms
        assign = np.argmax(r, axis=1)  # first max ⇒ lowest j on ties
        for j in range(k):
            members = q[assign == j]
            if len(members):
                S[j] = members.sum(axis=0)
    return S


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into centroid cells
    (one assignment each); queries probe their ``n_probe`` nearest
    cells; exact cosine re-ranks candidates. The corpus cell
    assignment is computed once and persistable — at scale it lives as
    a partition column, so a probe reads only matching partitions
    (partition pruning does the candidate selection)."""
    from pyspark.sql import Window

    cents = ivf_fit_centroids(corpus, k=n_cells, id_col=id_col, vec_col=vec_col)
    # zero-norm exclusion, same contract as cosine_topk/lsh_topk
    c = ivf_assign(
        corpus, cents, "neighbor_id", id_col, vec_col, n_probe=1
    ).filter(F.col("neighbor_id_n") > 0)
    q = ivf_assign(
        queries, cents, "query_id", id_col, vec_col, n_probe=n_probe
    ).filter(F.col("query_id_n") > 0)
    cand = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "query_id_v", "query_id_n",
            "neighbor_id", "neighbor_id_v", "neighbor_id_n",
        )
        .distinct()
        .withColumn(
            "cos",
            cosine_with_norms(
                F.col("query_id_v"), F.col("neighbor_id_v"),
                F.col("query_id_n"), F.col("neighbor_id_n"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH candidates, exact
    cosine re-rank on candidates only. Recall measured against
    cosine_topk in tests; tune (n_planes, n_tables) to data density —
    more planes → smaller buckets, more tables → higher recall.

    At scale the corpus bucket table is computed once (a projection),
    persisted, and reused across query batches; the join touches only
    matching buckets."""
    from pyspark.sql import Window

    # zero-norm vectors can hash to buckets but cannot be cosine-
    # scored (cos=NULL) — exclude them like NULL vectors so they
    # never pollute an underfull top-k
    q = lsh_buckets(
        queries, "query_id", id_col, vec_col, n_planes, n_tables, dim
    ).filter(F.col("query_id_n") > 0)
    c = lsh_buckets(
        corpus, "neighbor_id", id_col, vec_col, n_planes, n_tables, dim
    ).filter(F.col("neighbor_id_n") > 0)
    cand = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "query_id_v", "query_id_n",
            "neighbor_id", "neighbor_id_v", "neighbor_id_n",
        )
        .distinct()
        .withColumn(
            "cos",
            cosine_with_norms(
                F.col("query_id_v"), F.col("neighbor_id_v"),
                F.col("query_id_n"), F.col("neighbor_id_n"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def pq_fit(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2000,
    iterations: int = 5,
    dim: int = 64,
):
    """Product-quantization codebooks: split the vector into ``m``
    subspaces and run an exact-integer L2 k-means in each.

    State per (subspace, centroid): the int64 member SUM ``S`` and
    count ``n`` — assignment compares d² up to the per-point constant:
        argmin_j  (−2·dot(x, S_j)·n_j + ‖S_j‖²) / n_j²
    (clear the mean's denominator; every operand is an exact integer,
    the divide is one double op on identical operands in any engine —
    the same discipline as ivf_fit_centroids, so the DuckDB oracle
    replays the fit bit-for-bit). Ties → lowest j; empty cluster
    keeps its previous state.

    Returns (S, n): int64 arrays of shape (m, k, dim//m) and (m, k)."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .filter(F.col(vec_col).isNotNull())  # NULL-exclusion contract
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError(
            "pq_fit: the fit sample is empty (no non-null embeddings "
            f"in {vec_col!r}) — cannot initialize codebooks"
        )
    x = np.asarray([r[1] for r in rows])
    q = quantize_batch(x)
    dsub = dim // m
    S = np.zeros((m, k, dsub), dtype=np.int64)
    n = np.ones((m, k), dtype=np.int64)
    idx = np.linspace(0, len(q) - 1, k).astype(int)
    for s in range(m):
        sub = q[:, s * dsub:(s + 1) * dsub]
        Ss = sub[idx].copy()
        ns = np.ones(k, dtype=np.int64)
        for _ in range(iterations):
            dots = sub @ Ss.T  # (nrows, k) int64
            normsq = (Ss * Ss).sum(axis=1)
            score = (
                (-2 * dots * ns[None, :] + normsq[None, :]).astype(np.float64)
                / (ns[None, :] * ns[None, :]).astype(np.float64)
            )
            assign = np.argmin(score, axis=1)  # first min ⇒ lowest j
            for j in range(k):
                members = sub[assign == j]
                if len(members):
                    Ss[j] = members.sum(axis=0)
                    ns[j] = len(members)
        S[s], n[s] = Ss, ns
    return S, n


def pq_encode(
    df: DataFrame,
    codebooks,
    id_name: str = "vec_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to ``m`` 4-bit-ish codes (array<int>): per
    subspace, the L2-nearest codebook entry under the same exact
    integer comparison as the fit. One Arrow batch pass; 16× storage
    compression at m=8, k=16 over float32x64."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    S, n = codebooks
    m, k, dsub = S.shape

    @pandas_udf("array<int>")
    def codes(vecs: pd.Series) -> pd.Series:
        stacked, valid = _stack_valid(vecs)
        if stacked is None:
            return pd.Series([None] * len(vecs), dtype=object)
        mat = quantize_batch(stacked)
        out = np.zeros((len(mat), m), dtype=np.int32)
        for s in range(m):
            sub = mat[:, s * dsub:(s + 1) * dsub]
            dots = sub @ S[s].T
            normsq = (S[s] * S[s]).sum(axis=1)
            score = (
                (-2 * dots * n[s][None, :] + normsq[None, :]).astype(
                    np.float64
                )
                / (n[s][None, :] * n[s][None, :]).astype(np.float64)
            )
            out[:, s] = np.argmin(score, axis=1)
        if valid.all():
            return pd.Series(list(out))
        return _emit_masked(list(out), valid, len(vecs))

    return df.select(
        F.col(id_col).alias(id_name), codes(F.col(vec_col)).alias("codes")
    )


def quantized_vec(col: Column) -> Column:
    """Column-side twin of quantize_batch: int64 per component via
    floor(v·QUANT + 0.5) — identical doubles, identical ints."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * VEC_QUANT + 0.5).cast("long")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, an
    (m × k) lookup table of exact subspace distances to every codebook
    mean; a corpus row's approximate distance is the fixed-order sum
    of its codes' table entries.

    Scale shape: the corpus is encoded ONCE (a projection that would
    be persisted as the index); queries carry their tiny LUT as an
    array column, the scoring join is broadcast(queries) × codes with
    a pure Column ``aggregate`` over the zipped (code, lut-row) pairs
    — JVM-side, no Python in the per-pair path; one window ranks
    top-k. The LUT entry is computed from exact integer moments, so
    distances are bit-identical cross-engine.

    With ``shortlist=N`` (the standard PQ query shape) the ADC pass
    only selects N candidates per query; an exact integer-L2 re-rank
    over the quantized vectors picks the final top-k — full-precision
    reads for N rows instead of the whole corpus. Output then carries
    the exact squared distance ``d2`` (int64)."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    # NULL-exclusion contract: a null embedding would otherwise encode
    # to codes=NULL -> adist=NULL, and ASC window order is NULLS FIRST
    # in Spark — the null row would silently take rank 1 for EVERY
    # query instead of being excluded.
    queries = queries.filter(F.col(vec_col).isNotNull())
    corpus = corpus.filter(F.col(vec_col).isNotNull())

    S, n = codebooks
    m, k, dsub = S.shape

    @pandas_udf("array<array<double>>")
    def luts(vecs: pd.Series) -> pd.Series:
        stacked, valid = _stack_valid(vecs)
        if stacked is None:
            return pd.Series([None] * len(vecs), dtype=object)
        mat = quantize_batch(stacked)
        out = []
        for row in mat:
            lut = np.zeros((m, k), dtype=np.float64)
            for s in range(m):
                sub = row[s * dsub:(s + 1) * dsub]
                qq = float(sub @ sub)
                dots = (sub @ S[s].T).astype(np.float64)
                normsq = (S[s] * S[s]).sum(axis=1).astype(np.float64)
                ns = n[s].astype(np.float64)
                lut[s] = qq - 2.0 * dots / ns + normsq / (ns * ns)
            out.append([list(r) for r in lut])
        if valid.all():
            return pd.Series(out)
        return _emit_masked(out, valid, len(vecs))

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), luts(F.col(vec_col)).alias("lut")
        )
    )
    c = pq_encode(corpus, codebooks, id_name="neighbor_id",
                  id_col=id_col, vec_col=vec_col)
    # fixed-order sum over subspaces: zip codes with lut rows, look up,
    # left-fold — the same sequential order the oracle uses
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda code, row: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    adc = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adist", dist)
        .withColumn("rank", F.row_number().over(w))
    )
    if shortlist is None:
        return adc.filter(F.col("rank") <= topk).select(
            "query_id", "rank", "neighbor_id", "adist"
        )

    cand = adc.filter(F.col("rank") <= shortlist).select(
        "query_id", "neighbor_id"
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            quantized_vec(F.col(vec_col)).alias("qv"),
        )
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantized_vec(F.col(vec_col)).alias("nv"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("nv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    return (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "neighbor_id", "d2")
    )


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space (deterministic integer k-means, ivf_fit_centroids), compare
    vectors ONLY within their cell, and drop every vector that has a
    lower-id neighbor with cosine ≥ ``threshold`` (the lowest id in a
    near-duplicate group survives).

    Scale shape: the all-pairs comparison is confined to cells — with
    k sized so cells hold ~constant membership, total work is
    Σ|cell|² ≪ n², and each cell's pairs co-locate under one shuffle
    key (the cell id). The fit is a bounded driver-side sample; the
    assignment pass and the per-cell self-join are fully distributed.
    Returns kept rows: (vec_id, cell, n_dropped_in_cell).
    """
    S = ivf_fit_centroids(
        corpus, k=n_cells, id_col=id_col, vec_col=vec_col
    )
    # materialize the assignment once (optimization r10, guide §4):
    # three consumers read it (both self-join sides + the kept-rows
    # base) and Catalyst replans the subtree per consumer, so without
    # the cut the Arrow-batched assignment kernel — a full
    # JVM→Python→JVM pass over the corpus — runs three times.
    assigned = ivf_assign(
        corpus, S, "vec_id", id_col, vec_col, n_probe=1
    ).select(
        F.col("vec_id"), F.col("vec_id_v").alias("v"),
        F.col("vec_id_n").alias("nrm"), "cell",
    ).localCheckpoint(eager=True)
    a = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    # per-cell pairs, lower id on the left; a duplicate is any id_b
    # with a qualifying lower-id neighbor
    dups = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ),
        )
        .filter(F.col("cos") >= F.lit(threshold))
        .select("cell", F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dups.select("vec_id"), "vec_id", "left_anti")
        .join(
            dups.groupBy("cell").agg(F.count("*").alias("n_dropped_in_cell")),
            "cell",
            "left",
        )
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_dropped_in_cell", F.lit(0)).alias(
                "n_dropped_in_cell"
            ),
        )
    )


def label_centroids(
    df: DataFrame,
    vec: str = "embedding",
    label: str = "label",
    scale: int = 10**6,
    digits: int = 6,
) -> DataFrame:
    """Per-label centroid and per-component variance over a vector
    column, in long form: (label, pos, n, centroid, variance).

    Exact-moment discipline (ROUND_NOTES.md #8): each float32
    component is quantized to a scaled long q = round(v·scale), so
    Σq and Σq² accumulate exactly in int64 regardless of partition
    order; centroid = Σq/(n·scale) and variance = Σq²/n − (Σq/n)²
    (population, in q-units² rescaled) are then fixed op sequences on
    exact inputs — bit-identical across engines — rounded once.

    Shape: posexplode (row blowup × dim) → one hash aggregation keyed
    by (label, pos): map-side combine makes the shuffle ∝ labels×dim,
    not corpus size. int64 bound: |v|≤1 ⇒ q²≤scale², safe below
    ~9·10^15/scale² ≈ 9000 billion rows per (label,pos) group."""
    q = F.floor(F.col("v").cast("double") * scale + F.lit(0.5)).cast("long")
    exploded = df.select(
        F.col(label), F.posexplode(F.col(vec)).alias("pos", "v")
    ).select(label, "pos", q.alias("q"))
    sc = float(scale)
    out_scale = F.lit(float(10**digits))
    agg = exploded.groupBy(label, "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    mean_q = F.col("sq").cast("double") / F.col("n").cast("double")
    centroid = mean_q / F.lit(sc)
    var = (
        F.col("sqq").cast("double") / F.col("n").cast("double")
        - mean_q * mean_q
    ) / F.lit(sc * sc)
    return agg.select(
        label,
        "pos",
        "n",
        (F.floor(centroid * out_scale + F.lit(0.5)) / out_scale).alias(
            "centroid"
        ),
        (F.floor(var * out_scale + F.lit(0.5)) / out_scale).alias("variance"),
    )


def hard_negatives(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchors: DataFrame | None = None,
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the
    ``k`` most cosine-similar vectors carrying a DIFFERENT label —
    the pairs a contrastive/metric-learning objective learns most
    from (similar in embedding space, semantically distinct).

    Output: (anchor_id, rank, negative_id, neg_label, cos), ties
    broken by negative id — total-ordered, engine-reproducible.

    Same scale shape as ``cosine_topk``: anchors are the bounded side
    (broadcast); the corpus side streams, never shuffles the vectors.
    The label filter is pushed below the window rank, so excluded
    same-label rows never enter the top-k state. At full scale swap
    the exact scorer for the IVF/LSH candidate generators and keep
    this ranking contract.
    """
    from pyspark.sql import Window

    if anchors is None:
        from det_module_spark.operators.dedup import guard_broadcast_side

        guard_broadcast_side(
            df,
            "hard_negatives",
            "similarity.lsh_buckets / ivf_topk candidate generation",
            max_broadcast_rows,
        )
    a = (
        (anchors if anchors is not None else df)
        .filter(F.col(vec_col).isNotNull())  # NULL-exclusion contract
        .select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
            F.col(vec_col).alias("qv"),
            _norm(F.col(vec_col)).alias("qn"),
        )
        .filter(F.col("qn") > 0)  # zero-norm exclusion
    )
    c = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("negative_id"),
            F.col(label_col).alias("neg_label"),
            F.col(vec_col).alias("cv"),
            _norm(F.col(vec_col)).alias("cn"),
        )
        .filter(F.col("cn") > 0)
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .withColumn(
            "cos",
            cosine_with_norms(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "rank", "negative_id", "neg_label", "cos")
    )


def maxsim_scores(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    doc_col: str = "doc",
    vec_col: str = "embedding",
    qid_col: str = "qid",
) -> DataFrame:
    """Late-interaction (ColBERT-style) retrieval scoring: documents
    carry MULTIPLE token vectors; score(doc) = Σ_q max_t ⟨q, t⟩ over
    the query's token vectors — the MaxSim sum that beats single-
    vector retrieval on long documents. → (doc, n_q, maxsim_q), all
    exact int64 (vectors quantized to 1024ths like mmr/cosine_topk,
    so max and sum are engine-stable with no float ties).

    Contract: ``query_tokens`` is a bounded frame (a query has a few
    dozen tokens) — it broadcasts; the doc-token side streams at any
    corpus scale. Shape: one broadcast nested-loop dot pass (|docs'
    tokens| × |query tokens|, the irreducible late-interaction cost;
    production systems put an ANN candidate filter in front — compose
    with similarity_lsh/ivf for that), one (doc, qid) max agg, one
    doc sum agg.
    """
    from det_module_spark.operators.mmr import int_dot, quantize_vec

    dt = doc_tokens.select(
        F.col(doc_col).alias("doc"), quantize_vec(F.col(vec_col)).alias("tv")
    )
    qt = query_tokens.select(
        F.col(qid_col).alias("qid"), quantize_vec(F.col(vec_col)).alias("qv")
    )
    dots = dt.crossJoin(F.broadcast(qt)).select(
        "doc", "qid", int_dot(F.col("tv"), F.col("qv")).alias("dot")
    )
    best = dots.groupBy("doc", "qid").agg(F.max("dot").alias("best"))
    return best.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_q"), F.sum("best").alias("maxsim_q")
    )


def matryoshka_audit(
    embeddings: DataFrame,
    query_id: int,
    dims: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka/MRL adoption audit: how much of the full-dimension
    top-k survives when vectors are truncated to a prefix budget?
    → (dim_budget, k, n_overlap) per budget in ``dims`` (the last
    entry should be the full dimension, whose overlap is k by
    construction — a built-in sanity row).

    The question behind it: can the ANN index store 8/16/32-dim
    prefixes (4-8× memory cut) without losing recall. Exact
    arithmetic: dots are quantized-int over the prefix slice, top-k
    ties break on id, overlap is a set intersection count.

    Shape: ONE brute-force scored corpus pass (the oracle-able
    baseline; compose the IVF/LSH path in front at corpus scale)
    computing the per-SEGMENT integer dots between consecutive
    budgets — prefix dot at budget d_j is the exact sum of segments
    1..j (integer addition, order-free) — materialized as a compact
    (id, s_1..s_|dims|) table. Every budget's k-row TakeOrdered and
    k×k semi-join then reads the segment table, not the corpus
    (VERDICT r09 #4: the per-budget re-scan was |dims| corpus passes
    for the same vectors).
    """
    from det_module_spark.operators.mmr import int_dot, quantize_vec

    qv = embeddings.where(F.col(id_col) == query_id).select(
        quantize_vec(F.col(vec_col)).alias("qv")
    )
    cand = embeddings.where(
        (F.col(id_col) != query_id) & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col)).alias("cv")
    )
    scored = cand.crossJoin(F.broadcast(qv))

    budgets = sorted(set(dims))
    segs = []  # (start, length) of each inter-budget slice, 1-based
    prev = 0
    for d in budgets:
        segs.append((prev + 1, d - prev))
        prev = d
    parts = scored.select(
        "id",
        *[
            int_dot(
                F.slice(F.col("cv"), s, ln), F.slice(F.col("qv"), s, ln)
            ).alias(f"s{j}")
            for j, (s, ln) in enumerate(segs)
        ],
    ).localCheckpoint(eager=True)

    def topk(d: int):
        j = budgets.index(d)
        dot = F.col("s0")
        for i in range(1, j + 1):
            dot = dot + F.col(f"s{i}")
        return (
            parts.select("id", dot.alias("dot"))
            .orderBy(F.desc("dot"), "id")
            .limit(k)
            .select("id")
        )

    full = topk(max(dims)).localCheckpoint(eager=True)
    out = None
    for d in sorted(dims):
        ov = (
            topk(d)
            .join(full, "id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
            .select(
                F.lit(d).alias("dim_budget"),
                F.lit(k).cast("long").alias("k"),
                "n_overlap",
            )
        )
        out = ov if out is None else out.unionByName(ov)
    return out


def centroid_drift(
    df: DataFrame,
    label: str,
    is_a,
    vec_col: str = "embedding",
    quant: int = 10000,
) -> DataFrame:
    """Embedding-distribution drift per label: the cosine between the
    A-sample and B-sample centroid of each label's vectors →
    (label, n_a, n_b, cos_ppm). A centroid cosine near 1e6 means the
    label's embedding mass hasn't moved; drops flag upstream
    encoder/feature drift that scalar drift tests (ks/psi/wasserstein
    on floats) can't see.

    Exactness: components quantize to ``quant`` units per dimension
    BEFORE the per-(label, split, dim) integer sums (order/partition
    independent); the cosine is one IEEE sqrt/divide on those exact
    sums. Keep n_vectors·quant per cell < 2³¹ so dim-products stay
    inside int64 (default 1e4 leaves ×64-dim headroom to ~2e5
    vectors per (label, split); rescale beyond).

    Shape: posexplode (∝ rows·dims) → one hash agg keyed by
    (label, split, dim) → one equi-join on (label, dim) → one agg.
    """
    base = df.select(
        F.col(label).alias("lbl"),
        is_a.alias("ia"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    ).select(
        "lbl",
        "ia",
        "dim",
        F.floor(F.col("v").cast("double") * quant + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    sums = base.groupBy("lbl", "ia", "dim").agg(F.sum("q").alias("s"))
    a = sums.where(F.col("ia")).select(
        "lbl", "dim", F.col("s").alias("sa")
    )
    b = sums.where(~F.col("ia")).select(
        "lbl", "dim", F.col("s").alias("sb")
    )
    j = a.join(b, ["lbl", "dim"])
    counts = (
        df.select(F.col(label).alias("lbl"), is_a.alias("ia"))
        .groupBy("lbl")
        .agg(
            F.sum(F.when(F.col("ia"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(~F.col("ia"), 1).otherwise(0)).alias("n_b"),
        )
    )
    dots = j.groupBy("lbl").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("na2"),
        F.sum(F.col("sb") * F.col("sb")).alias("nb2"),
    )
    cos = F.floor(
        F.lit(1000000.0)
        * F.col("dot").cast("double")
        / (
            F.sqrt(F.col("na2").cast("double"))
            * F.sqrt(F.col("nb2").cast("double"))
        )
        + F.lit(0.5)
    ).cast("long")
    return (
        counts.join(dots, "lbl")
        .select(
            F.col("lbl").alias(label),
            "n_a",
            "n_b",
            F.when(
                (F.col("na2") > 0) & (F.col("nb2") > 0), cos
            ).alias("cos_ppm"),
        )
    )
