"""Iterative graph operators over edge-list DataFrames: connected
components and the dedup-cluster layer on top of them, label
propagation, k-core peeling, PageRank (uniform and personalized),
HITS, shortest paths, graph-Voronoi, time-respecting reachability,
random walks, triangles and degree statistics. Each loop has an
unrolled-CTE ``*_sql`` twin for the DuckDB oracle; integer arithmetic
and fixed round caps keep both engines bit-identical.

Edge frames. An operator reads its edge input once, into one
materialized frame, before anything else touches it: ``_undirected``
(distinct (a, b) pairs in both orientations, built by one explode per
input row) or ``_edges`` (distinct directed (src, dst)). The upstream
pair generation is often the most expensive part of a query, and each
branch of a union, like each consumer of an unmaterialized frame,
would run it again.

Checkpoints. Loop state is cut with an eager ``localCheckpoint`` each
round. Without it the plan doubles per round, and serializing it runs
out of memory long before the data is a problem. Convergence tests
read the checkpointed rows, or a metric observed while they were
written, never a collect. The shared loops are ``_relax`` (monotone
min-relaxation that stops at its fixpoint, which equals the fully
unrolled oracle), ``_rank`` (the PageRank family, which only
checkpoints past 4 rounds: no win was measured at 3) and ``_walk``
(hash-drawn walks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from det_module_spark.operators.dedup import stable_hash64


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct (a, b) pairs in both orientations, self-loops kept
    (callers that exclude them filter ``a != b``). Both orientations
    come from one explode per input row, so the edge input is
    evaluated once."""
    both = F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
    )
    return (
        edges.select(F.explode(both).alias("p"))
        .select("p.a", "p.b")
        .distinct()
        .localCheckpoint(eager=True)
    )


def _edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct directed (src, dst) pairs."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _nodes(e: DataFrame) -> DataFrame:
    """Every endpoint of an ``_edges`` frame → (node)."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _relax(
    state: DataFrame,
    extend: Callable[[DataFrame], DataFrame],
    rounds: int,
) -> DataFrame:
    """Monotone min-relaxation keyed by ``node``: each round unions
    ``state`` with the candidate rows ``extend(state)`` and keeps, per
    node, the candidate whose non-key columns are smallest (compared in
    column order). Values only improve, so a round that changes no row
    is the fixpoint and the loop stops there with the result of all
    ``rounds`` unrolled rounds.

    The fixpoint test reads the row count and the count and sum of the
    first value column, observed by the checkpoint job itself, so it
    costs no job of its own. Nodes are never dropped and a value never
    turns NULL, so with both counts unchanged every changed row lowered
    its value and the sum fell. That holds when a row changes only by
    lowering its first value column: always with one value column, and
    for ``nearest_seed``'s (hops, seed), whose rows never change once
    reached (a node is first reached at its least hop count, from every
    seed at that count at once)."""
    vals = [c for c in state.columns if c != "node"]
    if len(vals) == 1:  # a struct, even of one field, sorts to aggregate
        key, unpack = F.col(vals[0]), [F.col("m").alias(vals[0])]
    else:
        key, unpack = F.struct(*vals), [F.col(f"m.{c}").alias(c) for c in vals]
    first = F.col(vals[0])
    probe = [
        F.count(F.lit(1)).alias("rows"),
        F.count(first).alias("vals"),
        F.sum(first.cast("decimal(38,0)")).alias("sum"),
    ]
    state = state.localCheckpoint(eager=True)
    last = None
    for _ in range(rounds):
        seen = Observation()
        state = (
            state.unionByName(extend(state))
            .groupBy("node")
            .agg(F.min(key).alias("m"))
            .select("node", *unpack)
            .observe(seen, *probe)
            .localCheckpoint(eager=True)
        )
        now = seen.get
        if now == last:
            break
        last = now
    return state


def _idiv(a, b):
    """Exact integer floor-division as Column arithmetic: (a - a%b)/b.
    The numerator is an exact multiple of b, so the double division is
    exact for |a| < 2^53 — unlike floor(a/b), whose pre-rounded double
    quotient can land on the wrong side of an integer boundary."""
    return ((a - a % b) / b).cast("long")


def _rank(e: DataFrame, restart: DataFrame, iterations: int) -> DataFrame:
    """PageRank rounds with damping 0.85 over an ``_edges`` frame, all
    in integer units: → (node, rank_fp). ``restart`` holds (node,
    seed_fp) for every node, the teleport mass, which is also the
    starting rank."""
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = restart.select("node", F.col("seed_fp").alias("rank_fp"))
    for _ in range(iterations):
        contrib = (
            e.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", _idiv(F.col("rank_fp"), F.col("outdeg")).alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        ranks = restart.join(
            contrib, restart.node == contrib.dst, "left"
        ).select(
            "node",
            (
                _idiv(F.lit(15) * F.col("seed_fp"), F.lit(100))
                + _idiv(F.lit(85) * F.coalesce("contrib", F.lit(0)), F.lit(100))
            ).alias("rank_fp"),
        )
        if iterations > 4:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _walk(
    seeds: DataFrame,
    node: str,
    steps: int,
    pick: Callable[[DataFrame, Column], DataFrame],
) -> DataFrame:
    """Deterministic walks, one per distinct seed: → (walk_id, step,
    node) with step 0 at the seed. At step t the draw is
    md5-hash(walk_id:t:cur), and ``pick(frontier, draw)`` maps the
    frontier (walk_id, cur) to the next one; a walk that ``pick``
    drops (a sink node) stops. Each level is checkpointed because the
    output union reads all of them: lazy levels would recompute level
    t-1 under level t."""
    frontier = seeds.select(
        F.col(node).alias("walk_id"), F.col(node).alias("cur")
    ).distinct()
    out = frontier.select(
        "walk_id", F.lit(0).alias("step"), F.col("cur").alias("node")
    )
    for t in range(1, steps + 1):
        draw = stable_hash64(
            F.concat_ws(":", F.col("walk_id"), F.lit(str(t - 1)), F.col("cur"))
        )
        frontier = pick(frontier, draw).localCheckpoint(eager=True)
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(t).alias("step"), F.col("cur").alias("node")
            )
        )
    return out


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Edge list → (id, component) with component = min node id in the
    connected component (the dedup-cluster label: near-dup detection
    yields pairs, dedup needs clusters). Isolated endpoints of
    self-loops are fine; nodes absent from the edge list are absent
    from the output (join the full vertex set afterwards if singletons
    need labels).

    Min-label propagation with pointer jumping: each round every node
    adopts the minimum label in its neighborhood, then follows its
    label one hop. One join + one aggregation on the edge list per
    round; the loop stops at the first round that changes no label."""
    sym = _undirected(edges, src, dst)
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        changed = Observation()
        neighbor_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        prop = (
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("_changed"),
            )
        )
        # pointer jumping (shortcutting): follow the label one hop —
        # component := label(component). Plain propagation needs
        # diameter rounds; with the shortcut label chains halve each
        # round (log diameter), and every round saved is a join + agg
        # + checkpoint job. The fixpoint (min id per component) is
        # unchanged — this only accelerates convergence.
        parent = prop.select(
            F.col("id").alias("p_id"), F.col("component").alias("p_comp")
        )
        updated = (
            prop.join(parent, prop.component == parent.p_id, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("p_comp"), F.col("component")),
                ).alias("component"),
                (
                    F.col("_changed")
                    | (F.col("p_comp") < F.col("component"))
                ).alias("_changed"),
            )
            .observe(changed, F.sum(F.col("_changed").cast("int")).alias("n"))
            .select("id", "component")
        )
        labels = updated.localCheckpoint(eager=True)
        if not changed.get["n"]:
            break
    return labels


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Multi-source breadth-first reach: → (node, hops) with hops =
    the MINIMUM number of directed edges from any source node, for
    every node within ``max_hops``. Sources themselves report hops=0;
    unreachable nodes are absent.

    Frontier expansion, not path enumeration: each round joins the
    CURRENT frontier (nodes first discovered last round) to the edge
    list, then anti-joins the visited set — so per-round work is
    O(edges out of the frontier) and the state is one row per visited
    node, never one row per path. That anti-join is what makes a
    fixed-round BFS safe on dense graphs where the path count is
    exponential. Oracle equivalence: a recursive CTE with UNION
    (distinct) semantics and a depth guard computes the same minimum.

    Scale shape per round: one equi-join frontier⋈edges + one distinct
    + one anti-join against visited. The frontier is usually ≪ the
    edge list, so AQE broadcasts it; visited is checkpointed each
    round to keep lineage flat at large ``max_hops``.
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    visited = (
        sources.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("node")
    for depth in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop
    nodes with (undirected, deduplicated) degree < k until stable —
    the standard density filter before community detection or as a
    spam/bot subgraph extractor. → (node, degree) for the surviving
    core, with degree counted WITHIN the core.

    Fixed ``rounds`` cap for engine-exact parity (the SQL oracle
    unrolls exactly ``rounds`` peels); the loop exits early when a
    round removes nothing, which leaves the result identical to the
    fully-unrolled form because peeling is monotone — once stable,
    further rounds are no-ops on both engines.

    Scale shape per round: one degree aggregation + two semi-joins of
    the live edge list against the survivor set (equi-joins, AQE
    broadcasts the survivor list once it shrinks).
    """
    cur = _undirected(edges, src, dst).filter(F.col("a") != F.col("b"))
    prev_edges = None
    for _ in range(rounds):
        seen = Observation()
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= k).select("a")
        cur = (
            cur.join(keep, "a", "left_semi")
            .join(
                keep.select(F.col("a").alias("b")), "b", "left_semi"
            )
            .observe(seen, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        # the checkpoint job counts its own rows; an unchanged edge
        # count means no endpoint was peeled (peeling is monotone), so
        # the fixpoint is reached. The first round has nothing to
        # compare with: a count of the input would be a job of its own
        n_edges = seen.get["n"]
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    return (
        cur.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
    )


def k_core_sql(edges_cte: str, k: int, rounds: int = 8) -> str:
    """The identical peeling as one unrolled SQL statement for the
    DuckDB oracle. ``edges_cte`` must produce directed (src, dst);
    symmetrization/dedup happens here, mirroring ``k_core``."""
    # MATERIALIZED: each e{r} references e{r-1} three times (directly
    # + twice through k{r}); inlining would expand the plan 3^rounds
    sql = f"""
WITH fwd AS ({edges_cte}),
e0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM fwd WHERE src <> dst
       UNION SELECT dst, src FROM fwd WHERE src <> dst)"""
    prev = "e0"
    for r in range(1, rounds + 1):
        sql += f""",
k{r} AS MATERIALIZED (
  SELECT a FROM (SELECT a, COUNT(*) AS c FROM {prev} GROUP BY a)
  WHERE c >= {k}),
e{r} AS MATERIALIZED (SELECT e.a, e.b FROM {prev} e
         JOIN k{r} x ON e.a = x.a JOIN k{r} y ON e.b = y.a)"""
        prev = f"e{r}"
    return sql + f"""
SELECT a AS node, COUNT(*) AS degree FROM {prev}
GROUP BY a HAVING COUNT(*) >= {k}"""


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-point PageRank with damping 0.85: → (node, rank_fp) where
    rank_fp is the rank in units of 1/``scale``.

    ALL arithmetic is integer (ranks are scaled longs; shares are floor
    divisions), so a fixed iteration count yields bit-identical results
    on every engine and partition order — the property that lets an SQL
    oracle (unrolled iterations) hash-match a distributed run. Dangling
    nodes leak mass (standard simplification).

    Scale shape per iteration: one join edge⋈rank (broadcastable when
    the rank table is small; hash otherwise) + one aggregation keyed by
    dst + one left join back to the node set — at 1000 executors the
    cost per round is two shuffles of the edge list. This is
    :func:`personalized_pagerank` with every node a seed.
    """
    e = _edges(edges, src, dst)
    nodes = _nodes(e)
    restart = nodes.withColumn(
        "seed_fp", F.lit(scale // nodes.count()).cast("long")
    )
    return _rank(e, restart, iterations)


def pagerank_sql(
    edges_cte: str, iterations: int = 3, scale: int = 10**12
) -> str:
    """The identical fixed-point iteration as one SQL statement
    (unrolled CTEs) for the DuckDB oracle. ``edges_cte`` must be a SQL
    body producing columns (src, dst), already DISTINCT."""
    sql = f"""
WITH edges AS ({edges_cte}),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
params AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, {scale} // (SELECT n FROM params) AS rank_fp FROM nodes)"""
    prev = "r0"
    for i in range(1, iterations + 1):
        sql += f""",
c{i} AS (
  SELECT e.dst AS node, SUM(r.rank_fp // d.outdeg) AS contrib
  FROM edges e JOIN deg d ON e.src = d.src
  JOIN {prev} r ON e.src = r.node
  GROUP BY e.dst),
r{i} AS (
  SELECT nodes.node,
         15 * ({scale} // (SELECT n FROM params)) // 100
         + 85 * COALESCE(c{i}.contrib, 0) // 100 AS rank_fp
  FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node)"""
        prev = f"r{i}"
    return sql + f"\nSELECT node, CAST(rank_fp AS BIGINT) AS rank_fp FROM {prev}"


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → (id, cluster, is_canonical). With ``all_ids``
    given, singleton documents get their own cluster label, making the
    output a total dedup assignment: keep rows where is_canonical."""
    comp = connected_components(pairs, src, dst)
    if all_ids is not None:
        ids = all_ids.select(F.col(id_col).alias("id")).distinct()
        comp = (
            ids.join(comp, "id", "left")
            .select(
                "id", F.coalesce("component", F.col("id")).alias("component")
            )
        )
    return comp.select(
        F.col("id"),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def triangle_listing(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """All triangles (a < b < c) in an undirected edge list.

    Classic two-join listing with the degree-orientation bound: edges
    are oriented from the lexically smaller to larger endpoint, so each
    triangle is emitted exactly once and the wedge join's intermediate
    size is Σ deg_out² — the canonical O(m^1.5) bound when edges are
    additionally oriented low-degree → high-degree (done here via the
    (degree, id) order), instead of Σ deg² for naive orientation.
    Two shuffle joins; no iteration.
    """
    und = _undirected(edges, src, dst).filter(F.col("a") != F.col("b"))
    return _triangles(und)


def _triangles(und: DataFrame) -> DataFrame:
    """Triangle listing over an ``_undirected`` frame without
    self-loops → (v1, v2, v3)."""
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # orient edge a->b iff (deg_a, a) < (deg_b, b): every vertex's
    # out-degree is bounded by O(sqrt(m))
    ranked = (
        und.join(deg.withColumnRenamed("a", "__x").withColumnRenamed("deg", "deg_a"), F.col("a") == F.col("__x"))
        .drop("__x")
        .join(deg.withColumnRenamed("a", "__y").withColumnRenamed("deg", "deg_b"), F.col("b") == F.col("__y"))
        .drop("__y")
    )
    # consumed by both wedge sides: materialize
    oriented = (
        ranked.filter(
            (F.col("deg_a") < F.col("deg_b"))
            | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
        .localCheckpoint(eager=False)
    )
    w2 = oriented.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    wedges = oriented.join(w2, F.col("b") == F.col("b2")).select("a", "b", "c")
    # the closing edge a-c has either orientation: match it in und,
    # which holds both
    closing = und.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = wedges.join(
        closing,
        (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        "left_semi",
    )
    return tri.select(
        F.least("a", "b", "c").alias("v1"),
        F.expr(
            "array_sort(array(a, b, c))[1]"
        ).alias("v2"),
        F.greatest("a", "b", "c").alias("v3"),
    )


def triangle_count_per_vertex(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(vertex, n_triangles) — explode each listed triangle to its
    three corners and count. Clustering-coefficient numerator.

    Corners come from ONE ``explode(array(v1, v2, v3))`` pass over the
    listing, not a three-branch union — a union's branches are
    independent subtrees, so the wedge join + closing semi-join would
    re-execute once per corner."""
    tri = triangle_listing(edges, src, dst)
    return _corner_counts(tri)


def _corner_counts(tri: DataFrame) -> DataFrame:
    corners = tri.select(
        F.explode(F.array("v1", "v2", "v3")).alias("vertex")
    )
    return corners.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def cluster_representatives(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Dedup POLICY layer: connected components over near-dup pairs,
    then keep the best-quality member of each cluster (highest
    ``score_col``, ties to the lowest id) — what a pretraining
    pipeline actually ships after near-dup detection, instead of the
    arbitrary lowest-id canonical.

    ``quality`` must carry one row per document (``id_col``,
    ``score_col``); every id in ``pairs`` must appear. Documents
    absent from ``pairs`` are singleton clusters and their own
    representative.

    Output: (cluster, rep_id, rep_score, cluster_size).

    Scale shape: components via :func:`connected_components`; the
    representative choice is ONE hash
    aggregation with an argmax encoded as ``min(struct(-score, id))``
    — no window, no per-cluster sort. The negation sits on the
    (numeric) score, not the id, so ANY orderable id type works — a
    string doc id under the old ``max(struct(score, -id))`` form was
    implicitly cast to double by the unary minus, nulling the
    tie-break (ADVICE r03). Integer scores keep the argmax
    engine-exact (float scores: quantize first, ROUND_NOTES #10).
    """
    comp = connected_components(pairs, src, dst)
    ids = quality.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("score")
    )
    total = ids.join(comp, "id", "left").select(
        "id", "score", F.coalesce("component", F.col("id")).alias("cluster")
    )
    # NULL scores must LOSE the argmax (structs compare NULL-first
    # under min, which would crown the unscored document): a leading
    # is-null flag sends them behind every scored member; an all-null
    # cluster still gets a representative (lowest id, null score).
    best = F.min(
        F.struct(
            F.col("score").isNull().cast("int").alias("unscored"),
            (-F.col("score")).alias("nscore"),
            F.col("id"),
        )
    ).alias("m")
    return (
        total.groupBy("cluster")
        .agg(best, F.count(F.lit(1)).alias("cluster_size"))
        .select(
            "cluster",
            F.col("m.id").alias("rep_id"),
            (-F.col("m.nscore")).alias("rep_score"),
            "cluster_size",
        )
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), made deterministic: each round every vertex adopts the
    most frequent label among its neighbors, ties broken to the
    SMALLEST label; isolated vertices keep their label. A FIXED round
    count (not convergence) keeps the result engine-replayable — the
    oracle unrolls the same rounds as CTEs, like the PageRank fit.

    Returns (id, community) after ``rounds`` synchronized updates
    from community = own id.

    Scale shape per round: one join edges⋈labels + two hash
    aggregations ((vertex, label) counts, then per-vertex argmax via
    min(struct(-count, label)) — no window). State = one label per
    vertex."""
    sym = _undirected(edges, src, dst)
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("community", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        nbr = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a"), F.col("community"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = nbr.groupBy("a").agg(
            F.min(
                F.struct((-F.col("cnt")).alias("ncnt"), F.col("community"))
            ).alias("m")
        )
        labels = (
            labels.join(best, labels.id == best.a, "left")
            .select(
                "id",
                F.coalesce(F.col("m.community"), F.col("community")).alias(
                    "community"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return labels


def label_propagation_sql(edges_cte: str, rounds: int = 3) -> str:
    """The identical synchronized LPA as unrolled CTEs for the DuckDB
    oracle. ``edges_cte`` must produce DISTINCT (src, dst)."""
    sql = f"""
WITH e AS ({edges_cte}),
sym AS (SELECT src AS a, dst AS b FROM e
        UNION SELECT dst AS a, src AS b FROM e),
verts AS (SELECT DISTINCT a AS id FROM sym),
l0 AS (SELECT id, id AS community FROM verts)"""
    prev = "l0"
    for r in range(1, rounds + 1):
        sql += f""",
n{r} AS (SELECT sym.a, l.community, COUNT(*) AS cnt
         FROM sym JOIN {prev} l ON sym.b = l.id
         GROUP BY sym.a, l.community),
b{r} AS (SELECT a, community FROM (
           SELECT a, community,
                  ROW_NUMBER() OVER (PARTITION BY a
                                     ORDER BY cnt DESC, community ASC)
                    AS rn
           FROM n{r}) WHERE rn = 1),
l{r} AS (SELECT verts.id,
                COALESCE(b{r}.community, l.community) AS community
         FROM verts JOIN {prev} l ON verts.id = l.id
         LEFT JOIN b{r} ON verts.id = b{r}.a)"""
        prev = f"l{r}"
    return sql + f"\nSELECT id, community FROM {prev}"


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
) -> DataFrame:
    """Weighted multi-source shortest paths: → (node, dist) with dist
    = the minimum total edge weight from any source over paths of at
    most ``rounds`` edges. Integer weights make every distance exact,
    so a fixed round count is bit-identical to the oracle's unrolled
    Bellman-Ford CTEs (graph parity pattern of pagerank/k_core).

    Synchronous Bellman-Ford relaxation: each round extends the
    current tentative-distance table through every edge and folds the
    candidates back with one min-aggregation — per-round cost is one
    equi-join dist⋈edges (AQE broadcasts dist while it is small) plus
    one hash agg keyed by node; state is one row per reached node,
    never per path. Relaxation is monotone non-increasing, so an
    early exit at the fixpoint leaves the result identical to the
    fully-unrolled form. Negative weights are rejected: with them a
    truncated Bellman-Ford is not a shortest-path answer.

    100 TB shape: dist and the frontier delta are node-sized (≪ edge
    list); each round shuffles the edge list once on src. For huge
    diameters prefer delta-stepping on a cluster, but bounded-hop
    reach (this form) is the common production ask.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    if e.filter(F.col("w") < 0).limit(1).count() > 0:
        raise ValueError("sssp requires non-negative integer weights")
    start = (
        sources.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )

    def extend(dist: DataFrame) -> DataFrame:
        return dist.join(e, dist.node == e.src).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )

    return _relax(start, extend, rounds)


def sssp_sql(edges_cte: str, sources_cte: str, rounds: int = 4) -> str:
    """The identical relaxation as unrolled MATERIALIZED CTEs for the
    DuckDB oracle. ``edges_cte`` → (src, dst, w); ``sources_cte`` →
    (node)."""
    sql = f"""
WITH edges AS MATERIALIZED ({edges_cte}),
d0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist
                    FROM ({sources_cte}))"""
    prev = "d0"
    for r in range(1, rounds + 1):
        sql += f""",
d{r} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM {prev} d JOIN edges e ON d.node = e.src)
  GROUP BY node)"""
        prev = f"d{r}"
    return sql + f"\nSELECT node, CAST(dist AS BIGINT) AS dist FROM {prev}"


def hits(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities, UNNORMALIZED integer iterates:
    → (node, hub, auth) after ``rounds`` mutual-reinforcement rounds
    from h₀ = 1 (auth(v) = Σ_{u→v} hub(u); hub(u) = Σ_{u→v} auth(v)).

    Dropping the usual L2 normalization keeps every iterate an exact
    int64 — the RANKING is identical (normalization is a positive
    scalar per round) and exactness is what lets the oracle's unrolled
    CTEs hash-match. Iterates grow like (max_indeg·max_outdeg)^rounds:
    with the default 2 rounds this stays far inside int64 for degree
    sums up to ~1e4 per node (Spark 4 ANSI mode throws on overflow
    rather than wrapping, so a violation is loud, not silent).

    Per round: two edge-list shuffles (agg by dst, then by src) — the
    same shape as one PageRank iteration; no windows, no collects.
    """
    if rounds < 1:
        raise ValueError(
            f"hits() needs rounds >= 1 (auth is only defined after a "
            f"round), got {rounds}"
        )
    e = _edges(edges, src, dst)
    nodes = _nodes(e)
    hub = nodes.withColumn("hub", F.lit(1).cast("long"))
    auth = None
    for _ in range(rounds):
        auth = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth"))
        )
        hub = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).alias("hub"),
            F.coalesce("auth", F.lit(0)).alias("auth"),
        )
    )


def hits_sql(edges_cte: str, rounds: int = 2) -> str:
    """Unrolled-CTE twin of :func:`hits` for the DuckDB oracle."""
    sql = f"""
WITH edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_cte})),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes)"""
    prev_h = "h0"
    r = 0
    for r in range(1, rounds + 1):
        sql += f""",
a{r} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM(h.hub) AS BIGINT) AS auth
  FROM edges e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst),
h{r} AS MATERIALIZED (
  SELECT e.src AS node, CAST(SUM(a.auth) AS BIGINT) AS hub
  FROM edges e JOIN a{r} a ON e.dst = a.node GROUP BY e.src)"""
        prev_h = f"h{r}"
    return sql + f"""
SELECT nodes.node, COALESCE(h{r}.hub, 0) AS hub,
       COALESCE(a{r}.auth, 0) AS auth
FROM nodes LEFT JOIN h{r} ON nodes.node = h{r}.node
LEFT JOIN a{r} ON nodes.node = a{r}.node"""


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 10_000,
    w_scale: int = 10**6,
) -> DataFrame:
    """Common-neighbor link prediction with Adamic-Adar weighting:
    → (node_a, node_b, n_common, aa_q) for unordered left-node pairs
    sharing ≥1 right-node neighbor, aa_q = Σ_shared floor(w_scale /
    ln(deg(n)) + 0.5) — shared neighbors weighted inversely by how
    promiscuous they are.

    Scale shape: the pair generation is a self-equi-join of the edge
    list on the shared-neighbor side — fan-out deg² per neighbor, so
    hubs above ``max_degree`` are dropped BEFORE the join (standard
    AA practice: a hub's weight 1/ln(deg) is negligible and its deg²
    pairs are the entire cost; the cap turns a quadratic blow-up into
    a documented, tunable bound). Degree-1 neighbors form no pairs
    and are dropped too. Per-neighbor weights are quantized to int64
    BEFORE the pair sum, so aa_q is order-independent; ln over exact
    small ints is libm-stable across engines (playbook #9).
    """
    # the distinct edge list feeds THREE consumers (the degree table
    # and both sides of the pair self-join) — materialize it once, or
    # Catalyst re-evaluates the upstream corpus join/distinct per
    # consumer (VERDICT r09 #4: 3 extra corpus passes at any scale)
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("n"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    wq = F.floor(
        F.lit(float(w_scale)) / F.log(F.col("deg").cast("double")) + F.lit(0.5)
    ).cast("long")
    keep = deg.where(
        (F.col("deg") >= 2) & (F.col("deg") <= max_degree)
    ).select("n", wq.alias("wq"))
    ej = e.join(keep, "n")
    l, r = ej.alias("l"), ej.alias("r")
    return (
        l.join(r, "n")
        .where(F.col("l.a") < F.col("r.a"))
        .groupBy(
            F.col("l.a").alias("node_a"), F.col("r.a").alias("node_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.col("l.wq")).alias("aa_q"),
        )
    )


def adamic_adar_sql(edges_cte: str, w_scale: int = 10**6) -> str:
    """DuckDB twin of :func:`adamic_adar` (no degree cap applied —
    callers must pass a cap larger than any oracle-corpus degree, or
    mirror the filter in ``edges_cte``)."""
    return f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src AS a, dst AS n
                        FROM ({edges_cte})),
keep AS MATERIALIZED (
  SELECT n, CAST(FLOOR({float(w_scale)}
                       / ln(CAST(COUNT(*) AS DOUBLE)) + 0.5) AS BIGINT) AS wq
  FROM e GROUP BY n HAVING COUNT(*) >= 2)
SELECT l.a AS node_a, r.a AS node_b,
       CAST(COUNT(*) AS BIGINT) AS n_common,
       CAST(SUM(l.wq) AS BIGINT) AS aa_q
FROM (SELECT e.a, e.n, keep.wq FROM e JOIN keep USING (n)) l
JOIN (SELECT e.a, e.n FROM e JOIN keep USING (n)) r
  ON l.n = r.n AND l.a < r.a
GROUP BY l.a, r.a"""


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = 3,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Deterministic graph random walks (the node2vec/DeepWalk input
    generator): → (walk_id, step, node) with step 0 at the seed. The
    "random" next hop from node u at step t of walk w is the
    neighbor whose per-source rank equals md5-hash(w:t:u) mod
    outdeg(u) — a fixed universal-hash draw, so walks are exactly
    reproducible, shard-independent, and cross-engine oracle-able
    (the usual trade for hash-seeded sampling in this repo; swap the
    hash for a seeded RNG when statistical independence across steps
    matters more than replayability).

    Per step: one equi-join of the frontier (one row per live walk)
    against the ranked adjacency list on (node, rank) — never a
    fan-out join. Adjacency ranks come from one per-source window
    (sorts inside the source's neighbor list only). Walks ending at
    a sink node stop. Frontier size ≤ #walks throughout; the edge
    list shuffles once per step on the join key.
    """
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).distinct()
    wn = Window.partitionBy("u").orderBy("v")
    nbrs = e.select(
        "u", "v", (F.row_number().over(wn) - 1).alias("rk")
    ).localCheckpoint(eager=True)
    deg = nbrs.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))

    def pick(frontier: DataFrame, draw: Column) -> DataFrame:
        return (
            frontier.join(deg, frontier.cur == deg.u)
            .select(
                "walk_id", "cur", (draw % F.col("outdeg")).alias("pick")
            )
            .join(
                nbrs,
                (F.col("cur") == nbrs.u) & (F.col("pick") == nbrs.rk),
            )
            .select("walk_id", F.col("v").alias("cur"))
        )

    return _walk(seeds, node, steps, pick)


def random_walks_sql(
    edges_cte: str, seeds_cte: str, steps: int = 3
) -> str:
    """Unrolled-CTE twin of :func:`random_walks` for the DuckDB
    oracle (same md5 draw, same per-source neighbor ranks)."""
    sql = f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src AS u, dst AS v
                        FROM ({edges_cte})),
nbrs AS MATERIALIZED (
  SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1 AS rk
  FROM e),
deg AS MATERIALIZED (SELECT u, COUNT(*) AS outdeg FROM nbrs GROUP BY u),
f0 AS (SELECT DISTINCT node AS walk_id, node AS cur
       FROM ({seeds_cte}))"""
    for t in range(1, steps + 1):
        draw = (
            "CAST(concat('0x', substr(md5(concat_ws(':', walk_id, "
            f"'{t - 1}', cur)), 1, 15)) AS BIGINT)"
        )
        sql += f""",
f{t} AS MATERIALIZED (
  SELECT p.walk_id, nbrs.v AS cur
  FROM (SELECT walk_id, cur, {draw} % outdeg AS pick
        FROM f{t - 1} JOIN deg ON cur = deg.u) p
  JOIN nbrs ON p.cur = nbrs.u AND p.pick = nbrs.rk)"""
    selects = [
        f"SELECT walk_id, {t} AS step, cur AS node FROM f{t}"
        for t in range(steps + 1)
    ]
    return sql + "\n" + "\nUNION ALL ".join(selects)


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    out_scale: int = 10**6,
) -> DataFrame:
    """Degree assortativity coefficient (Newman's r) of the
    undirected simple graph: → one row (n_ends, r_q) with r_q =
    round(out_scale · Pearson r over the (deg(u), deg(v)) endpoint
    pairs of every symmetrized edge). r > 0: hubs attach to hubs
    (social nets); r < 0: hubs attach to leaves (bipartite/star
    shapes) — the one-number health check before trusting degree-
    bounded algorithms (adamic_adar's cap, LSH bucket skew).

    Exactness: degrees are exact ints, the five moments accumulate in
    int64 (keep n·Σxy inside int64 — holds to ~10⁹ edge ends of
    ≤ 10⁴ degree), and only the final sqrt/divide is float on exact
    operands (acf_exact's recipe). Symmetrization makes Σx = Σy and
    the estimator orientation-free.

    One edge-list self-describing pass: deg agg, two joins back, one
    moment agg. No windows, no collects.
    """
    sym = _undirected(edges, src, dst)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        sym.join(deg, "a")
        .select(F.col("b").alias("a"), F.col("d").alias("x"))
        .join(deg, "a")
        .select("x", F.col("d").alias("y"))
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    r_q = F.when(
        (vx > 0) & (vy > 0),
        F.floor(
            num / F.sqrt(vx * vy) * F.lit(float(out_scale)) + F.lit(0.5)
        ).cast("long"),
    )
    return m.select(F.col("n").alias("n_ends"), r_q.alias("r_q"))


def weighted_random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
) -> DataFrame:
    """Weight-proportional deterministic walks (the node2vec-grade
    upgrade of :func:`random_walks`): the next hop from u is the
    neighbor whose cumulative-weight interval [cum−w, cum) contains
    hash(walk:step:u) mod strength(u) — i.e. P(v) ∝ w(u,v) under the
    hash-uniform draw, exactly replayable. Parallel edges collapse by
    weight SUM; weights must be positive integers (raise otherwise,
    like sssp).

    Per step: the frontier joins the adjacency list on the node key
    and FILTERS to the interval — per-walk fan-out = outdeg(u) before
    the filter (the uniform variant's rank equi-join can't express a
    weighted pick; at huge out-degrees pre-aggregate weights into
    alias buckets). State stays one row per live walk.
    """
    e = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("long").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    # ONE adjacency table carries interval bounds AND the node
    # strength (window max) — per round that makes the walk a single
    # equi-join + filter; a separate strength table would add a join
    # per round and its own materialization job (measured ~25%)
    wn = Window.partitionBy("u").orderBy("v")
    cum = F.sum("w").over(wn.rowsBetween(Window.unboundedPreceding, 0))
    nbrs = e.select(
        "u",
        "v",
        "w",
        cum.alias("cum_hi"),
        (cum - F.col("w")).alias("cum_lo"),
        F.sum("w").over(Window.partitionBy("u")).alias("strength"),
    ).localCheckpoint(eager=True)
    if nbrs.filter(F.col("w") <= 0).limit(1).count() > 0:
        raise ValueError("weighted_random_walks requires positive weights")

    def pick(frontier: DataFrame, draw: Column) -> DataFrame:
        d = draw % F.col("strength")
        return (
            frontier.join(nbrs, frontier.cur == nbrs.u)
            .where((d >= F.col("cum_lo")) & (d < F.col("cum_hi")))
            .select("walk_id", F.col("v").alias("cur"))
        )

    return _walk(seeds, node, steps, pick)


def weighted_random_walks_sql(
    edges_cte: str, seeds_cte: str, steps: int = 3
) -> str:
    """Unrolled-CTE twin of :func:`weighted_random_walks`."""
    sql = f"""
WITH e AS MATERIALIZED (
  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w
  FROM (SELECT src AS u, dst AS v, w FROM ({edges_cte}))
  GROUP BY u, v),
nbrs AS MATERIALIZED (
  SELECT u, v,
         CAST(SUM(w) OVER (PARTITION BY u ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hi,
         CAST(SUM(w) OVER (PARTITION BY u ORDER BY v
                           ROWS UNBOUNDED PRECEDING) - w AS BIGINT)
           AS cum_lo
  FROM e),
tot AS MATERIALIZED (SELECT u, CAST(MAX(cum_hi) AS BIGINT) AS strength
                     FROM nbrs GROUP BY u),
f0 AS (SELECT DISTINCT node AS walk_id, node AS cur
       FROM ({seeds_cte}))"""
    for t in range(1, steps + 1):
        draw = (
            "CAST(concat('0x', substr(md5(concat_ws(':', walk_id, "
            f"'{t - 1}', cur)), 1, 15)) AS BIGINT)"
        )
        sql += f""",
f{t} AS MATERIALIZED (
  SELECT p.walk_id, nbrs.v AS cur
  FROM (SELECT walk_id, cur, {draw} % strength AS d
        FROM f{t - 1} JOIN tot ON cur = tot.u) p
  JOIN nbrs ON p.cur = nbrs.u
           AND p.d >= nbrs.cum_lo AND p.d < nbrs.cum_hi)"""
    selects = [
        f"SELECT walk_id, {t} AS step, cur AS node FROM f{t}"
        for t in range(steps + 1)
    ]
    return sql + "\n" + "\nUNION ALL ".join(selects)


def nearest_seed(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Graph-Voronoi assignment: every node reachable within
    ``rounds`` hops gets its NEAREST seed (min hops; ties broken by
    seed id asc, so the partition is total and engine-stable):
    → (node, seed, hops). The graph-aware sharding/ownership
    primitive — route each entity to its closest hub — and the
    multi-source labeled generalization of bfs_hops.

    Per round: frontier ⋈ edges + a min-struct agg; state is one row
    per reached node carrying (hops, seed). Monotone (labels only
    ever improve), so early exit at the fixpoint equals the unrolled
    form; the oracle unrolls the same rounds with ARG-MIN by
    (hops, seed).
    """
    e = _edges(edges, src, dst)
    start = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .select(
            "node", F.lit(0).alias("hops"), F.col("node").alias("seed")
        )
    )

    def extend(state: DataFrame) -> DataFrame:
        return state.join(e, state.node == e.src).select(
            F.col("dst").alias("node"),
            (F.col("hops") + 1).alias("hops"),
            "seed",
        )

    return _relax(start, extend, rounds)


def nearest_seed_sql(
    edges_cte: str, seeds_cte: str, rounds: int = 4
) -> str:
    """Unrolled-CTE twin of :func:`nearest_seed` (min-struct ≡ ORDER
    BY (hops, seed) ROW_NUMBER 1)."""
    sql = f"""
WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_cte})),
s0 AS (SELECT DISTINCT node, 0 AS hops, node AS seed
       FROM ({seeds_cte}))"""
    prev = "s0"
    for r in range(1, rounds + 1):
        sql += f""",
s{r} AS MATERIALIZED (
  SELECT node, hops, seed FROM (
    SELECT node, hops, seed,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY hops, seed) AS rk
    FROM (SELECT node, hops, seed FROM {prev}
          UNION ALL
          SELECT e.dst AS node, p.hops + 1 AS hops, p.seed
          FROM {prev} p JOIN e ON p.node = e.src))
  WHERE rk = 1)"""
        prev = f"s{r}"
    return (
        sql
        + f"\nSELECT node, CAST(hops AS BIGINT) AS hops, seed FROM {prev}"
    )


def clustering_coefficients(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Local clustering coefficient per vertex: cc = 2·T(v) /
    (deg(v)·(deg(v)−1)) → (vertex, deg, n_triangles, cc_ppm), the
    "how clique-like is this node's neighborhood" score (community
    cores vs hubs-of-strangers). Vertices of degree < 2 are excluded
    (cc undefined).

    Composes the degree-oriented triangle listing (O(m^1.5) wedge
    bound, see triangle_listing) with one degree agg; the ratio is a
    single integer div on exact counts — cc_ppm = 2·10⁶·T div
    (deg·(deg−1)). One edge frame serves the degree agg and the
    listing."""
    und = _undirected(edges, src, dst).filter(F.col("a") != F.col("b"))
    tri = _corner_counts(_triangles(und))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.where(F.col("deg") >= 2)
        .join(
            tri.withColumnRenamed("vertex", "a"), "a", "left"
        )
        .select(
            F.col("a").alias("vertex"),
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "coalesce(n_triangles, 0) * 2000000"
                " div (deg * (deg - 1))"
            ).alias("cc_ppm"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-point PERSONALIZED PageRank: the restart mass returns to
    the ``seeds`` (column ``node``) instead of the uniform vector, so
    rank_fp measures relevance *to the seed set* — the
    related-items/trust-propagation primitive (recommendations from a
    user's history, expansion of a seed whitelist).

    Same exact-integer discipline as ``pagerank``: scaled-long ranks,
    floor-division shares, fixed iteration count ⇒ bit-identical
    across engines/partitionings; the SQL twin is
    ``personalized_pagerank_sql``. Dangling nodes leak mass
    (documented, as in pagerank). Two shuffles per round; the seed
    mass joins the node set once, before the loop.
    """
    e = _edges(edges, src, dst)
    s = seeds.select(F.col("node")).distinct().localCheckpoint(eager=True)
    seed_mass = s.withColumn(
        "seed_fp", F.lit(scale // s.count()).cast("long")
    )
    restart = (
        _nodes(e)
        .join(seed_mass, "node", "left")
        .select("node", F.coalesce("seed_fp", F.lit(0)).alias("seed_fp"))
        .localCheckpoint(eager=True)
    )
    return _rank(e, restart, iterations)


def personalized_pagerank_sql(
    edges_cte: str,
    seeds_cte: str,
    iterations: int = 3,
    scale: int = 10**12,
) -> str:
    """Unrolled-CTE twin of ``personalized_pagerank`` (DuckDB)."""
    sql = f"""
WITH edges AS ({edges_cte}),
seeds AS (SELECT DISTINCT node FROM ({seeds_cte})),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
sp AS (SELECT COUNT(*) AS ns FROM seeds),
sm AS (SELECT node, {scale} // (SELECT ns FROM sp) AS seed_fp
       FROM seeds),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT nodes.node, COALESCE(sm.seed_fp, 0) AS rank_fp
       FROM nodes LEFT JOIN sm ON nodes.node = sm.node)"""
    prev = "r0"
    for i in range(1, iterations + 1):
        sql += f""",
c{i} AS (
  SELECT e.dst AS node, SUM(r.rank_fp // d.outdeg) AS contrib
  FROM edges e JOIN deg d ON e.src = d.src
  JOIN {prev} r ON e.src = r.node
  GROUP BY e.dst),
r{i} AS (
  SELECT nodes.node,
         15 * COALESCE(sm.seed_fp, 0) // 100
         + 85 * COALESCE(c{i}.contrib, 0) // 100 AS rank_fp
  FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node
  LEFT JOIN sm ON nodes.node = sm.node)"""
        prev = f"r{i}"
    return (
        sql
        + f"\nSELECT node, CAST(rank_fp AS BIGINT) AS rank_fp FROM {prev}"
    )


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    t: str = "t",
) -> DataFrame:
    """Time-respecting earliest arrival from a seed set: a node is
    reached at time τ if some path s→…→node uses edges with
    NON-DECREASING timestamps ending at τ (information/contagion can
    only flow forward in time — plain reachability over the static
    graph badly overcounts). → (node, arrival) for nodes reachable
    within ``rounds`` hops; seeds carry ``arrival`` (their column, or
    0 if absent).

    Relaxation is monotone (min over candidate arrivals), so a fixed
    round count gives the exact ≤rounds-hop earliest arrival on every
    engine — same bounded-round contract as sssp. One edge equi-join
    + one min-agg per round."""
    start = seeds.select(
        F.col("node"),
        (F.col("arrival") if "arrival" in seeds.columns else F.lit(0))
        .cast("long")
        .alias("arrival"),
    ).distinct()
    e = edges.select(
        F.col(src).alias("esrc"),
        F.col(dst).alias("edst"),
        F.col(t).cast("long").alias("et"),
    ).localCheckpoint(eager=True)

    def extend(arr: DataFrame) -> DataFrame:
        return (
            arr.join(e, arr.node == e.esrc)
            .where(F.col("et") >= F.col("arrival"))
            .select(F.col("edst").alias("node"), F.col("et").alias("arrival"))
        )

    return _relax(start, extend, rounds)


def temporal_reachability_sql(
    edges_cte: str,
    seeds_cte: str,
    rounds: int = 4,
    seeds_have_arrival: bool = False,
) -> str:
    """Unrolled twin of ``temporal_reachability``. ``edges_cte`` must
    produce (src, dst, t). Seeds arrive at 0 by default; pass
    ``seeds_have_arrival=True`` when the seed CTE carries an
    ``arrival`` column, mirroring the DataFrame twin (it can't be
    auto-detected from a SQL string — referencing a column the CTE
    lacks would be a binder error)."""
    seed_arrival = (
        "CAST(COALESCE(arrival, 0) AS BIGINT)"
        if seeds_have_arrival
        else "CAST(0 AS BIGINT)"
    )
    sql = f"""
WITH edges AS ({edges_cte}),
a0 AS (SELECT DISTINCT node, {seed_arrival} AS arrival
       FROM ({seeds_cte}))"""
    prev = "a0"
    for i in range(1, rounds + 1):
        sql += f""",
x{i} AS (
  SELECT e.dst AS node, CAST(e.t AS BIGINT) AS arrival
  FROM {prev} a JOIN edges e ON a.node = e.src
  WHERE e.t >= a.arrival
  UNION ALL SELECT node, arrival FROM {prev}),
a{i} AS (SELECT node, MIN(arrival) AS arrival FROM x{i} GROUP BY node)"""
        prev = f"a{i}"
    return sql + f"\nSELECT node, arrival FROM {prev}"
