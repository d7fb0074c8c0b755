"""The 100x scale audit (VERDICT r04 #7 / r05 #3): one gate that walks
EVERY registered query's optimized plan and every source file, and
fails on the four patterns that are correct-at-sf0.1 but fatal at
100 TB:

1. a CartesianProduct / unbounded BroadcastNestedLoopJoin in any
   query plan (per-query whitelist for the documented bounded sides),
2. a forced ``F.broadcast(...)`` hint anywhere in the source that is
   not on the reviewed whitelist (a NEW site fails this test until a
   human adds it WITH a boundedness justification — this is the gate
   that would have caught the setsim.py/basket.py corpus-side hints
   the round-4 verdict flagged),
3. a ``.collect()`` / ``.toPandas()`` / ``.toArrow()`` in the library
   that is not on the reviewed control-plane whitelist (data-plane
   collects are how a distributed operator silently becomes a
   driver-side loop),
4. a Window node with an EMPTY partition spec whose input is not a
   whitelisted bounded frame (the single-task sort that shipped
   woe_bins/sequence_gaps/equidepth_hist in round 5 — now rewritten
   onto ids.global_ntile / the boundary-handoff recipe).

The piecemeal plan-shape tests (test_plan_shapes*.py) assert POSITIVE
shapes (this join IS an equi-join, this scan DOES prune); this file
asserts the NEGATIVE invariants globally, so a new query or a rewrite
of an old one cannot reintroduce a known-fatal pattern unreviewed.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

# ---------------------------------------------------------------------------
# 1. per-query plan walk
# ---------------------------------------------------------------------------

# Streaming-replay queries execute a real transformWithState /
# watermark micro-batch replay at build time and return the
# MATERIALIZED batch results, so the returned DataFrame's plan is an
# ExistingRDD — there is nothing to audit in it. Their scale story is
# bounded per-key state + watermark/TTL (tests/test_streaming*.py).
PLAN_OPAQUE = {
    "events_running_totals",
    "events_topk_stream",
    "events_bucket_stream",
    "events_session_flush",
    "events_dedup_stream",
    "events_watermark",
}

# Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# every entry is a crossJoin against a side that is bounded BY
# CONSTRUCTION (a 1-row aggregate scalar, or an explicitly bounded
# probe/anchor/query-vector frame guarded upstream). Adding a query
# here requires naming the bounded side.
ALLOWED_NESTED_LOOP = {
    "dedup_embedding_cosine": "probe side bounded + guarded (dedup.guard_broadcast_side)",
    "hard_negatives": "anchor side bounded + guarded (similarity.hard_negatives)",
    "similarity_cosine_topk": "query-vector frame (k rows)",
    "mmr_select": "query-vector frame (bounded by contract, like cosine_topk)",
    "retrieval_pipeline": "candidate frame (20 rows by limit) self-join",
    "woe_bins": "bin-totals scalar (1 row) joined for shares",
    "similarity_pq_topk": "query-vector frame (k rows)",
    "spatial_nearest": "centroid table (one row per boundary)",
    "zonal_weighted_spatial": "polygon bounds (one row per boundary)",
    "kmv_set_ops": "exact-distinct scalar (1 row) joined for error column",
    "leakage_safe_split": "global leak-max scalar (1 row)",
    "skew_report": "global total scalar (1 row)",
    "lm_score": "global token-total scalar (1 row)",
    "tpch_q11": "global value-sum scalar (1 row)",
    "tpch_q22": "global avg-balance scalar (1 row)",
    "nb_classify": "class_stats table (one row per label — label vocabulary)",
    "dsir_select": "top-k weight-threshold scalar (1 row)",
    "chi_square": "grand-total and dof scalars (1 row each)",
    "rrf_fusion": "query-vector frame (1 row)",
    "negative_sample": "popularity pool (top-50 TakeOrdered frame)",
    "blocking_eval": "three 1-row count scalars crossed for the report row",
    "bootstrap_ci": "1-row n/point/lo/hi scalars crossed for the report row",
    "mutual_info": "1-row grand-total scalar",
    "colbert_maxsim": "query-token frame (4 rows by limit)",
    "matryoshka_audit": "query-vector frame (1 row) + k-row top-k frames",
    "temporal_split": "1-row user-overlap scalar",
    "growth_accounting": "1-row max-day scalar for the churn horizon",
    "t_closeness": "sensitive-level grid (bounded by the caller's clamp, "
    "docstring contract) + 1-row totals scalar",
    "kaplan_meier": "1-row global max-day scalar for the censoring edge",
    "layout_pruning": "bucket-stats (n_buckets rows) x probe rectangles "
    "(len(probes) rows) — both parameter-bounded",
    "logreg_fit": "1-row beta/moment frames cross-joined per Newton round",
    "logreg_calibration": "1-row beta/moment frames (scoring pass included)",
    "knn_classify": "probe-vector frame (5 rows by filter, via cosine_topk)",
    "ndcg_eval": "10-row top-k frames + 1-row dcg/idcg scalars",
    "logrank_test": "1-row max-day scalar for the censoring edge",
    "rbo_compare": "10-row weight-literal table + 10-row prefix frames",
    "lorenz_deciles": "1-row total-revenue scalar crossed for shares",
    "bucket_plan": "1-row width/total sizing scalars crossed for the "
    "report row (layout.bucket_plan)",
    "label_agreement": "1-row totals + 1-row pe scalar crossed for the "
    "kappa report row (agreement.cohens_kappa)",
    "krippendorff_alpha": "1-row totals/de/n_units scalars crossed for "
    "the alpha report row (agreement.krippendorff_alpha)",
    "corpus_pipeline_v2": "top-k weight-threshold scalar (1 row, via dsir_select)",
    "supplier_rank_tau": "1-row n scalar folded with the quadratic "
    "guard (prefstats.kendall_tau) + 1-row metric crossJoins",
    "preference_cycles": "1-row n_players/edges/triads/cycles scalars "
    "crossed for the report row (prefstats.preference_cycles)",
}


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_every_query_plan_is_cartesian_free_and_nested_loops_are_bounded(
    spark, sf_dir
):
    import __spark_entry__ as m

    failures = []
    for name, fn in m.queries().items():
        if name in PLAN_OPAQUE:
            continue
        plan = _explain(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct (O(n^2) shuffle-less)")
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_NESTED_LOOP:
            failures.append(
                f"{name}: BroadcastNestedLoopJoin with no documented bounded "
                f"side — add to ALLOWED_NESTED_LOOP naming the bounded frame, "
                f"or rewrite as an equi-join"
            )
    assert not failures, "\n".join(failures)


def test_plan_opaque_list_matches_registry(spark):
    """Every PLAN_OPAQUE name must still exist (no stale skips), and
    the streaming family must not silently grow past this list."""
    import __spark_entry__ as m

    names = set(m.queries())
    assert PLAN_OPAQUE <= names, PLAN_OPAQUE - names
    streaming = {n for n in names if n.startswith("events_")}
    unaudited = streaming - PLAN_OPAQUE
    # non-replay events_* queries are ordinary batch plans and MUST
    # pass the plan walk above; only known replay queries may opt out
    for n in unaudited:
        assert n in names  # audited by the walk — nothing to do


# ---------------------------------------------------------------------------
# 2. forced-broadcast source gate
# ---------------------------------------------------------------------------

# Reviewed F.broadcast sites, file -> (count, boundedness justification).
# The hint is ONLY acceptable when the side is bounded INDEPENDENT of
# corpus size. Corpus-derived tables (vocabularies, per-doc sizes,
# per-item supports) must NOT be hinted — AQE broadcasts them while
# small and shuffles when they are not (setsim.py/basket.py/dedup.py/
# text.py all had this class removed in rounds 3-4; their counts here
# pin the cleaned state).
BROADCAST_WHITELIST = {
    "det_module_spark/operators/decontaminate.py": (
        1,
        "benchmark shingle vocabulary: benchmark suite is fixed-size "
        "by contract (the flagged-id anti-join side is corpus-derived "
        "and deliberately un-hinted)",
    ),
    "det_module_spark/operators/dedup.py": (
        1,
        "probe frame: bounded by guard_broadcast_side (<=500k rows)",
    ),
    "det_module_spark/operators/cms.py": (
        1,
        "CMS sketch: depth x width rows, corpus-independent",
    ),
    "det_module_spark/operators/importance.py": (
        1,
        "dsir_select threshold: 1-row scalar (min of a TakeOrdered top-k)",
    ),
    "det_module_spark/operators/geometry.py": (
        2,
        "polygon edge table: one row per boundary edge, boundary sets are small dims",
    ),
    "det_module_spark/operators/text.py": (
        2,
        "per-group totals / 1-row corpus total: group-count-sized scalars",
    ),
    "det_module_spark/operators/rangejoin.py": (
        1,
        "ranges side, always broadcast: the range table is a small dim "
        "exploded to the bins each range overlaps",
    ),
    "det_module_spark/operators/quality.py": (
        4,
        "dictionary: distinct-value-sized, dict_encode contract is low "
        "cardinality; chi_square grand-total and dof frames + "
        "mutual_information grand total: 1 row each",
    ),
    "det_module_spark/operators/similarity.py": (
        8,
        "query/anchor vectors (k rows, guarded) + IVF/PQ codebooks (fixed "
        "size) + maxsim query-token frame (bounded by contract) + "
        "matryoshka 1-row query vector",
    ),
    "det_module_spark/operators/mmr.py": (
        1,
        "query-vector frame: bounded by contract (same as cosine_topk)",
    ),
    "det_module_spark/operators/spatial.py": (
        3,
        "boundary bucket tables: one row per (boundary, bucket), boundaries are dims",
    ),
    "det_module_spark/operators/anomaly.py": (
        1,
        "seasonal baseline: one row per (key, hour-of-week) bucket",
    ),
    "det_module_spark/operators/prefstats.py": (
        2,
        "kendall_tau guard frame + preference_cycles n_players frame: "
        "1-row aggregate scalars each (same class as the quality.py "
        "grand-total sites)",
    ),
    "det_module_spark/operators/agreement.py": (
        1,
        "weighted_consensus per-rater accuracy table: one row per "
        "rater, raters are a bounded dim (same class as text.py "
        "per-group totals)",
    ),
    "det_module_spark/operators/evalstats.py": (
        1,
        "item_discrimination ability table: one row per model, models "
        "are a bounded dim (same class as agreement.py's per-rater "
        "accuracy table)",
    ),
    "det_module_spark/operators/survival.py": (
        2,
        "kaplan_meier/logrank global max-day: 1-row aggregate scalars",
    ),
    "det_module_spark/operators/layout.py": (
        1,
        "layout_pruning_eval probe rectangles: len(probes) literal rows, "
        "parameter-bounded",
    ),
    "det_module_spark/operators/privacy.py": (
        3,
        "t_closeness level grid: bounded by the caller's clamp on the "
        "sensitive attribute (docstring contract, entry query clamps to "
        "<=21 levels) + 1-row totals scalar",
    ),
    "det_module_spark/operators/sampling.py": (
        1,
        "negative_sample popularity pool: top-pool_size TakeOrdered frame, "
        "corpus-independent bound",
    ),
    "__spark_entry__.py": (
        43,
        "TPC-H dims (nation/region/part/supp at their spec'd scale ratios) "
        "+ 1-row scalar aggregates (totals, maxima, batch-boundary "
        "constants, the rrf_fusion query vector, the temporal_split "
        "overlap and growth_accounting max-day scalars)",
    ),
}

_BROADCAST_RE = re.compile(r"F\.broadcast\(")


def _source_files():
    yield REPO / "__spark_entry__.py"
    for p in sorted((REPO / "det_module_spark").rglob("*.py")):
        yield p


def test_forced_broadcast_sites_are_whitelisted():
    found: dict[str, int] = {}
    for path in _source_files():
        n = len(_BROADCAST_RE.findall(path.read_text()))
        if n:
            found[str(path.relative_to(REPO))] = n
    expected = {f: c for f, (c, _why) in BROADCAST_WHITELIST.items()}
    assert found == expected, (
        "forced-broadcast sites changed. A F.broadcast() hint is an "
        "executor OOM at 100 TB unless the side is bounded independent "
        "of corpus size — review each new/moved site and update "
        f"BROADCAST_WHITELIST with a justification.\nfound={found}\n"
        f"expected={expected}"
    )


def test_verdict_named_files_stay_hint_free():
    """setsim.py and basket.py had corpus-derived broadcast hints
    removed in round 5 (VERDICT r04 'What's wrong' #1/#2); pin zero."""
    for rel in (
        "det_module_spark/operators/setsim.py",
        "det_module_spark/operators/basket.py",
    ):
        text = (REPO / rel).read_text()
        assert not _BROADCAST_RE.search(text), f"{rel} regained a broadcast hint"


# ---------------------------------------------------------------------------
# 3. driver-side collect gate
# ---------------------------------------------------------------------------

# Reviewed .collect()/.toPandas()/.toArrow() sites, file -> (count,
# what makes it control-plane). Control-plane = the collected frame's
# row count is bounded by a parameter/structure (k, #partitions, vocab
# budget, manifest size, boundary features), never by the corpus.
COLLECT_WHITELIST = {
    "det_module_spark/operators/bloom.py": (
        1,
        "aggregated bloom bitmap: fixed m bits, one row",
    ),
    "det_module_spark/operators/glm.py": (
        1,
        "one 1-row moment aggregate per Newton round (<= rounds rows "
        "total) — the driver-side beta advance that keeps the fit at "
        "K scans instead of the unrolled plan's exponential re-scan",
    ),
    "det_module_spark/operators/bpe.py": (
        1,
        "one winning merge pair per fit round, <= vocab_size rounds",
    ),
    "det_module_spark/operators/cms.py": (
        1,
        "top-k heavy-hitter candidates: k rows",
    ),
    "det_module_spark/operators/ids.py": (
        1,
        "ordered_scan's per-partition summary (row count plus the "
        "caller's aggregates), the one collect behind dense_ids, "
        "global_ntile, global_cumsum, pack_sequences, skyline and "
        "sequence_gaps: #partitions rows",
    ),
    "det_module_spark/sources/vector.py": (
        1,
        "read_geojson_boundaries per-file asdf_id offsets: one row "
        "per input FILE (boundary sets are small dims; read once at "
        "source open)",
    ),
    "det_module_spark/operators/similarity.py": (
        2,
        "IVF/PQ codebook fit samples: orderBy().limit(sample) bounded + deterministic",
    ),
    "det_module_spark/operators/text.py": (
        3,
        "1-row corpus scalars (token total; bm25 N+T pair; bigram_pmi N)",
    ),
    "det_module_spark/operators/importance.py": (
        1,
        "1-row model scalars (joint V + per-model token totals)",
    ),
    "det_module_spark/sources/tables.py": (
        2,
        "spill-aware sink sizing: two 1-row aggregates (row-width "
        "estimate; per-bucket max/mean) — control plane, never data",
    ),
    # the manifest log is replayed with pyarrow on the driver, never
    # scanned by a Spark job; cache.py's one site collects a result
    "det_module_spark/plans/cache.py": (
        1,
        "put_many's toArrow of a DataFrame result: one row per boundary "
        "feature (an extract) or per cell of an MSR grid",
    ),
    "det_module_spark/plans/runner.py": (
        3,
        "the engine's toArrow of each missing result: a two-phase or a "
        "fused extract (one row per boundary feature) and an MSR surface "
        "(one row per grid cell)",
    ),
    "det_module_spark/streaming/cache_sink.py": (
        1,
        "toArrow of one micro-batch of extract results: one row per "
        "boundary feature per spec hash in the batch",
    ),
    # optimization r10: replay.py's sink-table collect() was REMOVED —
    # results now hand off via a columnar parquet spill + rescan, no
    # driver row roundtrip — so it no longer appears here.
}

_COLLECT_RE = re.compile(
    r"\.collect\(\)|\.toPandas\(\)|\.toArrow\(\)|\.collectAsMap\("
)


def test_library_collect_sites_are_whitelisted():
    found: dict[str, int] = {}
    for path in sorted((REPO / "det_module_spark").rglob("*.py")):
        n = len(_COLLECT_RE.findall(path.read_text()))
        if n:
            found[str(path.relative_to(REPO))] = n
    expected = {f: c for f, (c, _why) in COLLECT_WHITELIST.items()}
    assert found == expected, (
        "library collect/toPandas/toArrow sites changed. A data-plane collect "
        "turns a distributed operator into a driver loop — review each "
        f"new site and update COLLECT_WHITELIST.\nfound={found}\n"
        f"expected={expected}"
    )


# ---------------------------------------------------------------------------
# 4. unpartitioned-window gate (VERDICT r05 #3)
# ---------------------------------------------------------------------------

# A Window with an EMPTY partition spec moves its whole input to ONE
# task ("WindowExec: No Partition Defined") — the scale-killer class
# that shipped woe_bins/sequence_gaps/equidepth_hist in round 5. It is
# only acceptable over a frame already bounded by aggregation or a
# limit. Every entry names the bounded input; a NEW unpartitioned
# window anywhere else fails this gate until reviewed here — or better,
# rewritten with ids.global_ntile / ids.dense_ids / a TakeOrdered.
ALLOWED_GLOBAL_WINDOW = {
    "benford_audit": "first-digit histogram: 9 rows post-agg",
    "ndcg_eval": "top-10 ranked frames + 1-row dcg/idcg scalars",
    "rbo_compare": "two top-10 prefix frames",
    "rrf_fusion": "two top-k candidate rank frames (limit upstream)",
    # retrieval_pipeline's 20-row rank window now executes inside the
    # eager candidate-frame checkpoint, so it no longer appears in the
    # returned plan (still bounded by the upstream limit)
    "bootstrap_ci": "B=40 bootstrap-replicate rows post map-side fold",
    "logrank_test": "per-distinct-day risk table (post-agg, day-bounded)",
    "psi_drift": "per-bin histogram join: range/bin_width rows, "
    "data-size-independent",
    "distinctive_terms": "per-(source, term) aggregate: vocab-sized, "
    "orders of magnitude below corpus",
    "dict_encode": "dictionary frame: distinct-value-sized by the "
    "low-cardinality contract",
}


def _unpartitioned_window_nodes(df) -> list[str]:
    out: list[str] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls in ("Window", "WindowGroupLimit") and node.partitionSpec().isEmpty():
            out.append(node.toString().splitlines()[0][:160])
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def test_unpartitioned_windows_are_whitelisted_bounded_frames(spark, sf_dir):
    import __spark_entry__ as m

    found: dict[str, int] = {}
    details: dict[str, list[str]] = {}
    for name, fn in m.queries().items():
        if name in PLAN_OPAQUE:
            continue
        nodes = _unpartitioned_window_nodes(fn(spark, sf_dir))
        if nodes:
            found[name] = len(nodes)
            details[name] = nodes
    unexpected = {n: details[n] for n in found if n not in ALLOWED_GLOBAL_WINDOW}
    stale = set(ALLOWED_GLOBAL_WINDOW) - set(found)
    assert not unexpected, (
        "unpartitioned (single-task) Window in a query plan — bound the "
        "input or rewrite with ids.global_ntile / dense_ids / "
        f"TakeOrdered:\n{unexpected}"
    )
    assert not stale, (
        f"ALLOWED_GLOBAL_WINDOW entries no longer observed (stale): {stale}"
    )


@pytest.mark.parametrize("pattern", [r"\.rdd\b", r"mapPartitions\("])
def test_no_rdd_fallbacks_outside_known_sites(pattern):
    """The engine is DataFrame-first: raw RDD access in an operator is
    a mistake."""
    rx = re.compile(pattern)
    offenders = []
    for path in sorted((REPO / "det_module_spark" / "operators").rglob("*.py")):
        if rx.search(path.read_text()):
            offenders.append(str(path.relative_to(REPO)))
    assert not offenders, f"raw RDD usage in operators: {offenders}"
